package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — SCALE.md's claims, enforced.
  * A perf-critical plan property (broadcast dims, top-k without a
  * global sort, pushdown reaching the scan, no cartesian products)
  * that silently regresses would pass every correctness gate; this
  * spec fails instead.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import SparkTestBase.sf

  private def sparkPlan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString

  test("q19 top-k plans as TakeOrderedAndProject, not a global sort+limit") {
    assert(sparkPlan("q19_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("q12 dimension joins are broadcast hash joins") {
    val p = sparkPlan("q12_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    // the fact-fact joins must NOT be nested-loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q10 mapping rename is a broadcast join") {
    assert(sparkPlan("q10_input_mapping").contains("BroadcastHashJoin"))
  }

  test("q01 scan prunes columns and partially aggregates before the shuffle") {
    val qe = SparkEntry.queries("q01_lineitem_agg")(spark, sf).queryExecution
    val scan = qe.sparkPlan.collectLeaves().map(_.toString).mkString("\n")
    // 5 needed columns of lineitem's 16 reach the reader, no more
    assert(scan.contains("ReadSchema"))
    assert(!scan.contains("l_shipdate") && !scan.contains("l_orderkey"))
    // partial_* aggregate functions appear below the exchange
    val p = qe.sparkPlan.toString
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q40/x23/x81 banded joins stay equi-joins (no nested loop)") {
    Seq("q40_range_join", "x23_simhash", "x81_cross_corpus_neardups")
      .foreach { q =>
        val p = sparkPlan(q)
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q plans a nested loop:\n$p")
      }
  }

  test("q18 as-of join has no row-exploding join at all") {
    val p = sparkPlan("q18_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q61 explicit-value pivot plans exactly one scan of events") {
    // the implicit pivot form runs a separate distinct job over the
    // pivot column before planning — an extra full scan at 100 TB
    val qe = SparkEntry.queries("q61_pivot")(spark, sf).queryExecution
    val scans = qe.sparkPlan.collectLeaves().size
    assert(scans == 1, s"expected a single events scan, got $scans leaves")
  }

  test("q57 exact percentiles aggregate via ObjectHashAggregate") {
    // percentile is a TypedImperativeAggregate: ObjectHashAggregate
    // keeps one buffer per group; a SortAggregate fallback would
    // re-sort every group's rows
    val p = sparkPlan("q57_percentiles")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_percentile"), p)
  }

  test("x59/x60 text-curation plans stay equi-join + per-doc-window shaped") {
    Seq("x59_repetition_scores", "x60_boilerplate_strip").foreach { q =>
      val p = sparkPlan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
      // the gram windows must partition by doc_id — a global window
      // would serialize the corpus through one task. Every window spec
      // in the plan must name doc_id as its partition key (an
      // unpartitioned spec starts straight at the ORDER BY column)
      val specs = "windowspecdefinition\\(([^,]*)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(specs.nonEmpty, s"$q lost its window:\n$p")
      specs.foreach(s => assert(s.contains("doc_id"),
        s"$q has a window not partitioned by doc_id (spec head: $s)"))
    }
  }

  test("x61 vocab: partial counts below the exchange, TakeOrdered on top") {
    val p = sparkPlan("x61_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count"))
    // the gram source is the native expression, not a window shuffle
    assert(p.contains("word_grams") && !p.contains("windowspecdefinition"))
  }

  test("x64 token budget: no whole-language window — per-doc window keyed by bucket") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x64_token_budget")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // every window over the full doc set must partition by (lang, bkt) —
    // a lang-only window over docs would serialize a whole language into
    // one task; lang-only is allowed ONLY for the tiny bucket-level
    // running sum (its input is the per-bucket aggregate, bounded by
    // doc-id range / bucketDocs)
    val perDoc = windows.filter(_.partitionSpec.exists(
      _.references.exists(_.name == "bkt")))
    val bucketLevel = windows.filterNot(perDoc.contains(_))
    assert(perDoc.nonEmpty, qe.sparkPlan.toString)
    assert(bucketLevel.forall(w =>
      w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty),
      "a lang-only window must sit above the per-bucket aggregate, " +
        s"not raw docs:\n${qe.sparkPlan}")
  }

  test("x68 PII redaction is a pure per-row projection: zero exchanges") {
    // orderBy aside (driver-gate determinism), redaction itself must
    // never shuffle. Audit the EXECUTED plan of the bare operator:
    // EnsureRequirements only inserts shuffles into executedPlan —
    // sparkPlan never contains an Exchange, so collecting Exchange
    // nodes from it can never fail (it did, vacuously, until round 6).
    // A shuffle-free plan is never wrapped by AQE, so both the
    // Exchange and the AdaptiveSparkPlan spellings must be absent.
    import org.apache.spark.sql.functions._
    val df = graft.operators.TextAnalysis.piiRedact(
      graft.sources.Tables.read(spark, sf, "documents").select(col("doc_id"),
        concat(col("text"), lit(" u"), col("doc_id").cast("string"),
          lit("@example.com")).as("text")))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("AdaptiveSparkPlan"),
      s"PII scrub should be shuffle-free:\n$p")
  }

  test("x69 paragraph dedup windows by chunk, never all-pairs") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x69_paragraph_dedup")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"paragraph dedup plans a nested loop:\n$p")
    // first-occurrence selection is ONE window partitioned by the chunk
    // key — a duplicate chunk costs one partition's small rows, not a
    // join blowup
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.exists(
      _.references.exists(_.name == "chunk"))), s"expected chunk-keyed window:\n$p")
    // tokenization must happen once per row per branch: if the optimizer
    // inlined the ts alias into the chunk lambda, the full regex split
    // would re-run per chunk index (quadratic in document length) and
    // the plan would show extra split sites inside lambdafunction(...)
    val opt = qe.optimizedPlan.toString
    val splits = "split\\(text".r.findAllMatchIn(opt).length
    assert(splits <= 2,
      s"expected <= 2 split sites (chunk branch + n_chunks branch), got $splits:\n$opt")
  }

  test("x73/x75 embedding dedup joins stay cell-blocked equi-joins") {
    Seq("x73_semantic_dedup", "x75_embed_decontaminate").foreach { q =>
      val p = sparkPlan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop:\n$p")
    }
    // the held set is benchmark-sized — its side of the join broadcasts
    assert(sparkPlan("x75_embed_decontaminate").contains("BroadcastHashJoin"))
  }

  test("x74 importance weights: bucket table broadcasts to the token scan") {
    val p = sparkPlan("x74_importance_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=256-row distribution table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bucket counts must partially aggregate below the exchange:\n$p")
  }

  test("x82 log-DSIR shares the exact sibling's shape: broadcast dist, one token agg") {
    val p = sparkPlan("x82_importance_log")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=256-row log-ratio table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bucket counts must partially aggregate below the exchange:\n$p")
    // the totals fold in via a window over the <=256-row dist table —
    // that window must be the ONLY unpartitioned one, and the token
    // stream must never pass through it (it sits above the bucket agg)
    val specs = "windowspecdefinition\\(".r.findAllMatchIn(p).length
    assert(specs > 0, s"totals window missing:\n$p")
  }

  test("x83 ln tf-idf shares the exact sibling's shape: one allowed scalar NLJ") {
    val p = sparkPlan("x83_tfidf_ln")
    assert(!p.contains("CartesianProduct"))
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj <= 1, s"unexpected nested loops:\n$p")
    assert(p.contains("partial_count"),
      s"tf/df counts must partially aggregate below the exchange:\n$p")
  }

  test("x76 chunk windows are a pure per-row explode: zero exchanges") {
    // orderBy aside (driver-gate determinism), chunking never
    // shuffles. Same executed-plan discipline as the x68 audit above:
    // Exchange nodes only exist in executedPlan, and a shuffle-free
    // plan is never AQE-wrapped.
    val df = graft.operators.TextAnalysis.chunkWindows(
      graft.sources.Tables.read(spark, sf, "documents"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("AdaptiveSparkPlan"),
      s"chunking should be shuffle-free:\n$p")
    // tokenize-once rule (the x69 guard): the split array is sliced by
    // the lambda, never re-split per chunk index
    val opt = SparkEntry.queries("x76_chunk_windows")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val splits = "split\\(text".r.findAllMatchIn(opt).length
    assert(splits <= 1, s"expected 1 split site, got $splits:\n$opt")
  }

  test("x77 tf-idf: equi-joins except the one-row corpus-size broadcast") {
    val p = sparkPlan("x77_tfidf_terms")
    assert(!p.contains("CartesianProduct"))
    // exactly one nested-loop is allowed: the 1-row n_docs scalar
    // crossJoin(broadcast(...)); the tf↔df join must stay an equi-join
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj <= 1, s"unexpected nested loops:\n$p")
    assert(p.contains("partial_count"),
      s"tf/df counts must partially aggregate below the exchange:\n$p")
  }

  test("x78 url host filter: blocklist broadcasts, no nested loop") {
    val p = sparkPlan("x78_url_host_filter")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("x79 novelty ratio: reference set broadcasts, partial aggregation") {
    val p = sparkPlan("x79_novelty_ratio")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("x80 stratified sample: bucketed phase precedes the per-stratum window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x80_stratified_sample")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    // two phases: (stratum, bkt) local top-k — `buckets`-way parallel —
    // then (stratum) over the ≤ buckets·k survivors; a single-window
    // regression would funnel each stratum through one task at scale
    assert(windows.exists(_.partitionSpec.size == 2) &&
      windows.exists(_.partitionSpec.size == 1),
      s"expected a 2-key then 1-key window pair:\n${qe.sparkPlan}")
  }

  test("q71 robust outliers: metric medians broadcast back, exact percentile aggs") {
    val p = sparkPlan("q71_outlier_mad")
    assert(p.contains("BroadcastHashJoin"),
      s"per-metric median/MAD tables must broadcast:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"exact percentile should use ObjectHashAggregate (q57 convention):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("whole-stage codegen covers the rollup pipeline") {
    // audit the real rollup computation, not the memoized store view —
    // and execute THIS DataFrame so AQE finalizes its plan
    val df = graft.operators.Ingest.rollup(
      graft.operators.Ingest.sanitize(
        graft.sources.Tables.htaPoints(spark, sf)), 3600000000000L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"))
    // codegen spans print as "*(n) Operator" in the final plan
    assert(p.contains("*("))
    // map-side combine: partial aggregation below the exchange
    assert(df.queryExecution.sparkPlan.toString.contains("partial_"))
  }

  test("x85 mixture planner: weights broadcast, token roll-up partially aggregates") {
    val p = sparkPlan("x85_mixture_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"weights table must broadcast to the per-source roll-up:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the corpus-sized input must reduce map-side before any exchange —
    // the global W/T* window runs over the post-aggregation sources table
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-source token counts must partially aggregate:\n$p")
  }

  test("x86 dup-span coverage: gram join stays equi, per-doc window only") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x86_dup_span_coverage")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram↔dup join must stay an equi-join:\n$p")
    assert(p.contains("partial_count"),
      s"gram occurrence counts must partially aggregate:\n$p")
    // every window partitions by doc_id — no global (empty-key) window
    // anywhere in this plan (the positional-gram leads are per-doc)
    qe.sparkPlan.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty && w.partitionSpec.exists(
        _.toString.contains("doc_id")),
        s"window must partition by doc_id:\n$w")
    }
  }

  test("x111 dup-span removal: equi-joins only, windows stay per-doc") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x111_dup_span_remove")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram↔dup and rebuild joins must stay equi-joins:\n$p")
    assert(p.contains("partial_count"),
      s"gram occurrence counts must partially aggregate:\n$p")
    qe.sparkPlan.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty && w.partitionSpec.exists(
        _.toString.contains("doc_id")),
        s"window must partition by doc_id:\n$w")
    }
  }

  test("x112 source overlap: gram self-join stays equi; only the pair-seed NLJ") {
    val qe = SparkEntry.queries("x112_source_overlap")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct"))
    // exactly one nested-loop: the |S|×|S| source-pair seed (tiny by
    // definition). The corpus-sized gram self-join must never be it.
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj == 1, s"expected exactly the pair-seed NLJ, got $nlj:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-source gram counts must partially aggregate:\n$p")
  }

  test("x113 lsh audit: only the two threshold-seed NLJs; pair joins stay equi") {
    val qe = SparkEntry.queries("x113_lsh_audit")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct"))
    // the |T|-row threshold seed fans over the candidate-bounded pair
    // tables twice (cand-side and truth-side aggregates) — exactly two
    // broadcast NLJs; the corpus-sized joins (postings, signatures,
    // verification, truth flag) must all stay equi-joins
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj == 2, s"expected exactly the two seed NLJs, got $nlj:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-threshold counts must partially aggregate:\n$p")
  }

  test("x114/x115 PQ: codebook and distance-table joins broadcast, no NLJ at all") {
    for (q <- Seq("x114_pq_codes", "x115_pq_adc_topk", "x118_ivf_adc_topk")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: every PQ join is an equi-join (sub / (sub, code)) — " +
          s"nothing here needs a nested loop:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the k·m-row codebook must broadcast, not shuffle the corpus:\n$p")
      assert(p.contains("partial_sum") || p.contains("partial_count") ||
        p.contains("partial_min"),
        s"$q: codebook build / ADC sums must partially aggregate:\n$p")
    }
  }

  test("x147/x148 probed composed searches: only the deliberate broadcast NLJs") {
    // every allowed nested loop is a broadcast of a ≤ k-row frame: the
    // |queries| × k centroid candidate fan of nearestCells (the
    // same deliberate crossJoin(broadcast(cent)) as x92's Lloyd
    // assignment) and its 1-row probes table, plus — on the SQ side
    // only — the 1-row quantization-params broadcast of sqCoded,
    // planned once per corpus/query reference (the allowed scalar-NLJ
    // class of x82/x120). Every corpus-sized join — codes, distance
    // table, probed (q, cell) pairs — stays a broadcast equi-join.
    for ((q, allowed) <- Seq("x147_ivf_sq_probed" -> 4,
                             "x148_ivfadc_probed" -> 2)) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q cartesians:\n$p")
      assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).length == allowed,
        s"$q: expected exactly the $allowed deliberate broadcast NLJs:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: probe table / code joins must broadcast:\n$p")
    }
    // the curves compose truth + probed search in one plan: every
    // nested loop in them is a broadcast of a tiny frame (probes,
    // centroid candidates, 1-row params, the deliberate truth-side
    // query fan) — a cartesian on data tables is the regression
    for (q <- Seq("x149_sq_probe_curve", "x150_adc_probe_curve")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q cartesians:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: audit/probe joins must broadcast:\n$p")
    }
  }

  test("x120 temperature mixture: one scalar NLJ; x121 join-free; x123 equi-only") {
    // x120: the |S|-row frame × the 1-row ordered-fold total — the
    // allowed scalar NLJ (the x82-totals pattern)
    val p120 = SparkEntry.queries("x120_temperature_mixture")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p120.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p120).length == 1,
      s"expected exactly the scalar-total NLJ:\n$p120")
    // x121: pure per-row slicing — no join of any kind in the plan
    val p121 = SparkEntry.queries("x121_frame_sample")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p121.contains("Join"), s"frame sampling must not join:\n$p121")
    // x123: md5 groupBy + owner join back — equi-joins only, partial agg
    val p123 = SparkEntry.queries("x123_frame_dedup")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p123.contains("CartesianProduct") &&
      !p123.contains("BroadcastNestedLoopJoin"),
      s"frame-dedup joins must stay equi:\n$p123")
    assert(p123.contains("partial_count") || p123.contains("partial_min"),
      s"owner/count aggregates must partially aggregate:\n$p123")
  }

  test("x124 funnel: only the 1-row base NLJ; x125 cohorts equi-only") {
    val p124 = SparkEntry.queries("x124_event_funnel")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p124.contains("CartesianProduct"))
    // the step chain is user_id equi-joins; the sole nested loop is
    // the 1-row step-1 base fanned over the |steps|-row summary
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p124).length == 1,
      s"expected exactly the scalar base NLJ:\n$p124")
    val p125 = SparkEntry.queries("x125_retention_cohorts")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p125.contains("CartesianProduct") &&
      !p125.contains("BroadcastNestedLoopJoin"),
      s"cohort joins must stay equi:\n$p125")
    assert(p125.contains("partial_min") || p125.contains("partial_count"),
      s"cohort min / cell counts must partially aggregate:\n$p125")
  }

  test("x116 L2 brute: exactly the one deliberate broadcast-query NLJ") {
    val p = SparkEntry.queries("x116_l2_topk")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct"))
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj == 1,
      s"brute-force scan is corpus × broadcast(queries), nothing else:\n$p")
  }

  test("x89 mixture apply: no whole-source doc window — bucketed like x64") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x89_mixture_apply")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // per-doc running sums must partition by (source, bkt); source-only
    // windows are allowed ONLY above an aggregate (the per-bucket
    // running sum and the |sources|-row plan scalars)
    val perDoc = windows.filter(_.partitionSpec.exists(
      _.references.exists(_.name == "bkt")))
    val aggregateLevel = windows.filterNot(perDoc.contains(_))
    assert(perDoc.nonEmpty, qe.sparkPlan.toString)
    assert(aggregateLevel.forall(w =>
      w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty),
      "a source-level window must sit above an aggregate, " +
        s"not raw docs:\n${qe.sparkPlan}")
  }

  test("x91 sequence pack: no global doc window — bucketed running sum") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x91_sequence_pack")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // per-doc running sums partition by bkt; the only unpartitioned
    // window is the bucket-level prior, which must sit above the
    // per-bucket aggregate (tiny table), never above raw docs
    val perDoc = windows.filter(_.partitionSpec.nonEmpty)
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(perDoc.nonEmpty, qe.sparkPlan.toString)
    assert(global.forall(w =>
      w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty),
      s"a global window must sit above the per-bucket aggregate:\n${qe.sparkPlan}")
  }

  test("x90 snapshot diff: one equi-join of fingerprints, text pruned at the scan") {
    val qe = SparkEntry.queries("x90_snapshot_diff")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"diff must be an equi-join:\n$p")
    // the md5 reduces each side to (id, fp) before the join — raw text
    // must not appear in any join output attribute set
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    qe.sparkPlan.collect {
      case j: SortMergeJoinExec => j.output
      case j: ShuffledHashJoinExec => j.output
      case j: BroadcastHashJoinExec => j.output
    }.foreach { out =>
      assert(!out.exists(_.name == "text"),
        s"text crossed the exchange:\n${qe.sparkPlan}")
    }
  }

  test("x93 host rank: equi-joins and partial aggregation only — no window, no cartesian") {
    val qe = SparkEntry.queries("x93_host_rank")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank propagation must stay equi-join shaped:\n$p")
    assert(qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window belongs in a power iteration:\n$p")
    assert(p.contains("partial_"),
      s"degree/contribution sums must partially aggregate:\n$p")
  }

  test("x92 kmeans iter: centroids broadcast to the scan, no window, native vec exprs") {
    val qe = SparkEntry.queries("x92_kmeans_iter")(spark, sf).queryExecution
    val p = qe.sparkPlan.toString
    // the k-row centroid table rides a broadcast nested-loop (the
    // deliberate crossJoin(broadcast(cent)) — k candidates per vector);
    // no cartesian on data, no window anywhere, partial aggregation
    // below both exchanges, distances through the native expressions
    assert(!p.contains("CartesianProduct"))
    assert(qe.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"argmin must fold via aggregate, not window:\n$p")
    assert(p.contains("partial_"), s"centroid/argmin must partially aggregate:\n$p")
    assert(p.contains("vec_dot") && p.contains("vec_quantize"),
      s"distance must use native vector expressions:\n$p")
  }

  test("x88 ann recall: audit join broadcasts the k-by-queries result set") {
    val p = sparkPlan("x88_ann_recall")
    assert(p.contains("BroadcastHashJoin"),
      s"top-k result sets are broadcast-sized by construction:\n$p")
    assert(!p.contains("CartesianProduct"))
    // brute force keeps its deliberate one-row-per-query broadcast NLJ
    // (the crossJoin(broadcast(q)) corpus scan) — but exactly that one
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj <= 1, s"unexpected nested loops:\n$p")
  }

  test("x99 recall curve: audit joins broadcast; only the deliberate per-point NLJs") {
    val p = sparkPlan("x99_ann_recall_curve")
    assert(p.contains("BroadcastHashJoin"),
      s"per-point audit joins are broadcast-sized by construction:\n$p")
    assert(!p.contains("CartesianProduct"))
    // allowed NLJs: ONE brute crossJoin(broadcast(q)) corpus scan plus,
    // per curve point, the |queries|·k centroid-ranking crossJoin — all
    // broadcast query-set scans, never corpus×corpus
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(p).length
    assert(nlj <= 1 + SparkEntry.RecallCurveProbes.length,
      s"unexpected nested loops:\n$p")
  }

  test("x100/x101 capped mixture: same shape discipline as the downsample pair") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = sparkPlan("x100_mixture_capped")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"per-source token counts must partially aggregate:\n$plan")
    // the executor must not window whole sources at the doc level —
    // per-doc running sums partition by (source, bkt), exactly x89's rule
    val qe = SparkEntry.queries("x101_mixture_apply_capped")(spark, sf)
      .queryExecution
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    val perDoc = windows.filter(_.partitionSpec.exists(
      _.references.exists(_.name == "bkt")))
    assert(perDoc.nonEmpty, qe.sparkPlan.toString)
    windows.filterNot(perDoc.contains(_)).foreach { w =>
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty,
        s"a source-level window must sit above an aggregate:\n${qe.sparkPlan}")
    }
  }

  test("x102 incremental chain: equi-joins only, churn never re-scans via cartesian") {
    val p = sparkPlan("x102_incremental_curate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the diff/cluster/ledger chain must stay on equi-joins:\n$p")
    assert(p.contains("partial_"),
      s"the chain's aggregations must partially aggregate:\n$p")
  }

  test("x107 ledger drift: equi-joins only (incl. the full-outer), partial aggregation") {
    // two full ledgers + the (doc, reason) full-outer reduce — a
    // cartesian anywhere here would square the doc pool; the
    // full-outer must plan as a sort-merge/shuffled-hash EQUI join
    val p = sparkPlan("x107_ledger_drift")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the drift reduce must stay on equi-joins:\n$p")
    assert(p.contains("FullOuter"),
      s"the (doc, reason) reduce must be a full-outer equi-join:\n$p")
    assert(p.contains("partial_"),
      s"the per-reason counts must partially aggregate:\n$p")
  }

  test("x130 shards: no global doc window — bucketed like x91; x131 vocab broadcasts") {
    import org.apache.spark.sql.execution.window.WindowExec
    val qe = SparkEntry.queries("x130_training_shards")(spark, sf).queryExecution
    val windows = qe.sparkPlan.collect { case w: WindowExec => w }
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(windows.exists(_.partitionSpec.nonEmpty), qe.sparkPlan.toString)
    assert(global.forall(w =>
      w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty),
      s"the only global window is the 256-row bucket prior:\n${qe.sparkPlan}")
    val p131 = sparkPlan("x131_oov_rate")
    assert(p131.contains("BroadcastHashJoin"),
      s"the vocab membership join must broadcast:\n$p131")
    assert(!p131.contains("CartesianProduct") &&
      !p131.contains("BroadcastNestedLoopJoin"))
    assert(p131.contains("TakeOrderedAndProject"),
      s"the top-k vocabulary must never be a global sort:\n$p131")
  }

  test("x132/x133: one partial-agg pass each, no join, no row explosion") {
    val pa = sparkPlan("x132_availability")
    assert(!pa.contains("Join") && !pa.contains("CartesianProduct"),
      s"availability is window+groupBy only:\n$pa")
    assert(pa.contains("partial_"), s"gap roll-up must partially aggregate:\n$pa")
    // the heatmap's own operators: one partial+final aggregate pair,
    // no window, no join (the sanitize gate's window lives inside the
    // cached input relation, not this query's plan)
    import org.apache.spark.sql.execution.window.WindowExec
    val qh = SparkEntry.queries("x133_value_heatmap")(spark, sf).queryExecution
    assert(qh.sparkPlan.collect { case w: WindowExec => w }.isEmpty,
      s"heatmap is ONE aggregation:\n${qh.sparkPlan}")
    val ph = qh.sparkPlan.toString
    assert(!ph.contains("Join"), s"heatmap must not join:\n$ph")
    assert(ph.contains("partial_"),
      s"cell counts must shrink map-side:\n$ph")
    // same discipline for the diurnal profile and breach episodes:
    // window+aggregate pipelines, never a join
    val qp = SparkEntry.queries("x134_hourly_profile")(spark, sf).queryExecution
    assert(qp.sparkPlan.collect { case w: WindowExec => w }.isEmpty &&
      !qp.sparkPlan.toString.contains("Join"),
      s"profile is ONE aggregation:\n${qp.sparkPlan}")
    val pb = sparkPlan("x135_breach_episodes")
    assert(!pb.contains("Join"), s"episodes must not join:\n$pb")
    assert(pb.contains("partial_"),
      s"episode roll-ups must partially aggregate:\n$pb")
  }

  test("x136/x137/x138: equi or broadcast joins only, no corpus-side cartesian") {
    val pm = sparkPlan("x136_shard_manifest")
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"),
      s"the manifest join-back must be an equi-join:\n$pm")
    assert(pm.contains("partial_"),
      s"per-shard roll-up must partially aggregate:\n$pm")
    val pt = sparkPlan("x137_trunc_dim_recall")
    assert(!pt.contains("CartesianProduct"))
    // allowed NLJs: the dims-table explode on the corpus scan (planned
    // twice — once under the query-side filter branch), the brute
    // crossJoin(broadcast(q)), and the brute×dims fan-out in the audit
    // — all broadcast tiny-table scans, never corpus×corpus
    val nlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(pt).length
    assert(nlj <= 4, s"unexpected nested loops:\n$pt")
    assert(pt.contains("BroadcastHashJoin"),
      s"the per-dims query join must be a broadcast equi-join:\n$pt")
    val ps = sparkPlan("x138_seasonal_outliers")
    assert(!ps.contains("CartesianProduct") &&
      !ps.contains("BroadcastNestedLoopJoin"),
      s"the med/mad join-backs must be broadcast equi-joins:\n$ps")
    assert(ps.contains("BroadcastHashJoin"), s"cells must broadcast:\n$ps")
  }

  test("x140/x141: session islands join-free; conversion lag equi-join only") {
    val ps = sparkPlan("x140_user_sessions")
    assert(!ps.contains("Join"), s"sessionization is windows+groupBys:\n$ps")
    assert(ps.contains("partial_"),
      s"session roll-ups must partially aggregate:\n$ps")
    val pc = sparkPlan("x141_conversion_lag")
    assert(!pc.contains("CartesianProduct") &&
      !pc.contains("BroadcastNestedLoopJoin"),
      s"the user join must be an equi-join:\n$pc")
    assert(pc.contains("partial_"),
      s"per-user mins must partially aggregate:\n$pc")
  }

  test("similarity queries use native vector expressions, no interpreted lambdas") {
    // higher-order functions print as lambdafunction(...) and evaluate
    // interpreted per array element — the hot candidate-pair path must
    // instead call the single-pass native VecDot/VecNormSq/VecQuantize
    Seq("x24_cosine_topk", "x25_cosine_ivf", "x36_embedding_neardup").foreach { q =>
      val p = sparkPlan(q)
      assert(!p.contains("lambdafunction"), s"$q still plans an interpreted HOF:\n$p")
      assert(p.contains("vec_dot"), s"$q missing native vec_dot:\n$p")
      assert(p.contains("vec_quantize"), s"$q missing native vec_quantize:\n$p")
    }
  }

  test("index-backed ANN searches: no corpus aggregation, scans read only index tables + filtered queries") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-planidx")
    try {
      val emb = graft.sources.Tables.read(spark, sf, "embeddings")
      val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
        .select("vec_id", "embedding")
      import graft.operators.Similarity.IvfCodec
      graft.operators.Similarity.buildIvfIndex(emb, s"$root/sq", IvfCodec.Sdc)
      graft.operators.Similarity.buildIvfIndex(emb, s"$root/pq", IvfCodec.Adc())
      // append a second generation on each side: the plan pins below
      // (and the DPP pin especially) must hold on the MULTI-generation
      // cell layout a deployed index always has, not just a fresh
      // build's single-generation tree
      val extra = emb.filter(col("vec_id") < 20L)
        .select((col("vec_id") + 900000L).as("vec_id"),
          col("embedding"), col("label"))
      graft.operators.Similarity.appendToIvfIndex(extra, s"$root/sq",
        tag = "p1")
      graft.operators.Similarity.appendToIvfIndex(extra, s"$root/pq",
        tag = "p1")
      val sq = graft.operators.Similarity
        .searchIvfIndex(spark, s"$root/sq", queries, 5, nprobe = 2)
      val pq = graft.operators.Similarity
        .searchIvfIndex(spark, s"$root/pq", queries, 5, nprobe = 2)
      // the build/search split's whole point, enforced: every
      // aggregation in the inline searches was index-BUILD work
      // (centroids, SQ params, PQ codebook) — the searchers must plan
      // NONE of it. SDC scoring is pure expressions + windows (zero
      // aggregates); ADC keeps exactly the one irreducible
      // m-lookup-sum aggregate per (query, vector)
      def nAgg(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan
          .collect { case a: Aggregate => a }.length
      assert(nAgg(sq) == 0,
        s"the SQ index search must not aggregate anything:\n${sq.queryExecution.optimizedPlan}")
      assert(nAgg(pq) == 1,
        s"the PQ index search must keep only the ADC sum:\n${pq.queryExecution.optimizedPlan}")
      // every file scan reads an index table or the vec_id-filtered
      // query rows — a scan of the raw corpus (un-filtered
      // embeddings) would mean the searcher is rebuilding something
      for ((df, name) <- Seq((sq, "SQ index search"), (pq, "PQ index search"))) {
        val p = df.queryExecution.sparkPlan.toString
        assert(!p.contains("CartesianProduct"), s"$name cartesians:\n$p")
        val leaves = df.queryExecution.sparkPlan.collectLeaves()
          .map(_.toString).filter(_.contains("FileScan"))
        assert(leaves.nonEmpty)
        leaves.foreach { l =>
          assert(l.contains(root.toString) ||
            (l.contains("embeddings") && l.contains("vec_id")),
            s"$name scans outside the index/query tables:\n$l")
        }
        // the cell-partitioned code layout pays off at RUNTIME too:
        // Spark inserts a dynamic-partition-pruning filter on the
        // codes scan from the broadcast probe side, so only the
        // probed cells' partition directories are read — the
        // nprobe/|cells| scan fraction enforced by the planner, not
        // just by the join
        assert(df.queryExecution.executedPlan.toString
          .contains("dynamicpruning"),
          s"$name: the probed-cell restriction must reach the codes " +
            "scan as a dynamic partition prune")
      }
    } finally {
      val _ = new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }
}
