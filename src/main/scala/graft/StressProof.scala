package graft

import graft.operators.{Dedup, Similarity}
import graft.operators.Similarity.{CellRule, IvfCodec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** High-cardinality stress proof for the three bucketed candidate
  * generators whose 100 TB posture rests on "candidates stay ∝ planted
  * structure, never n²": MinHash-LSH near-dup detection, star-contraction
  * connected components, and IVF-cell-pruned ANN. The per-round driver
  * (`check_local.py`) proves these CORRECT at 500-doc scale; this main
  * proves the SCALING CLAIMS hold at 50–110 k cardinality — two orders
  * of magnitude above the correctness fixtures — with planted ground
  * truth so every number is self-verdicting:
  *
  *   - LSH over 52 500 docs (2 500 planted near-dups): candidate pairs
  *     must stay within a small factor of the planted count (an n²
  *     regression would produce ~1.4e9) and verified recall of planted
  *     pairs must clear the banding-scheme's theoretical ~0.98.
  *   - starClusters over 110 000 nodes: 10 000 diameter-9 chains PLUS
  *     one diameter-9 999 chain — the contraction must converge in
  *     O(log² n) rounds (maxIter 50 would be exceeded by any linear-
  *     diameter propagation on the long chain) and reproduce every
  *     component exactly (label = chain min, members = contiguous run).
  *   - IVF top-10 over 100 000 embeddings in 64 cells vs the brute
  *     scan: recall must survive the 64× scan reduction on clustered
  *     data (the IVF contract; random data would show recall ≈ 0).
  *
  * Run: `sbt "runMain graft.StressProof"` — prints one `STRESS` line per
  * block and exits non-zero on any violated bound. Results are recorded
  * in SCALE.md §8d.
  */
object StressProof {
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try {
      // optional block selector: `runMain graft.StressProof lsh pq`
      // runs just those blocks (unknown names fail loudly) — the full
      // sweep stays the no-arg default
      val blocks: Seq[(String, SparkSession => Unit)] = Seq(
        ("lsh", lsh), ("ppjoin", ppjoin), ("simhash", simhashBlocks),
        ("contraction", contraction), ("ivf", ivf), ("kmeans", kmeans),
        ("pq", pq), ("streamdedup", streamDedup),
        ("neardupgate", nearDupGate), ("hotbucket", hotBucketGate),
        ("ttlgate", ttlGate),
        ("corpuspipe", corpusPipe), ("ttlpipe", ttlPipe),
        ("shards", shards), ("absorber", absorber),
        ("backfillseed", backfillSeed), ("layout", layout))
      val unknown = args.toSet -- blocks.map(_._1).toSet
      require(unknown.isEmpty, s"unknown stress blocks: $unknown " +
        s"(known: ${blocks.map(_._1).mkString(", ")})")
      blocks.filter(b => args.isEmpty || args.contains(b._1))
        .foreach(_._2(spark))
      println(if (args.isEmpty) "STRESS all bounds hold"
        else s"STRESS selected bounds hold: ${args.mkString(", ")}")
    } finally spark.stop()
  }

  private val NBase = 50000L
  private val NDups = 2500L

  /** The shared planted-near-dup corpus: 50 000 distinct 40-word docs
    * + 2 500 one-word-mutated copies (one word mutated → 3 of 41
    * tri-shingles differ, Jaccard 35/41 ≈ 0.854; pure function of the
    * id, so the corpus generates distributed and the ground-truth
    * pair list is `(i, 50000 + i)`). Used by the LSH and
    * prefix-postings blocks.
    */
  private def plantedDocs(spark: SparkSession): DataFrame = {
    def word(seed: Column) =
      concat(lit("w"), pmod(xxhash64(seed), lit(30000L)))
    def text(baseId: Column, mutate: Boolean) = array_join(
      transform(sequence(lit(0), lit(39)), j =>
        if (mutate) when(j === 39, lit("wMUTATED"))
          .otherwise(word(baseId * 1000L + j))
        else word(baseId * 1000L + j)), " ")
    val base = spark.range(NBase).select(col("id").as("doc_id"),
      text(col("id"), mutate = false).as("text"))
    val dups = spark.range(NDups).select((col("id") + NBase).as("doc_id"),
      text(col("id"), mutate = true).as("text"))
    base.unionByName(dups).withColumn("n_chars", length(col("text")))
  }

  private def lsh(spark: SparkSession): Unit = {
    val nBase = NBase
    val nDups = NDups
    val docs = plantedDocs(spark)

    // candidates generated ONCE (cached), counted, then verified — so
    // each stage runs and is timed exactly once
    val cand = Dedup.lshCandidatePairs(docs).cache()
    val (nCand, tCand) = timed(cand.count())
    val (found, tVerify) = timed(
      Dedup.verifyJaccard(cand, Dedup.shingled(docs), 0.8)
        .filter(col("doc_b") === col("doc_a") + nBase).count())
    cand.unpersist()
    val recall = found.toDouble / nDups
    println(f"STRESS lsh docs=${nBase + nDups} candidates=$nCand " +
      f"planted=$nDups recall=$recall%.4f t_cand=$tCand%.1fs t_all=${tCand + tVerify}%.1fs")
    // candidates ∝ planted structure: 4 bands × J=0.854 catch ~98% of
    // planted pairs and unrelated docs share a 3-minhash band sig with
    // negligible probability — anything near n²/2 ≈ 1.4e9 is a blocking
    // regression. Bound: 4× planted covers hash-collision noise.
    require(nCand < 4 * nDups, s"LSH candidate blow-up: $nCand pairs")
    require(recall >= 0.9, f"LSH recall $recall%.4f below banding expectation")
  }

  /** The EXACT prefix-postings generator ([[Dedup.jaccardPairs]], the
    * x21/x45/x96/x97/x102 candidate core) over the same planted
    * corpus: unlike LSH this path is deterministic-complete, so the
    * verified pair set must be EXACTLY the 2 500 planted pairs —
    * perfect recall AND zero accidental pairs on the random
    * vocabulary — while prefix filtering keeps the candidate join ∝
    * planted structure instead of the 1.38e9 all-pairs product.
    */
  private def ppjoin(spark: SparkSession): Unit = {
    val docs = plantedDocs(spark)
    val (sh, candDf) = Dedup.jaccardCandidates(docs, 0.8, 50L)
    val cand = candDf.cache()
    val (nCand, tCand) = timed(cand.count())
    val (pairs, tVerify) = timed(
      Dedup.verifyJaccard(cand, sh, 0.8)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    cand.unpersist()
    val planted = (0L until NDups).map(i => (i, NBase + i)).toSet
    println(f"STRESS ppjoin docs=${NBase + NDups} candidates=$nCand " +
      f"exact_pairs=${pairs.size} planted=$NDups " +
      f"t_cand=$tCand%.1fs t_all=${tCand + tVerify}%.1fs")
    require(pairs == planted,
      s"prefix-postings not exact: ${pairs.size} pairs, " +
        s"missing=${(planted -- pairs).size} extra=${(pairs -- planted).size}")
    require(nCand < 40L * NDups,
      s"prefix-postings candidate blow-up: $nCand pairs")
  }

  /** SimHash pigeonhole bit-block banding on the DEGENERATE length
    * distribution — every document forced to the same n_chars, the
    * chunked-corpus shape where pure length banding is all-pairs
    * (1.38e9). Candidates must stay bit-block-bounded (~Σ_blk n²/2^w,
    * two orders below all-pairs), and the output must contain exactly
    * the planted pairs whose fingerprints sit within the hamming
    * radius (pigeonhole completeness measured against the engine's
    * own fingerprints — the blocking is the claim under test, not the
    * hash).
    */
  private def simhashBlocks(spark: SparkSession): Unit = {
    val maxDist = 6
    val docs = plantedDocs(spark).withColumn("n_chars", lit(300L))
    val (nCand, tCand) = timed(
      Dedup.simhashCandidates(docs, maxDist, 50L).count())
    val (got, tPairs) = timed(
      Dedup.simhashPairs(docs, maxDist, 50L)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val fps = Dedup.simhash(
        docs.filter(col("doc_id") < NDups || col("doc_id") >= NBase))
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (0L until NDups)
      .filter(i => java.lang.Long.bitCount(fps(i) ^ fps(NBase + i)) <= maxDist)
      .map(i => (i, NBase + i)).toSet
    val plantedShape = (0L until NDups).map(i => (i, NBase + i)).toSet
    val accidental = got -- plantedShape
    println(f"STRESS simhash docs=${NBase + NDups} const_len candidates=$nCand " +
      f"found=${got.size} in_radius_planted=${expected.size} " +
      f"accidental=${accidental.size} t_cand=$tCand%.1fs t_all=${tCand + tPairs}%.1fs")
    require((got & plantedShape) == expected,
      s"pigeonhole blocking lost pairs: missing=${(expected -- got).size}")
    // ~2.7e7 from the block widths at this n; 1.38e9/20 flags any
    // regression toward the all-pairs shape while tolerating the
    // inherent block-collision volume
    require(nCand < 1380000000L / 20L,
      s"simhash candidate blow-up under constant length: $nCand")
  }

  /** 10 000 chains of 10 nodes + one chain of 10 000 nodes (110 000
    * nodes, 99 999 edges = nodes − components, a spanning forest of
    * 10 001 trees). Star contraction must converge within the
    * default 50 rounds — any linear-diameter label propagation would
    * need ~10 000 rounds on the long chain — and emit exactly the
    * planted components.
    */
  private def contraction(spark: SparkSession): Unit = {
    val shortChains = spark.range(100000L)
      .filter(col("id") % 10 =!= 9) // last node of each chain has no successor
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val longChain = spark.range(100000L, 110000L - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val pairs = shortChains.unionByName(longChain)

    val (clusters, t) = timed {
      val c = Dedup.starClusters(pairs).cache()
      c.count()
      c
    }
    // every planted component comes out exact: label = chain minimum,
    // members = the contiguous id run, size = chain length
    val bad = clusters.groupBy("cluster")
      .agg(count(lit(1)).as("n"), min("doc_id").as("lo"),
        max("doc_id").as("hi"), countDistinct("doc_id").as("nd"),
        max("cluster_size").as("sz"))
      .filter(col("cluster") =!= col("lo") || col("n") =!= col("nd") ||
        col("hi") - col("lo") + 1 =!= col("n") || col("sz") =!= col("n") ||
        (col("lo") < 100000L && col("n") =!= 10) ||
        (col("lo") === 100000L && col("n") =!= 10000))
      .count()
    val nClusters = clusters.select("cluster").distinct().count()
    clusters.unpersist()
    println(f"STRESS contraction nodes=110000 clusters=$nClusters " +
      f"bad_components=$bad t=$t%.1fs")
    require(nClusters == 10001L && bad == 0L,
      s"star contraction wrong: $nClusters clusters, $bad bad components")
  }

  /** 100 000 embeddings (dim 32) in 64 planted cells: each vector =
    * its cell centroid + 10% noise, so true cosine neighbors are
    * overwhelmingly same-cell and the IVF contract (prune 64× of the
    * scan, keep recall) is testable against the brute answer.
    */
  /** 100 000 dim-32 embeddings in 64 planted cells: cell center at
    * scale 1.0 plus per-vector noise at scale 0.1 — pure function of
    * the id, so the corpus generates distributed with known ground
    * truth. Shared by the IVF and k-means stress cases.
    */
  private def plantedEmb(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    def comp(seed: Column, scale: Double) =
      (pmod(xxhash64(seed), lit(2001L)) - 1000L).cast("double") / lit(1000.0 / scale)
    spark.range(n).select(
      col("id").as("vec_id"),
      pmod(xxhash64(col("id") * 7L + 3L), lit(64L)).as("label"))
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j =>
        (comp(col("label") * 101L + j, 1.0) +
          comp(col("vec_id") * 37L + j, 0.1)).cast("float")))
  }

  private def ivf(spark: SparkSession): Unit = {
    val n = 100000L
    val dim = 32
    val emb = plantedEmb(spark, n, dim).cache()
    emb.count()
    val queries = (0L until 200L by 10L).toSeq // 20 query ids
    val k = 10
    val (brute, tBrute) = timed(
      Similarity.topKBrute(emb, queries, k)
        .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (ivfRes, tIvf) = timed(
      Similarity.ivfSearch(emb, queries, k, IvfCodec.Cosine, CellRule.Own)
        .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    emb.unpersist()
    val recall = (brute & ivfRes).size.toDouble / brute.size
    println(f"STRESS ivf n=$n dim=$dim cells=64 recall@$k=$recall%.4f " +
      f"t_brute=$tBrute%.1fs t_ivf=$tIvf%.1fs")
    require(recall >= 0.9,
      f"IVF recall $recall%.4f — cell pruning lost true neighbors on clustered data")
  }

  /** One Lloyd step over 100 000 planted-cell embeddings with 5 % of
    * labels corrupted by hash: the centroid of each cell is still
    * dominated by correctly-labeled mass (cell separation 1.0 vs noise
    * 0.1), so the iteration must send essentially every vector back to
    * its planted cell — the repair property x92's 8-vector spec shows
    * in miniature, held at two orders of magnitude above the
    * correctness fixture, in bounded wall time with the broadcast
    * n·k assignment plan.
    */
  private def kmeans(spark: SparkSession): Unit = {
    val n = 100000L
    val dim = 32
    val corrupted = plantedEmb(spark, n, dim)
      .withColumn("planted", col("label"))
      .withColumn("label",
        when(col("vec_id") % 20 === 0,
          pmod(xxhash64(col("vec_id") * 13L + 1L), lit(64L)).cast("int"))
          .otherwise(col("label")).cast("int"))
      .cache()
    val nCorrupt = corrupted.filter(col("label") =!= col("planted")).count()
    val (repaired, t) = timed(
      Similarity.kmeansIter(corrupted)
        .join(corrupted.select("vec_id", "planted"), "vec_id")
        .filter(col("new_label") === col("planted")).count())
    corrupted.unpersist()
    val acc = repaired.toDouble / n
    println(f"STRESS kmeans n=$n dim=$dim cells=64 corrupted=$nCorrupt " +
      f"recovered=$acc%.4f t=$t%.1fs")
    require(acc >= 0.999,
      f"k-means repair $acc%.4f — one Lloyd step failed to recover planted cells")
  }

  /** PQ + ADC at 100 000 vectors / 64 planted cells: the code table
    * is EXACTLY n·m rows drawing from ≤ 64·m codewords (the 32×
    * compression contract — the scoring plan touches codes, never the
    * original vectors), and cell-level retrieval is perfect — every
    * ADC top-10 neighbor carries the query's planted cell, and the
    * IVFADC composition returns the identical set (its prune removes
    * only rows ADC already ranked out). Finer-than-cell ranking is
    * tie-broken inside a cell (members share codes) — the honest
    * resolution limit of a k=64 codebook, which is exactly what the
    * x117 recall audit exists to report before anyone trusts the
    * compressed index.
    */
  private def pq(spark: SparkSession): Unit = {
    val n = 100000L
    val dim = 32
    val m = 8
    val k = 10
    val emb = plantedEmb(spark, n, dim).cache()
    emb.count()
    val queries = (0L until 200L by 10L).toSeq
    // each operator call replans pqParts from scratch — cache the two
    // result frames so every bound is checked against ONE execution
    val codesDf = Similarity.pqCodes(emb, m, dim).cache()
    val (nCodes, tCodes) = timed(codesDf.count())
    require(nCodes == n * m, s"code table must be n*m rows, got $nCodes")
    val nCw = codesDf.select("sub", "code").distinct().count()
    require(nCw <= 64L * m, s"codewords must stay <= cells*m, got $nCw")
    val lbl = emb.select(col("vec_id"), col("label"))
    val qlbl = lbl.select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val adcDf = Similarity.topKPqAdc(emb, queries, k, m, dim).cache()
    val (adc, tAdc) = timed(
      adcDf.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (ivfadc, tIvfAdc) = timed(
      Similarity.ivfSearch(emb, queries, k, IvfCodec.Adc(m, dim), CellRule.Own)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val crossCell = adcDf
      .join(lbl, "vec_id").join(qlbl, "q_id")
      .filter(col("label") =!= col("q_label")).count()
    codesDf.unpersist()
    adcDf.unpersist()
    emb.unpersist()
    println(f"STRESS pq n=$n dim=$dim m=$m codes=$nCodes codewords=$nCw " +
      f"cell_errors=$crossCell t_codes=$tCodes%.1fs t_adc=$tAdc%.1fs " +
      f"t_ivfadc=$tIvfAdc%.1fs")
    require(crossCell == 0L,
      s"$crossCell ADC neighbors left the query's planted cell")
    require(adc == ivfadc,
      "IVFADC must equal plain ADC when every ADC hit is already in-cell")
  }

  /** 1.2 M rows / 1 M distinct fingerprints through
    * [[Dedup.streamingFirstOccurrence]] with the RocksDB state store
    * provider — the state-scale claim SCALE.md makes for X23 (state =
    * one boolean per distinct key, output = distinct keys, per-batch
    * latency stable as state grows), held three orders of magnitude
    * above x87's 500-doc correctness fixture. Four parquet file-drops
    * become four micro-batches (batches 0–2 all-new keys; batch 3 is
    * 2/3 duplicates — 100 k novel keys + 200 k replays of batch-0
    * keys), generated and counted distributed — the driver only moves
    * per-batch scalars.
    */
  private def streamDedup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.types._
    val nKeys = 1000000L
    val perBatch = 300000L
    val root = java.nio.file.Files.createTempDirectory("graft-sdedup")
    val inDir = s"$root/in"
    new java.io.File(inDir).mkdirs()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    Dedup.useRocksDbStateStore(ss)
    val schema = StructType(Seq(
      StructField("_1", StringType), StructField("_2", LongType)))
    import ss.implicits._
    val raw = ss.readStream.schema(schema).parquet(inDir).as[(String, Long)]
    var out = 0L
    var late = 0L
    val q = Dedup.streamingFirstOccurrence(raw)
      .toDF("fp", "kept_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val r = b.agg(count(lit(1)),
          sum(when(col("kept_id") >= nKeys, 1L).otherwise(0L))).head()
        out += r.getLong(0)
        late += (if (r.isNullAt(1)) 0L else r.getLong(1))
        ()
      }.start()
    val times = (0 until 4).map { i =>
      spark.range(i * perBatch, (i + 1) * perBatch).select(
        concat(lit("k"), pmod(col("id"), lit(nKeys))).as("_1"),
        col("id").as("_2"))
        .write.mode("append").parquet(inDir)
      timed(q.processAllAvailable())._2
    }
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop()
    // the scratch (~1.2 M-row parquet + RocksDB state) is assertion
    // input only — delete it, or repeated stress passes accumulate
    // unbounded /tmp
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    println(f"STRESS streamdedup rows=${4 * perBatch} distinct=$nKeys " +
      f"out=$out state_rows=$stateRows " +
      s"t_batches=${times.map(t => f"$t%.1f").mkString("/")}s")
    require(out == nKeys && late == 0L,
      s"streaming dedup emitted $out rows ($late late) for $nKeys distinct keys")
    require(stateRows == nKeys,
      s"state rows $stateRows != distinct keys $nKeys — state is not ∝ distinct keys")
    // stability: the duplicate-tail batch against 1 M-key state must
    // not degrade past a small factor of the first (empty-state) batch
    require(times.last < 5.0 * math.max(times.head, 1.0),
      s"per-batch latency degraded: ${times.mkString(", ")}")
  }

  /** One task-metrics accumulator for the measurement blocks: sums
    * `f(metrics)` over every task end while attached. Listener events
    * post asynchronously — detach via [[detachListener]], which gives
    * the bus a beat first (best-effort; the measured quantities are
    * MB-scale against KB-scale stragglers).
    */
  private def metricsListener(f: org.apache.spark.executor.TaskMetrics => Long)
    : (java.util.concurrent.atomic.AtomicLong,
       org.apache.spark.scheduler.SparkListener) = {
    val acc = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { acc.addAndGet(f(m)); () }
      }
    }
    (acc, l)
  }

  private def detachListener(spark: SparkSession,
                             l: org.apache.spark.scheduler.SparkListener,
                             ms: Long = 1200L): Unit = {
    Thread.sleep(ms)
    spark.sparkContext.removeSparkListener(l)
  }

  /** The streaming near-dup gate ([[Dedup.streamingNearDupGate]], x108)
    * over the SAME planted corpus as the lsh block, two orders of
    * magnitude above its 500-doc correctness fixture: 52 500 docs in 4
    * id-range file-drop batches, RocksDB state. Planted ground truth
    * makes every bound self-verdicting: each mutated copy (J ≈ 0.854)
    * arrives after its base, so rejected == planted-pairs-LSH-catches
    * (recall ≥ 0.9, same bound as batch) and NOTHING else — a single
    * false rejection on the 50 000 random docs would break the kept
    * count. State rows must equal the distinct (band, sig) buckets of
    * the batch banding plus one doc-store row per shingled doc
    * EXACTLY (the bit-parity the spec pins, held at scale) — ∝
    * docs × bands + docs, never pairs — and the measured payload must
    * be the 1× layout: each shingle array stored once, band buckets
    * holding only ords.
    */
  private def nearDupGate(spark: SparkSession): Unit = {
    import org.apache.spark.sql.types._
    val docs = plantedDocs(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-sgate")
    val inDir = s"$root/in"
    new java.io.File(inDir).mkdirs()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    Dedup.useRocksDbStateStore(ss)
    val schema = StructType(Seq(
      StructField("_1", StringType), StructField("_2", LongType)))
    import ss.implicits._
    val raw = ss.readStream.schema(schema).parquet(inDir).as[(String, Long)]
    var kept = 0L
    // measured shuffle weight of the whole drain (all three exchanges):
    // the round-13 payload-on-one-row layout ships each doc's text
    // once, not once per band row plus once per probe/vote — the
    // recorded bytes pin the drop against the round-12 measurement
    // (SCALE §8d) and hold the regression line
    val (shuffleBytes, shuffleListener) =
      metricsListener(_.shuffleWriteMetrics.bytesWritten)
    spark.sparkContext.addSparkListener(shuffleListener)
    val q = Dedup.streamingNearDupGate(raw, 0.8)(_._1, _._2)
      .toDF("text", "doc_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        kept += b.count(); ()
      }.start()
    // 4 id-range chunks: every mutated copy (ids >= NBase) lands after
    // its base doc, so "previously seen" ≡ "smaller id"
    val n = NBase + NDups
    val times = (0 until 4).map { i =>
      docs.filter(expr(s"doc_id * 4 div $n") === i)
        .select(col("text").as("_1"), col("doc_id").as("_2"))
        .write.mode("append").parquet(inDir)
      timed(q.processAllAvailable())._2
    }
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    // detach before the diagnostics below so their own shuffles stay
    // out of the measurement
    detachListener(spark, shuffleListener, 1500L)
    val drainShuffleBytes = shuffleBytes.get()
    // the batch banding's distinct bucket count — band-op rows must
    // equal it
    val buckets = Dedup.withMinhashSignature(
        Dedup.shingled(docs).filter(size(col("sh")) > 0))
      .select(explode(array((0 until 4).map { j =>
        concat_ws("|", lit(j.toString),
          md5(concat_ws("|", (0 until 3).map(o => col(s"h${j * 3 + o}")): _*)))
      }: _*)))
      .distinct().count()
    // measured state PAYLOAD through the state-store source: the
    // round-12 layout stores each shingled doc's hash array exactly
    // ONCE in the doc-keyed store (1×, down from the retired
    // per-bucket layout's k/r = 4 copies) and one 8-byte ord per doc
    // per band in the bucket store — the bytes/doc constant SCALE §8d
    // quotes. Operator ids are planner-assigned, so classify the
    // three stores by row count (reduce 0, doc store = shingled docs,
    // band store = buckets), which are pairwise distinct here.
    val shingledDocs = Dedup.shingled(docs)
      .filter(size(col("sh")) > 0).count()
    val shapes = (0 to 2).map(i =>
      scala.util.Try(gateStoreShape(ss, s"$root/ck", i)).getOrElse((0L, 0L)))
    val docStoreLongs = shapes.find(_._1 == shingledDocs).map(_._2)
      .getOrElse(-1L)
    val bandLongs = shapes.find(_._1 == buckets).map(_._2).getOrElse(-1L)
    val irreducibleLongs = Dedup.shingled(docs)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        graft.functions.Md5Longs(col("s"), Seq((1, 14))).getItem(0).as("g1"))
      .distinct().count()
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    val rejected = n - kept
    val bytesPerDoc = (docStoreLongs + bandLongs) * 8.0 / n
    println(f"STRESS neardupgate docs=$n rejected=$rejected " +
      f"planted=$NDups state_rows=$stateRows buckets=$buckets " +
      f"doc_store_longs=$docStoreLongs band_ord_longs=$bandLongs " +
      f"irreducible=$irreducibleLongs " +
      f"payload_bytes_per_doc=$bytesPerDoc%.1f " +
      f"drain_shuffle_mb=${drainShuffleBytes / 1048576.0}%.1f " +
      s"t_batches=${times.map(t => f"$t%.1f").mkString("/")}s")
    require(docStoreLongs == irreducibleLongs,
      s"doc store must hold each shingle set exactly once: " +
        s"$docStoreLongs stored vs $irreducibleLongs irreducible")
    require(bandLongs == 4L * shingledDocs,
      s"band buckets must hold one ord per doc per band: $bandLongs " +
        s"longs vs ${4L * shingledDocs} expected")
    require(rejected <= NDups,
      s"$rejected rejections for $NDups planted near-dups — false rejections on random docs")
    require(rejected >= (NDups * 0.9).toLong,
      s"gate recall ${rejected.toDouble / NDups} below banding expectation")
    require(times.last < 5.0 * math.max(times.head, 1.0),
      s"per-batch latency degraded: ${times.mkString(", ")}")
    require(stateRows == buckets + shingledDocs,
      s"state rows $stateRows != buckets $buckets + shingled docs " +
        s"$shingledDocs — rows must be ∝ docs × bands + docs")
    // the payload-on-one-row regression line, expressed PER DOC so it
    // scales with the corpus instead of hardcoding this run's size:
    // this drain measured 153.5 MB (2.99 KB/doc) on the round-12
    // layout (text on every band row, probe and vote) and 122.2 MB
    // (2.38 KB/doc) on the round-13 layout (text on exactly one row
    // end-to-end), both with this harness on this corpus (SCALE §8d).
    // Shuffle-write bytes are compressed row bytes, not timing; the
    // 2.73 KB/doc line sits between the two layouts with margin on
    // both sides, so a codec/accounting drift moves the printed
    // number while a payload fan-out regression (a ≥ 25 % per-doc
    // jump) still trips it.
    val shufflePerDoc = drainShuffleBytes.toDouble / n
    require(shufflePerDoc < 2800.0,
      f"gate drain shuffled $shufflePerDoc%.0f B/doc — above the " +
        "2.8 KB/doc payload-slimming line (round-13 measured " +
        "2.38 KB/doc; round-12's fan-out was 2.99 KB/doc)")
  }

  /** Shared state-store read-back of a gate checkpoint's operator
    * `opId` as a (rows, longs) shape: operator ids are planner-
    * assigned, so callers classify the three stores by their measured
    * shape rather than by id. The Try cascade covers the three
    * operator types across both gates: the stateless reduce's
    * flatMapGroupsWithState groupState (never written — 0 rows), the
    * band op's named ListState `ords` (flattened one row per element:
    * buckets = distinct keys, ord-long payload = row count), and the
    * TTL doc store's named ValueState `sh` (one row per doc, longs =
    * summed hash-array sizes; the unbounded doc store is
    * flatMapGroupsWithState and reads through the first arm).
    */
  private def gateStoreShape(ss: SparkSession, ckpt: String,
                             opId: Int): (Long, Long) = {
    def base = ss.read.format("statestore")
      .option("path", ckpt).option("operatorId", opId.toString)
    scala.util.Try {
      val st = base.load()
      (st.count(), st.select(coalesce(
        sum(size(col("value.groupState.value"))), lit(0)).cast("long"))
        .head.getLong(0))
    }.orElse(scala.util.Try {
      val st = base.option("stateVarName", "ords").load()
      (st.select(col("key")).distinct().count(), st.count())
    }).orElse(scala.util.Try {
      val st = base.option("stateVarName", "sh").load()
      val longs = scala.util.Try(
        st.select(coalesce(sum(size(col("value.value"))), lit(0))
          .cast("long")).head.getLong(0))
        .getOrElse(st.select(coalesce(sum(size(col("value"))), lit(0))
          .cast("long")).head.getLong(0))
      (st.count(), longs)
    }).getOrElse((0L, 0L))
  }

  /** The TTL gate at the same 52 500-doc planted corpus as
    * [[nearDupGate]], horizon wider than the corpus — the round-14
    * state-layout port's stress pin: with nothing ever beyond the
    * horizon the verdicts must equal the unbounded gate's (planted
    * recall ≥ 0.9, zero false rejections) AND the state must be the
    * unbounded layout's measured constant — each shingle set stored
    * exactly ONCE in the doc store (1×, not the retired per-bucket
    * k/r = 4×) and band buckets holding one 8-byte ord per doc per
    * band (≈ 336 B/doc total at this corpus's ~38 distinct shingles
    * per doc). The eviction half of the TTL contract is pinned by the
    * 1 µs-horizon ttlpipe block (worst-case churn) and the spec's
    * state-sweep test; this block pins the state CONSTANT at stress
    * cardinality.
    */
  private def ttlGate(spark: SparkSession): Unit = {
    import org.apache.spark.sql.types._
    val docs = plantedDocs(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-sttlg")
    val inDir = s"$root/in"
    new java.io.File(inDir).mkdirs()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    Dedup.useRocksDbStateStore(ss)
    val schema = StructType(Seq(
      StructField("_1", StringType), StructField("_2", LongType)))
    import ss.implicits._
    val raw = ss.readStream.schema(schema).parquet(inDir).as[(String, Long)]
    var kept = 0L
    val q = Dedup.streamingNearDupGateTtl(raw, 0.8, Long.MaxValue / 4)(_._1, _._2)
      .toDF("text", "doc_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        kept += b.count(); ()
      }.start()
    val n = NBase + NDups
    val times = (0 until 4).map { i =>
      docs.filter(expr(s"doc_id * 4 div $n") === i)
        .select(col("text").as("_1"), col("doc_id").as("_2"))
        .write.mode("append").parquet(inDir)
      timed(q.processAllAvailable())._2
    }
    q.stop()
    val shingledDocs = Dedup.shingled(docs)
      .filter(size(col("sh")) > 0).count()
    // the 1× irreducible: each shingled doc's distinct 56-bit hash
    // count (the state stores hashes, which can collide within a
    // doc) — the nearDupGate block's derivation, verbatim
    val irreducible = Dedup.shingled(docs)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        graft.functions.Md5Longs(col("s"), Seq((1, 14))).getItem(0).as("g1"))
      .distinct().count()
    val shapes = (0 to 2).map(i =>
      scala.util.Try(gateStoreShape(ss, s"$root/ck", i)).getOrElse((0L, 0L)))
    val docStoreLongs = shapes.find(_._1 == shingledDocs).map(_._2)
      .getOrElse(-1L)
    val bandShape = shapes.find(s =>
      s._1 != shingledDocs && s._1 > 0L).getOrElse((-1L, -1L))
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    val rejected = n - kept
    val bytesPerDoc = (docStoreLongs + bandShape._2) * 8.0 / n
    println(f"STRESS ttlgate docs=$n rejected=$rejected " +
      f"planted=$NDups doc_store_longs=$docStoreLongs " +
      f"band_ord_longs=${bandShape._2} irreducible=$irreducible " +
      f"state_bytes_per_doc=$bytesPerDoc%.1f " +
      s"t_batches=${times.map(t => f"$t%.1f").mkString("/")}s")
    require(docStoreLongs == irreducible,
      s"TTL doc store must hold each shingle set exactly once: " +
        s"$docStoreLongs stored vs $irreducible irreducible")
    require(bandShape._2 == 4L * shingledDocs,
      s"TTL band buckets must hold one ord per doc per band: " +
        s"${bandShape._2} longs vs ${4L * shingledDocs} expected")
    require(rejected <= NDups,
      s"$rejected rejections for $NDups planted near-dups — false " +
        "rejections on random docs")
    require(rejected >= (NDups * 0.9).toLong,
      s"TTL gate recall ${rejected.toDouble / NDups} below banding expectation")
  }

  /** The TTL-gated corpus pipe at 1 M lines — the x153 deployment
    * shape at three orders above its fixture, measuring the parse
    * discipline: the round-13 quarantine union planned the JSONL
    * source subtree twice (parse_factor measured 2.00×); round 14's
    * shared repartition above the split makes the second branch a
    * ReusedExchange, so the files must be PARSED ONCE. A task-metrics
    * listener sums `inputMetrics.recordsRead` over the drain; the
    * factor vs lines fed is the measurement (recorded in SCALE §5g as
    * a number, not an adjective) and the `require` holds the 1.1×
    * ceiling — a regression back to the duplicated subtree doubles
    * it. Correctness rides along: with run-of-2 duplicates at ord
    * gap 1 and horizon 1 µs, the admitted count must equal the
    * closed-form rule (clean docs minus both-clean identical-text
    * gap-1 pairs; the texts' shared suffix keeps DISTINCT neighbors
    * at Jaccard 0.5, under the 0.8 threshold).
    */
  private def ttlPipe(spark: SparkSession): Unit = {
    // 400 k default (20× the x153 fixture): the 1 µs horizon makes
    // EVERY band bucket expire every batch — deliberate worst-case
    // eviction churn, which also makes the block's wall-clock scale
    // with bucket count (1 M lines ≈ 15 min; override via env)
    val nLines = sys.env.getOrElse("SPARK_GRAFT_TTL_LINES", "400000").toLong
    require(nLines >= 400 && nLines % 4 == 0,
      s"SPARK_GRAFT_TTL_LINES=$nLines must be a positive multiple of 4 " +
        "(four equal drops) and large enough to measure anything")
    val root = java.nio.file.Files.createTempDirectory("graft-sttl")
    val inDir = s"$root/in"
    new java.io.File(inDir).mkdirs()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    Dedup.useRocksDbStateStore(ss)
    val (recordsRead, listener) = metricsListener(_.inputMetrics.recordsRead)
    val cur = graft.sources.CorpusIO.streamCurated(
      graft.sources.CorpusIO.readJsonlStream(ss, inDir,
        maxFilesPerTrigger = 4),
      s"$root/out", s"$root/ck", buckets = 8,
      nearDup = Some(0.8), nearDupTtlMicros = Some(1L))
    // attached for the whole drive (attaching only around the drain
    // would miss tasks the free-running trigger starts the moment a
    // file lands, BEFORE an attach could run); the staging range→text
    // writes land inside the window and RangeExec reports its rows as
    // input records, so the factor subtracts exactly nLines of them
    spark.sparkContext.addSparkListener(listener)
    val perBatch = nLines / 4
    val times = (0 until 4).map { i =>
      // ONE file per drop, moved atomically: the TTL gate's contract
      // is ord-ordered arrival, and a multi-file drop under a
      // free-running trigger can interleave (listFiles order × task
      // mtimes × mid-move triggers delivered a drop's files out of
      // id order at this scale — the reordering that motivated the
      // gate's eviction-watermark clamp)
      spark.range(i * perBatch, (i + 1) * perBatch)
        .select(pipeLineCol.as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$root/stage")
      val staged = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.startsWith("part-"))
      staged.zipWithIndex.foreach { case (f, fi) =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(inDir, f"chunk-$i%02d-$fi%02d.txt"))
      }
      timed(cur.processAllAvailable())._2
    }
    cur.stop()
    detachListener(spark, listener)
    // the staging range→text writes run inside the listener window
    // and RangeExec DOES report its rows as input records — exactly
    // nLines of them across the four drops — so the drain's own
    // JSONL-parse row count is the total minus that staging term
    val drainRecords = recordsRead.get() - nLines
    val parseFactor = drainRecords.toDouble / nLines
    // closed-form oracle: clean docs minus the second member of every
    // both-clean identical-text gap-1 pair (ids 2k, 2k+1)
    val clean = graft.sources.CorpusIO.cleanDocs(
      graft.sources.CorpusIO.readJsonl(spark, inDir))
    val cleanIds = clean.select(col("doc_id"))
    val rejected = cleanIds.as("a")
      .join(cleanIds.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1L &&
          pmod(col("a.doc_id"), lit(2L)) === 0L)
      .count()
    val expectAdmitted = clean.count() - rejected
    val admitted = graft.sources.CorpusIO
      .readCurated(spark, s"$root/out").count()
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    println(f"STRESS ttlpipe lines=$nLines admitted=$admitted " +
      f"expected=$expectAdmitted drain_records=$drainRecords " +
      f"parse_factor=$parseFactor%.2f " +
      s"t_batches=${times.map(t => f"$t%.1f").mkString("/")}s")
    require(admitted == expectAdmitted,
      s"TTL pipe admitted $admitted, closed form expects $expectAdmitted")
    require(parseFactor <= 1.1,
      f"TTL pipe parsed $parseFactor%.2f× the input — the single-parse " +
        "exchange reuse regressed to the duplicated source subtree")
  }

  /** The hot-bucket write-amplification pin (round 13): op 1's band
    * state is a ListState, so absorbing a batch WRITES O(new ords) —
    * an appendValue per new ord — where the retired layout called
    * `state.update(seq)` and re-serialized the WHOLE bucket on any
    * growth (8 MB per touched batch at a million-ord boilerplate
    * bucket). Plant one boilerplate bucket (identical docs share all
    * k/r = 4 band buckets) at two sizes, then drive an identical
    * 10-doc tail batch at each: the band op's per-batch state-write
    * accounting must be identical at BOTH bucket sizes — the write
    * cost tracks the new ords, never the bucket. Probe emission stays
    * O(bucket × new) per batch (the inherent candidate cost, the
    * hazard the banding choices bound); what this pin holds is that
    * state writes no longer amplify it.
    */
  private def hotBucketGate(spark: SparkSession): Unit = {
    val text = (1 to 40).map(i => s"hot$i").mkString(" ")
    def tailUpdateRows(b: Int, ttl: Boolean): Long = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      Dedup.useRocksDbStateStore(ss)
      import ss.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)](ss)
      val gated =
        if (ttl) Dedup.streamingNearDupGateTtl(
          ms.toDS(), 0.8, Long.MaxValue / 4)(_._1, _._2)
        else Dedup.streamingNearDupGate(ms.toDS(), 0.8)(_._1, _._2)
      val q = gated.toDF("text", "doc_id")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val _ = b.count(); ()
        }.start()
      ms.addData((0 until b).map(i => (text, i.toLong)))
      q.processAllAvailable()
      ms.addData((0 until 10).map(i => (text, (b + i).toLong)))
      q.processAllAvailable()
      // the band op's tail-batch updated-row count IS the state-write
      // accounting (one updated row per appended ord element). The
      // unbounded chain has ONE transformWithState op (the band op);
      // the TTL chain has two — the band op is the one whose updates
      // scale with appends, the doc store writes one row per NEW doc,
      // so summing both still counts O(new) rows only.
      val ops = q.lastProgress.stateOperators
      val tws = ops.filter(_.operatorName.toLowerCase
        .contains("transformwithstate"))
      if (tws.isEmpty) throw new IllegalStateException(
        "band transformWithState operator missing from progress: " +
          ops.map(_.operatorName).mkString(", "))
      val updated = tws.map(_.numRowsUpdated).sum
      q.stop()
      updated
    }
    Seq(false, true).foreach { ttl =>
      val label = if (ttl) "ttl" else "unbounded"
      val small = tailUpdateRows(300, ttl)
      val big = tailUpdateRows(600, ttl)
      println(s"STRESS hotbucket gate=$label tail_updates_at_300=$small " +
        s"tail_updates_at_600=$big")
      // relative bound (big vs small in the same run), not an exact
      // equality against a hardcoded constant: a bucket rewrite makes
      // the tail write count scale with the bucket (big ≈ 2× small),
      // while metrics-accounting drift moves both sides together
      require(big <= small,
        s"hot-bucket tail-batch state writes scale with the bucket " +
          s"($small at 300 ords vs $big at 600, $label gate) — the " +
          "O(new) ListState append has regressed to a bucket rewrite")
      // structural per-row ceiling: 10 docs × 4 band appends + (TTL
      // only) 10 doc-store rows — a row-count invariant of the
      // layout, not an environment-sensitive byte measurement
      val cap = if (ttl) 50L else 40L
      require(small <= cap,
        s"tail batch of 10 docs wrote $small state rows ($label gate) — " +
          s"more than the layout's $cap-row structural ceiling")
    }
    // the circuit breaker's probe bound: the same 600-ord planted
    // megabucket, tail batch of 10, with hotBucketCap=50 — every tail
    // doc hits a frozen bucket and emits ONE reject row instead of
    // O(bucket) probes. Shuffle-write RECORDS over the tail batch is
    // the emission measurement (row counts, codec-independent);
    // uncapped, the 10 tail docs alone fan ≥ 600 × 10 × 4 probe rows,
    // so a 10× relative drop proves the breaker without hardcoding
    // this corpus's exact row census.
    def tailShuffleRecords(capOpt: Option[Int]): Long = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      Dedup.useRocksDbStateStore(ss)
      import ss.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)](ss)
      val q = Dedup.streamingNearDupGate(ms.toDS(), 0.8,
          hotBucketCap = capOpt.getOrElse(Int.MaxValue))(_._1, _._2)
        .toDF("text", "doc_id")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val _ = b.count(); ()
        }.start()
      ms.addData((0 until 600).map(i => (text, i.toLong)))
      q.processAllAvailable()
      val (records, l) = metricsListener(_.shuffleWriteMetrics.recordsWritten)
      spark.sparkContext.addSparkListener(l)
      ms.addData((0 until 10).map(i => (text, (600 + i).toLong)))
      q.processAllAvailable()
      q.stop()
      detachListener(spark, l)
      records.get()
    }
    val uncapped = tailShuffleRecords(None)
    val capped = tailShuffleRecords(Some(50))
    println(s"STRESS hotbucket tail_shuffle_records uncapped=$uncapped " +
      s"capped_at_50=$capped")
    require(capped * 10 <= uncapped,
      s"hot-bucket circuit breaker did not bound probe emission: " +
        s"$capped tail rows at cap=50 vs $uncapped uncapped — " +
        "expected at least a 10× drop on a 600-ord megabucket")
  }

  /** The streaming index absorber with size-ratio auto-compaction
    * ARMED (ratio 4) at 16 000 base vectors + 8 × 2 000-vector
    * micro-batches — the maintenance loop's COST side, measured (the
    * content-invariance side is the spec's job):
    *  - amortization: total bytes rewritten by compaction stay within
    *    (ratio + 2) × the bytes appended — the geometric trigger's
    *    write-amplification argument as a number, not an adjective;
    *  - bounded fragmentation: the manifest's referenced generation
    *    count stays ≤ 6 after EVERY batch (the small-dirs listing
    *    hazard the trigger exists for — without it, one generation
    *    per batch forever);
    *  - the trigger genuinely fires (≥ 1 compaction) at this
    *    batch/corpus ratio.
    * The default 15-min retention grace keeps every generation this
    * short run creates on disk, so the end-of-run `gens/` census sees
    * the full write history (nothing silently deleted mid-run).
    */
  private def absorber(spark: SparkSession): Unit = {
    import spark.implicits._
    val dim = 16
    val nBase = 16000L
    val batches = 8
    val per = 2000L
    val ratio = 4L
    val root = java.nio.file.Files.createTempDirectory("graft-sabsorb")
    val path = s"$root/sq"
    val emb = plantedEmb(spark, nBase + batches * per, dim)
      .withColumn("label",
        pmod(col("vec_id") * 13L + 5L, lit(8L)).cast("int"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < nBase), path,
      IvfCodec.Sdc)
    val rest = emb.filter(col("vec_id") >= nBase)
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect().sortBy(_._1)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float], Int)](ss)
    val q = Similarity.streamAppendToIvfIndex(
      ms.toDS().toDF("vec_id", "embedding", "label"),
      path, s"$root/ck", compactRatio = ratio)
    var maxGens = 0
    // a throw mid-drive (processAllAvailable or the gens census) must
    // stop the query — a failed stress run would otherwise leak a live
    // streaming query and its checkpoint threads for the rest of the
    // JVM (the ExtensionsSpec drive-helper discipline)
    val times = try rest.grouped(per.toInt).map { chunk =>
      ms.addData(chunk.toSeq)
      val (_, dt) = timed(q.processAllAvailable())
      maxGens = math.max(maxGens,
        Similarity.referencedGens(spark, path).size)
      dt
    }.toSeq catch { case e: Throwable =>
      try q.stop() catch { case s: Throwable => e.addSuppressed(s) }
      throw e
    }
    q.stop()
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = hfs.listStatus(new org.apache.hadoop.fs.Path(s"$path/gens"))
      .filter(_.isDirectory)
      .map(d => (d.getPath.getName, hfs.getContentSummary(d.getPath).getLength))
    val aBytes = sizes.filter(_._1.startsWith("gen=a")).map(_._2).sum
    val cBytes = sizes.filter(_._1.startsWith("gen=c")).map(_._2).sum
    val nCompacts = sizes.count(_._1.startsWith("gen=c"))
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    val amp = cBytes.toDouble / math.max(1L, aBytes)
    println(f"STRESS absorber base=$nBase batches=$batches per=$per " +
      f"ratio=$ratio compactions=$nCompacts max_ref_gens=$maxGens " +
      f"appended_bytes=$aBytes rewritten_bytes=$cBytes amp=$amp%.2f " +
      s"t_batches=${times.map(t => f"$t%.1f").mkString("/")}s")
    require(nCompacts >= 1,
      "the size-ratio trigger never fired across 8 batches at 8:1 " +
        "corpus/batch — the auto-compaction loop is dead")
    require(maxGens <= 6,
      s"referenced generations reached $maxGens — the trigger is not " +
        "bounding fragmentation (one gen per batch is the hazard)")
    require(amp <= (ratio + 2).toDouble,
      f"compaction rewrote $amp%.2f× the appended bytes — the " +
        f"geometric trigger's amortization (≤ ratio + 2 = ${ratio + 2}) " +
        "has regressed")
  }

  /** The distributed backfill seed at 100 k metrics — the
    * driver-memory bound as a test: chunkedGatedChunks carries the
    * per-metric gate seed across 4 chunks as a checkpointed
    * DISTRIBUTED frame (the retired per-chunk collect() was an
    * O(metrics) driver map), and planted cross-chunk violations prove
    * the seed is semantically live at this cardinality:
    *  - every chunk-2 row sits BELOW its metric's chunk-1 max, and is
    *    its metric's ONLY row in the chunk — the in-chunk window sees
    *    no predecessor, so only the cross-chunk seed can reject it;
    *  - a tenth of chunk 3 is NaN (the sanitize filter's share);
    *  - every chunk after the first must emit exactly one anchor row
    *    per seeded metric.
    * Driver-side state across the run: the per-chunk count pairs this
    * block itself collects — nothing else (the bound the streaming
    * gate's distributed initial-state seed set, now matched by
    * backfill).
    */
  private def backfillSeed(spark: SparkSession): Unit = {
    val nMetrics = 100000L
    val times = Seq(100L, 200L, 150L, 300L) // per-chunk time plan
    val pts = spark.range(4L * nMetrics).select(
      concat(lit("m"), pmod(col("id"), lit(nMetrics))).as("metric"),
      col("id").as("seq"),
      element_at(array(times.map(lit): _*),
        (col("id") / nMetrics).cast("int") + 1).as("time"),
      when((col("id") / nMetrics).cast("int") === 3 &&
          pmod(col("id"), lit(10L)) === 0L, lit(Double.NaN))
        .otherwise(lit(1.0)).as("value"))
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val (_, dt) = timed(
      graft.sources.BulkImport.chunkedGatedChunks(spark, pts, 4) {
        (batch, _) =>
          // one bounded action per chunk (2 rows): kept vs anchor
          val byAnchor = batch.groupBy("anchor").count().collect()
            .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
          counts += ((byAnchor.getOrElse(false, 0L),
            byAnchor.getOrElse(true, 0L)))
      })
    println(f"STRESS backfillseed metrics=$nMetrics chunks=4 " +
      s"kept=${counts.map(_._1).mkString("/")} " +
      s"anchors=${counts.map(_._2).mkString("/")} " + f"t=$dt%.1fs")
    require(counts.map(_._1).toSeq ==
        Seq(nMetrics, nMetrics, 0L, nMetrics - nMetrics / 10),
      s"gate kept-counts drifted from the planted closed form: $counts " +
        "(chunk 2 must be rejected ENTIRELY by the cross-chunk seed)")
    require(counts.map(_._2).toSeq == Seq(0L, nMetrics, nMetrics, nMetrics),
      s"anchor counts drifted from one-per-seeded-metric: $counts")
  }

  /** Training-shard writer at 1 M docs: the 256-bucket two-phase
    * running sum must (a) place every doc in exactly one shard,
    * (b) produce the contiguous shard range the token total implies,
    * and (c) keep every non-final shard's token total within one
    * max-doc length of the target — the balance claim that makes the
    * shards usable as training files. Doc lengths are a pure function
    * of the id (5–50 words), so the corpus generates distributed and
    * the expected geometry is arithmetic.
    */
  private def shards(spark: SparkSession): Unit = {
    val n = 1000000L
    val maxDoc = 50L
    val shardTokens = 100000L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      array_join(
        transform(
          sequence(lit(1),
            (pmod(xxhash64(col("id")), lit(maxDoc - 4)) + lit(5)).cast("int")),
          j => concat(lit("t"), j.cast("string"))),
        " ").as("text"))
    val (rows, t) = timed {
      graft.operators.TextAnalysis.trainingShards(docs, shardTokens)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("toks"))
        .collect()
    }
    val nDocs = rows.map(_.getLong(1)).sum
    val total = rows.map(_.getLong(2)).sum
    val shardIds = rows.map(_.getLong(0)).sorted
    val nonFinal = rows.filter(_.getLong(0) < shardIds.last)
    val worst = if (nonFinal.isEmpty) 0L
      else nonFinal.map(r => math.abs(r.getLong(2) - shardTokens)).max
    println(f"STRESS shards docs=$n shards=${rows.length} " +
      f"total_toks=$total worst_dev=$worst t=$t%.1fs")
    require(nDocs == n, s"placed $nDocs docs, expected $n")
    // contiguous 0..k: maxDoc < shardTokens means no shard can be
    // skipped; the count matches the token total's geometry (the last
    // doc's straddle decides whether total div T rounds up or down)
    require(shardIds.head == 0L && shardIds.last == shardIds.length - 1,
      s"shard range not contiguous: 0..${shardIds.last} over " +
        s"${shardIds.length} ids")
    require(math.abs(shardIds.length - total / shardTokens) <= 1,
      s"${shardIds.length} shards for $total tokens at $shardTokens each")
    require(worst < maxDoc,
      s"a non-final shard deviates by $worst tokens (max doc $maxDoc)")
  }

  /** Layout family at 1 M docs — two claims that must survive scale:
    * (a) `epochShards`' epoch-partitioned two-phase running sum keeps
    * every epoch an EXACT partition of the corpus (same doc count and
    * token total in each epoch) at 2 epochs × 1 M docs fed by one
    * scan; (b) the Z-order skip audit's pruning claim is EXACT when
    * both dimensions are dense (1 M ids, 100 k hashed n_chars values
    * populate all 256 bins of both dims): at F = 64 the file id is
    * the Morton key's top 6 bits — (c7,d7,c6,d6,c5,d5) — so fixing
    * either dimension leaves exactly 2³ = 8 reachable files, while
    * the linear layout resolves its sort column to exactly 1 file and
    * a predicate on the other dimension reads ALL 64. The stress
    * requires those closed forms to the digit, not "roughly sqrt(F)".
    */
  private def layout(spark: SparkSession): Unit = {
    val n = 1000000L
    val maxDoc = 50L
    val docs = spark.range(n).select(col("id").as("doc_id"),
      array_join(
        transform(
          sequence(lit(1),
            (pmod(xxhash64(col("id")), lit(maxDoc - 4)) + lit(5)).cast("int")),
          j => concat(lit("t"), j.cast("string"))),
        " ").as("text"),
      pmod(xxhash64(col("id"), lit(7L)), lit(100000L)).as("n_chars"))
    val (perEpoch, t1) = timed {
      graft.operators.TextAnalysis.epochShards(docs, 100000L, 2)
        .groupBy("epoch")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("toks"),
          countDistinct("shard").as("n_shards"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
    }
    println(f"STRESS layout epochs=${perEpoch.length} " +
      s"docs=${perEpoch.map(_._2).mkString("/")} " +
      s"toks=${perEpoch.map(_._3).mkString("/")} " +
      s"shards=${perEpoch.map(_._4).mkString("/")} " + f"t1=$t1%.1fs")
    require(perEpoch.map(_._1).toSeq == Seq(0L, 1L))
    require(perEpoch.forall(_._2 == n),
      s"an epoch lost documents: ${perEpoch.mkString(", ")}")
    require(perEpoch.map(_._3).distinct.length == 1,
      s"epoch token totals diverged: ${perEpoch.mkString(", ")}")
    val (audit, t2) = timed {
      graft.operators.Layout.layoutSkipAudit(
        docs.select("doc_id", "n_chars"), 64).collect()
    }
    val m = audit.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    println(f"STRESS layout audit rows=${audit.length} " +
      s"zorder_avg=${m(("zorder", "doc_id")).getDouble(4)}/" +
      s"${m(("zorder", "n_chars")).getDouble(4)} " +
      s"linear_avg=${m(("linear", "doc_id")).getDouble(4)}/" +
      s"${m(("linear", "n_chars")).getDouble(4)} " + f"t2=$t2%.1fs")
    require(audit.length == 4)
    audit.foreach { r => require(r.getLong(2) == 64L && r.getLong(3) == 256L,
      s"expected 64 files / 256 dense probes, got $r") }
    require(m(("linear", "doc_id")).getDouble(4) == 1.0 &&
      m(("linear", "doc_id")).getLong(5) == 1L,
      "linear must resolve its sort column to exactly one file")
    require(m(("linear", "n_chars")).getDouble(4) == 64.0,
      "dense corpus: linear must read ALL files on the unsorted dim")
    Seq("doc_id", "n_chars").foreach { d =>
      require(m(("zorder", d)).getDouble(4) == 8.0 &&
        m(("zorder", d)).getLong(5) == 8L,
        s"zorder must read exactly 2^3 files per $d probe at F=64")
    }
  }

  /** Shared 1 M-line JSONL synthesis of the pipe stress blocks — pure
    * function of the id: run-of-2 duplicate texts (≈ 500 k distinct
    * keys), every 97th line malformed JSON, every 101st (non-malformed)
    * parses but drops its text field.
    */
  private def pipeLineCol: Column = {
    val txt = concat(lit("t"), expr("id div 2"), lit(" aa bb cc dd"))
    val lang = when(pmod(col("id"), lit(2L)) === 0, "en").otherwise("de")
    when(pmod(col("id"), lit(97L)) === 0, concat(lit("{broken "), col("id")))
      .when(pmod(col("id"), lit(101L)) === 0,
        concat(lit("{\"doc_id\": "), col("id"),
          lit(", \"lang\": \""), lang,
          lit("\", \"source\": \"s\", \"n_chars\": 1}")))
      .otherwise(concat(lit("{\"doc_id\": "), col("id"),
        lit(", \"text\": \""), txt,
        lit("\", \"lang\": \""), lang,
        lit("\", \"source\": \"s\", \"n_chars\": "), length(txt), lit("}")))
  }

  /** The WHOLE streaming corpus pipe ([[graft.sources.CorpusIO
    * .streamCurated]]: JSONL parse → clean/quarantine split →
    * keyed-state dedup → partitioned curated sink) at ~1 M lines with
    * a planted quarantine fraction, on the RocksDB provider — the
    * production state-store setting for crawl-cardinality corpus
    * ingest (the x103 correctness fixture runs hundreds of rows on
    * the default provider). Then [[graft.sources.CorpusIO
    * .compactCurated]] folds the 4 batch trees and the read-back must
    * still equal the batch oracle — the full lifecycle at scale.
    * Self-verdicting bounds: admitted == distinct clean texts
    * (computed batch-side from the same files), state rows ==
    * admitted, poison lines (malformed + field-incomplete) never
    * surface, the committed content folds into generations with
    * bounded leaf dirs — and the GENERATIONAL claim held where it
    * matters: a 1 000-line follow-up drop folds into its own tiny
    * generation while the ~500 k-doc founding generation's files stay
    * bit-for-bit untouched (snapshot-equality `require`d); both
    * compact times print for eyes (the follow-up is ~fixed overhead).
    */
  private def corpusPipe(spark: SparkSession): Unit = {
    val nLines = sys.env.getOrElse("SPARK_GRAFT_PIPE_LINES", "1000000").toLong
    require(nLines >= 400 && nLines % 4 == 0,
      s"SPARK_GRAFT_PIPE_LINES=$nLines must be a positive multiple of 4 " +
        "(four equal drops) and large enough to measure anything")
    val root = java.nio.file.Files.createTempDirectory("graft-spipe")
    val inDir = s"$root/in"
    new java.io.File(inDir).mkdirs()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "32")
    Dedup.useRocksDbStateStore(ss)
    val (recordsRead, listener) = metricsListener(_.inputMetrics.recordsRead)
    val cur = graft.sources.CorpusIO.streamCurated(
      graft.sources.CorpusIO.readJsonlStream(ss, inDir,
        maxFilesPerTrigger = 4),
      s"$root/out", s"$root/ck", buckets = 8)
    // attached for the whole drive (see ttlPipe — attaching around
    // the drain alone misses tasks the free-running trigger starts
    // the moment a file lands); the staging range rows land in the
    // window and are subtracted from the factor
    spark.sparkContext.addSparkListener(listener)
    val perBatch = nLines / 4
    val times = (0 until 4).map { i =>
      spark.range(i * perBatch, (i + 1) * perBatch)
        .select(pipeLineCol.as("value"))
        .coalesce(4).write.mode("overwrite").text(s"$root/stage")
      // one logical drop per batch: move the staged text files in
      val staged = new java.io.File(s"$root/stage").listFiles()
        .filter(_.getName.startsWith("part-"))
      staged.zipWithIndex.foreach { case (f, fi) =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(inDir, f"chunk-$i%02d-$fi%02d.txt"))
      }
      timed(cur.processAllAvailable())._2
    }
    val stateRows = cur.lastProgress.stateOperators.map(_.numRowsTotal).sum
    cur.stop()
    detachListener(spark, listener)
    val parseFactor = (recordsRead.get() - nLines).toDouble / nLines
    // batch oracle over the same files
    val clean = graft.sources.CorpusIO.cleanDocs(
      graft.sources.CorpusIO.readJsonl(spark, inDir))
    val expectAdmitted = clean.select(md5(col("text"))).distinct().count()
    val (_, tCompact1) = timed(graft.sources.CorpusIO
      .compactCurated(spark, s"$root/out", None))
    // generational proportionality AT SCALE: a small follow-up drop
    // (1 000 lines against the ~500 k-doc founding generation) must
    // fold into a tiny fresh generation while the founding gen's
    // files stay bit-for-bit in place — the per-run cost ∝ intake
    // claim, held where it matters, not just at the 6-doc spec scale
    def parquetSnap(d: java.io.File): Set[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(d).map(f => (f.getPath, f.lastModified, f.length)).toSet
    }
    val foundingGen = new java.io.File(s"$root/out/data/batch=compacted")
    val snap0 = parquetSnap(foundingGen)
    spark.range(nLines, nLines + 1000L)
      .select(pipeLineCol.as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$root/stage")
    new java.io.File(s"$root/stage").listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(inDir, "chunk-tail.txt"))
      }
    val cur2 = graft.sources.CorpusIO.streamCurated(
      graft.sources.CorpusIO.readJsonlStream(ss, inDir,
        maxFilesPerTrigger = 4),
      s"$root/out", s"$root/ck", buckets = 8)
    try cur2.processAllAvailable() finally cur2.stop()
    val (_, tCompact2) = timed(graft.sources.CorpusIO
      .compactCurated(spark, s"$root/out", None))
    require(parquetSnap(foundingGen) == snap0,
      "generational compact rewrote the founding generation to absorb a 1k-line intake")
    // the proportionality PROOF is the bit-for-bit snapshot above (no
    // founding byte moved to absorb the intake) — a wall-clock
    // tCompact2 < tCompact1 require was dropped deliberately: with the
    // incremental manifest the small-intake compact is nearly pure
    // fixed job overhead (~0.7 s vs ~1.5 s measured), so GC/IO noise
    // on a loaded host could invert the comparison even when the
    // generational property holds; both times still print for eyes
    val admitted = graft.sources.CorpusIO
      .readCurated(spark, s"$root/out").count()
    val expectAdmitted2 = graft.sources.CorpusIO.cleanDocs(
      graft.sources.CorpusIO.readJsonl(spark, inDir))
      .select(md5(col("text"))).distinct().count()
    val manifestDocs = graft.sources.CorpusIO
      .readManifest(spark, s"$root/out").agg(sum("n_docs")).head.getLong(0)
    val batchDirs = new java.io.File(s"$root/out/data").listFiles()
      .count(_.getName.startsWith("batch="))
    def leaves(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val kids = f.listFiles().toSeq
        if (kids.exists(_.isDirectory)) kids.flatMap(leaves) else Seq(f)
      } else Nil
    val leafDirs = leaves(new java.io.File(s"$root/out/data")).size
    new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    println(f"STRESS corpuspipe lines=$nLines admitted=$admitted " +
      f"distinct=$expectAdmitted2 state_rows=$stateRows " +
      f"parse_factor=$parseFactor%.2f " +
      f"batch_dirs=$batchDirs leaf_dirs=$leafDirs " +
      f"t_compact=$tCompact1%.1f/$tCompact2%.1fs " +
      s"t_batches=${times.map(t => f"$t%.1f").mkString("/")}s")
    require(admitted == expectAdmitted2,
      s"pipe admitted $admitted != batch-distinct $expectAdmitted2")
    require(manifestDocs == admitted,
      s"manifest says $manifestDocs docs, tree has $admitted")
    require(stateRows == expectAdmitted,
      s"state rows $stateRows != distinct keys before the tail drop " +
        s"$expectAdmitted")
    // founding generation + the tail's tiny generation (their size
    // ratio is ~500:1 — far outside the merge trigger)
    require(batchDirs == 2, s"expected two generations, got $batchDirs")
    require(leafDirs <= 2 * (2 * 8 + 1),
      s"$leafDirs leaf dirs for 2 gens × (2 langs × 8 buckets + 1 manifest)")
    require(times.last < 5.0 * math.max(times.head, 1.0),
      s"per-batch latency degraded: ${times.mkString(", ")}")
  }
}
