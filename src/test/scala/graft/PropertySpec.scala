package graft

import graft.operators.{HtaService, Ingest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Randomized invariants from SURVEY §5.2 over *generated* point sets
  * (boundary-heavy: times cluster near bucket edges on purpose).
  */
class PropertySpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600000000000L
  private val T0 = 1704067200000000000L

  /** Random µs-aligned, 2-decimal-value point streams: per metric mostly
    * ascending (so the gate keeps a dense set), with NaN/Inf rows,
    * boundary-exact timestamps, out-of-order regressions, and replays.
    */
  private def genPoints(seed: Long, n: Int): DataFrame = {
    val r = new Random(seed)
    var seq = 0L
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Long)]
    (0 until 4).foreach { m =>
      var t = T0 + r.nextLong(2L * H / 1000L) * 1000L // µs-aligned
      (1 to n / 4).foreach { _ =>
        t += (r.nextLong(30L * 60000000L) + 1L) * 1000L // ≤ 30 min µs gaps
        if (r.nextInt(6) == 0) t = (t / H + 1) * H // land exactly on a boundary
        val value =
          if (r.nextInt(20) == 0) Double.NaN
          else if (r.nextInt(25) == 0) Double.PositiveInfinity
          else math.round(r.between(-500.0, 500.0) * 100) / 100.0
        seq += 1
        rows += (("m" + m, t, value, seq))
        if (r.nextInt(10) == 0) { // stale replay / regression
          seq += 1
          rows += (("m" + m, t - r.nextLong(H / 1000L) * 1000L, 1.0, seq))
        }
      }
    }
    rows.toSeq.toDF("metric", "time", "value", "seq")
  }

  private def sanitize(seed: Long, n: Int = 400): DataFrame =
    Ingest.sanitize(genPoints(seed, n)).cache()

  test("tiling invariants hold on random boundary-heavy point sets") {
    (1L to 3L).foreach { seed =>
      val clean = sanitize(seed)
      val nPts = clean.count()
      assert(nPts > 100, "generator sanity")
      val lvl = Ingest.rollup(clean, H).cache()
      assert(lvl.agg(sum("cnt")).head.getLong(0) == nPts)
      val act = lvl.groupBy("metric").agg(sum("active_us").as("a"))
        .as[(String, Long)].collect().toMap
      val span = clean.groupBy("metric")
        .agg((((max("time") - min("time")) / 1000).cast("long")).as("s"))
        .as[(String, Long)].collect().toMap
      assert(act == span, s"seed $seed")
    }
  }

  test("integral is invariant under any bucket width (random sets)") {
    (4L to 6L).foreach { seed =>
      val clean = sanitize(seed)
      def tot(i: Long) = Ingest.rollup(clean, i).groupBy("metric")
        .agg(sum("integral_cus").as("x")).as[(String, Long)].collect().toMap
      val w1 = tot(H)
      assert(w1 == tot(7L * 61000000000L) && w1 == tot(10L * H), s"seed $seed")
    }
  }

  test("hierarchy: merge-of-children == direct rollup at every level") {
    val clean = sanitize(7L)
    val ladder = SparkEntry.Q.Ladder
    val direct = ladder.map(i => Ingest.rollup(clean, i))
    val merged = ladder.tail.scanLeft(direct.head)((c, i) => Ingest.mergeToLevel(c, i))
    direct.zip(merged).foreach { case (d, m) =>
      assert(d.exceptAll(m).isEmpty && m.exceptAll(d).isEmpty)
    }
  }

  test("F3 idempotence: re-ingest of any replayed suffix is a no-op") {
    val pts = genPoints(8L, 300)
    val clean = Ingest.sanitize(pts).cache()
    // replay: original stream followed by a full replay with later seqs
    val replay = pts.unionByName(
      pts.withColumn("seq", col("seq") + 1000000L))
    val clean2 = Ingest.sanitize(replay)
    assert(clean2.count() == clean.count())
    assert(clean2.select("metric", "time", "value")
      .exceptAll(clean.select("metric", "time", "value")).isEmpty)
  }

  test("W4 round-trip: delta-encode then decode is the identity") {
    val clean = sanitize(9L)
    val tl = HtaService.timeline(clean, SparkEntry.Q.Ladder,
      T0, T0 + 72L * H, Long.MaxValue)
    val enc = HtaService.deltaEncode(tl, "bucket_start")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("metric").orderBy("bucket_start")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val dec = enc.withColumn("decoded", sum("time_delta").over(w))
    assert(dec.filter(col("decoded") =!= col("bucket_start")).count() == 0)
  }

  test("aggregateRange v1 == v2 on random ranges over random data") {
    val clean = sanitize(10L)
    val r = new Random(11L)
    (1 to 3).foreach { _ =>
      val a = T0 + r.nextLong(60L * H)
      val b = a + 1 + r.nextLong(12L * H)
      val v1 = HtaService.aggregateRange(clean, a, b)
      val v2 = HtaService.aggregateRangeFast(clean,
        Ingest.rollup(clean, SparkEntry.Q.Ladder.head), SparkEntry.Q.Ladder, a, b)
      assert(v1.exceptAll(v2).isEmpty && v2.exceptAll(v1).isEmpty, s"[$a,$b]")
    }
  }

  test("chunked backfill level0 is invariant under chunk count (random data)") {
    val pts = genPoints(12L, 300)
    val expect = Ingest.rollup(Ingest.sanitize(pts), H)
    Seq(1, 3, 7).foreach { nChunks =>
      val store = new graft.streaming.HtaStore(
        java.nio.file.Files.createTempDirectory(s"hta-prop-$nChunks").toString, H)
      graft.sources.BulkImport.chunkedBackfill(spark, pts, store, nChunks)
      val got = store.level0(spark)
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
        s"nChunks=$nChunks")
    }
  }

  test("gapFill equals brute-force last-at-or-before on random data") {
    val clean = sanitize(13L)
    val step = 6L * H
    val got = graft.operators.TimeSeriesOps
      .gapFill(clean, T0, T0 + 48L * H, step)
      .as[(String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val samples = clean.select("metric", "time", "value")
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for (((m, t), v) <- got) {
      val expect = samples.get(m).flatMap(
        _.takeWhile(_._2 <= t).lastOption.map(_._3))
      assert(v == expect, s"($m, $t)")
    }
    // every (metric, grid instant) is present exactly once
    val metrics = samples.keySet
    val gridSize = ((48L * H) / step + 1).toInt
    assert(got.size == metrics.size * gridSize)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("stratifiedSample == local ground truth; growth and row order respected") {
    import graft.operators.TextAnalysis
    val langs = Vector("en", "de", "fr")
    def mk(ids: Seq[Long]) =
      ids.map(i => (i, langs((i % 3).toInt), s"txt $i"))
        .toDF("doc_id", "lang", "text")
    def rk(id: Long) =
      java.lang.Long.parseLong(md5hex(s"smp:$id").substring(0, 15), 16)
    val k = 5
    def expected(ids: Seq[Long]) =
      ids.groupBy(i => langs((i % 3).toInt)).toSeq.flatMap { case (l, g) =>
        g.map(i => (i, rk(i))).sortBy { case (i, r) => (r, i) }.take(k)
          .zipWithIndex.map { case ((i, r), idx) => (l, i, r, idx + 1L) }
      }.toSet
    val base = 0L until 60L
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.stratifiedSample(df, "lang", k)
        .as[(String, Long, Long, Long)].collect().toSet
    assert(run(mk(base)) == expected(base))
    // content addressing: row order / partitioning never changes the sample
    assert(run(mk(base.reverse).repartition(7)) == expected(base))
    // corpus growth: a doc's membership changes only because a
    // better-ranked doc ENTERED its stratum — the sample is always
    // the k smallest ranks of whatever the stratum now contains
    val grown = base ++ (100L until 140L)
    assert(run(mk(grown)) == expected(grown))
  }

  test("tfidfTopTerms == local recomputation on random corpora") {
    import graft.operators.TextAnalysis
    val r = new Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val corpus = (0L until 30L).map(i =>
      (i, Seq.fill(3 + r.nextInt(10))(vocab(r.nextInt(vocab.size))).mkString(" ")))
    val k = 3
    val got = TextAnalysis.tfidfTopTerms(corpus.toDF("doc_id", "text"), k)
      .as[(Long, String, Long, Long, Long, Double)].collect().toSet
    val tf = corpus.flatMap { case (id, t) =>
      t.split(" ").groupBy(identity).map { case (w, a) => (id, w, a.length.toLong) } }
    val df = tf.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong).toMap
    val n = corpus.size.toLong
    val want = corpus.flatMap { case (id, _) =>
      tf.filter(_._1 == id)
        .map { case (_, w, f) => (w, f, df(w), (f * n).toDouble / df(w).toDouble) }
        .sortBy { case (w, _, _, s) => (-s, w) }.take(k).zipWithIndex
        .map { case ((w, f, d, s), idx) => (id, w, f, d, idx + 1L, s) }
    }.toSet
    assert(got == want)
  }

  test("noveltyRatio is consistent with decontaminate on the fixture corpus") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.read(spark, SparkTestBase.sf, "documents")
    val ref = col("doc_id") % 20 === 0
    val nov = Dedup.noveltyRatio(docs, ref)
      .as[(Long, Long, Long, Double)].collect()
    assert(nov.nonEmpty)
    nov.foreach { case (id, grams, seen, novelty) =>
      assert(grams >= 1 && seen >= 0 && seen <= grams, s"doc $id")
      assert(novelty == (grams - seen).toDouble / grams.toDouble, s"doc $id")
    }
    // the docs decontaminate flags are exactly the n_seen > 0 docs,
    // with identical overlap counts (shared reference convention)
    val dec = Dedup.decontaminate(docs, ref)
      .as[(Long, Long)].collect().toMap
    assert(nov.filter(_._3 > 0).map(t => t._1 -> t._3).toMap == dec)
  }

  test("packSequences == local prefix-sum ground truth on random corpora") {
    import graft.operators.TextAnalysis
    val r = new Random(97)
    val docs = (0L until 80L).map { i =>
      (i, Seq.fill(1 + r.nextInt(40))("w").mkString(" "))
    }
    val bin = 17L
    val expected = docs.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, text)) =>
        val n = text.split(" ").length.toLong
        (id, n, cum + n)
      }.drop(1)
      .map { case (id, n, cum) =>
        (id, n, cum - n, (cum - n) / bin, (cum - 1) / bin) }.toSet
    // partitioning / row order never changes the packed index
    val got = TextAnalysis.packSequences(
      docs.reverse.toDF("doc_id", "text").repartition(7), bin, 11L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("mixtureWeights plan is feasible and tight on random corpora") {
    import graft.operators.TextAnalysis
    val r = new Random(41)
    val docs = (0L until 120L).map { i =>
      (i, s"src${i % 7}", Seq.fill(1 + r.nextInt(30))("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val weights = (0 until 7).map(i => (s"src$i", 1L + r.nextInt(5)))
      .toDF("source", "weight")
    val rows = TextAnalysis.mixtureWeights(docs, weights)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val wTotal = rows.map(_._2).sum
    val tStar = rows.head._5
    // T* is exactly the binding source's cap; every keep is feasible
    // and exactly realizes its share of T*
    assert(tStar == rows.map(t => t._4 * wTotal / t._2).min)
    rows.foreach { case (_, w, _, have, ts, keep, rate) =>
      assert(ts == tStar && keep == w * tStar / wTotal && keep <= have)
      assert(rate == keep.toDouble / have.toDouble)
    }
  }

  test("mixtureWeightsCapped: feasibility, epoch identity, cap=100 ≡ downsample (random)") {
    import graft.operators.TextAnalysis
    val r = new Random(53)
    val docs = (0L until 140L).map { i =>
      (i, s"src${i % 6}", Seq.fill(1 + r.nextInt(25))("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val weights = (0 until 6).map(i => (s"src$i", 1L + r.nextInt(4)))
      .toDF("source", "weight")
    val capPct = 100L + r.nextInt(300) // 100..399 %
    val rows = TextAnalysis.mixtureWeightsCapped(docs, weights, capPct)
      .select("source", "weight", "n_tokens", "cap_tokens", "t_star",
        "keep_tokens", "n_epochs", "remainder")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    val wTotal = rows.map(_._2).sum
    val tStar = rows.head._5
    assert(tStar == rows.map(t => t._4 * wTotal / t._2).min)
    rows.foreach { case (_, w, have, cap, ts, keep, epochs, rem) =>
      assert(cap == have * capPct / 100 && ts == tStar)
      assert(keep == w * tStar / wTotal && keep <= cap)
      assert(keep == epochs * have + rem && rem >= 0 && rem < have)
    }
    // the 100 % cap IS the downsample planner, on arbitrary data
    val down = TextAnalysis.mixtureWeights(docs, weights)
      .select("source", "keep_tokens").as[(String, Long)].collect().toSet
    val at100 = TextAnalysis.mixtureWeightsCapped(docs, weights, 100L)
      .select("source", "keep_tokens").as[(String, Long)].collect().toSet
    assert(at100 == down)
  }

  test("packSequenceCounts: sparse surrogate ids pack like a dense local prefix sum") {
    import graft.operators.TextAnalysis
    val r = new Random(59)
    // id gaps on purpose — the x104 epoch-stride keying leaves most of
    // the id space empty, and the bucket decomposition must not care
    val ids = (0L until 60L).map(i => i * (1L + r.nextInt(1000000)))
      .distinct.sorted
    val counts = ids.map(id => (id, 1L + r.nextInt(40).toLong))
    val bin = 23L
    val expected = counts.scanLeft((0L, 0L, 0L)) {
      case ((_, _, cum), (id, n)) => (id, n, cum + n)
    }.drop(1).map { case (id, n, cum) =>
      (id, n, cum - n, (cum - n) / bin, (cum - 1) / bin) }.toSet
    val got = TextAnalysis.packSequenceCounts(
      r.shuffle(counts).toDF("doc_id", "n_tokens").repartition(5), bin, 7L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("kmeans inertia: consistent with the iteration; Lloyd descent on the fixture") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.read(spark, SparkTestBase.sf, "embeddings")
    val step = Similarity.kmeansIter(emb)
      .select("new_label", "d2").as[(Long, Long)].collect()
    val byCell = Similarity.kmeansInertia(emb)
      .select("label", "n_vecs", "inertia").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    // the dashboard aggregates exactly the iteration's argmin distances
    step.groupBy(_._1).foreach { case (l, rows) =>
      assert(byCell(l) == ((rows.length.toLong, rows.map(_._2).sum)))
    }
    // Lloyd descent: total inertia never increases across an iteration
    // (assignment is an argmin; the truncated-integer centroid mean
    // perturbs each component < 1 quantization step — far below the
    // fixture's inter-cell distances, so the classic monotonicity
    // survives the integer arithmetic here)
    val relabeled = emb.drop("label").join(
      Similarity.kmeansIter(emb)
        .select(col("vec_id"), col("new_label").cast("int").as("label")),
      "vec_id")
    val before = step.map(_._2).sum
    val after = Similarity.kmeansInertia(relabeled)
      .agg(sum("inertia")).as[Long].head()
    assert(after <= before,
      s"inertia rose across a Lloyd iteration: $before -> $after")
  }

  test("dupSpanCoverage: duplicated docs are fully covered, unique-gram mass is not") {
    import graft.operators.TextAnalysis
    val r = new Random(7)
    // 30 base docs of unique text (distinct token per position) + 10
    // exact duplicates of base docs — every position of a duplicated
    // doc (and its twin) is covered; docs never duplicated and sharing
    // no 5-gram with anything stay at zero
    val base = (0L until 30L).map { i =>
      (i, (0 until 8).map(j => s"t${i}_$j").mkString(" "))
    }
    val dups = (0L until 10L).map(i => (100L + i, base(i.toInt)._2))
    val out = TextAnalysis.dupSpanCoverage(
      r.shuffle(base ++ dups).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    def full(id: Long) = {
      val (n, cov, frac) = out(id); cov == n && frac == 1.0
    }
    (0L until 10L).foreach(i => assert(full(i) && full(100L + i)))
    (10L until 30L).foreach { i =>
      val (n, cov, frac) = out(i)
      assert(cov == 0L && frac == 0.0, s"unique doc $i covered")
    }
  }
}
