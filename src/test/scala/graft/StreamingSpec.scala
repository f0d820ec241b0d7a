package graft

import graft.operators.Ingest
import graft.streaming.{HtaStore, StreamingIngest}
import graft.streaming.StreamingIngest.Point
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** M3: streaming ingest semantics (SURVEY §2.8) — gate behavior, batch
  * bridging, stream/batch parity, compaction invariance, restart seeding.
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600000000000L // 1 h ns
  private val T0 = 1704067200000000000L // 2024-01-01

  private def mkTmp(pfx: String) = Files.createTempDirectory(pfx).toString

  // arrival stream: batch 1 in-order + NaN/Inf + an out-of-order dup;
  // batch 2 replays batch 1's tail (ack-lost redelivery) + new points,
  // one of which regresses in time (dropped)
  private val batch1 = Seq(
    Point("m1", T0 + 10L * 60000000000L, 1.25, 1),
    Point("m1", T0 + 20L * 60000000000L, Double.NaN, 2), // F1 drop
    Point("m1", T0 + 70L * 60000000000L, 3.5, 3), // crosses 1 h boundary
    Point("m1", T0 + 15L * 60000000000L, 9.0, 4), // non-monotonic drop
    Point("m2", T0 + 5L * 60000000000L, 2.0, 5),
    Point("m2", T0 + 6L * 60000000000L, Double.PositiveInfinity, 6)) // F2 drop
  private val batch2 = Seq(
    Point("m1", T0 + 70L * 60000000000L, 3.5, 7), // exact replay → drop
    Point("m1", T0 + 130L * 60000000000L, 4.75, 8), // new, 2 buckets later
    Point("m2", T0 + 4L * 60000000000L, 8.0, 9), // regression → drop
    Point("m2", T0 + 65L * 60000000000L, 0.5, 10))

  private def batchReference = {
    val all = (batch1 ++ batch2).toDS().toDF()
      .select(col("metric"), col("time"), col("value"), col("seq"))
    Ingest.sanitize(all)
  }

  test("stream/batch parity incl. NaN/Inf, replays, cross-batch segments") {
    val root = mkTmp("hta-store")
    val ckpt = mkTmp("hta-ckpt")
    val store = new HtaStore(root, H)
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(batch1)
    q.processAllAvailable()
    ms.addData(batch2)
    q.processAllAvailable()
    q.stop()

    val expectRaw = batchReference.select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val gotRaw = store.raw(spark).select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(gotRaw.toSeq == expectRaw.toSeq)

    // level-0 merge-on-read == one-shot batch rollup (cross-batch hold
    // segments must land in the right buckets via the anchor mechanism)
    val expectL0 = Ingest.rollup(batchReference, H)
    val gotL0 = store.level0(spark)
    assert(gotL0.exceptAll(expectL0).isEmpty && expectL0.exceptAll(gotL0).isEmpty)

    // physical compaction changes nothing logically
    store.compact(spark, None) // clean stop above
    val gotAfter = store.level0(spark)
    assert(gotAfter.exceptAll(expectL0).isEmpty && expectL0.exceptAll(gotAfter).isEmpty)
  }

  test("ingest_stats listener collects observe counters per batch") {
    val store = new HtaStore(mkTmp("hta-store3"), H)
    val stats = new graft.streaming.IngestStats
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck3"), Some(stats))
    ms.addData(batch1)
    q.processAllAvailable()
    ms.addData(batch2)
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(stats)
    // listener events are async — wait for both batches to land
    val deadline = System.currentTimeMillis() + 20000
    def rows() = stats.toDF(spark)
      .filter(col("nIn") > 0)
      .select("nIn", "nNan", "nInf", "nKept", "n_nonmono")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    while (rows().length < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    val got = rows()
    assert(got.toSeq == Seq((4L, 0L, 0L, 2L, 2L), (6L, 1L, 1L, 3L, 1L)))
  }

  test("mode=RO metrics reject writes before the gate and are counted") {
    val store = new HtaStore(mkTmp("hta-ro"), H)
    val catalog = graft.core.MetricCatalog.build(Seq(
      graft.core.MetricConfig("m1", None, "RW", 1000L, 100000L),
      graft.core.MetricConfig("m2", None, "RO", 1000L, 100000L))).toOption.get
    val stats = new graft.streaming.IngestStats
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck-ro"),
      Some(stats), Some(catalog))
    ms.addData(batch1)
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(stats)
    // no m2 row reached the store; m1 ingested normally (2 kept points)
    val raw = store.raw(spark).select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(_._2)
    assert(raw.nonEmpty && raw.forall(_._1 == "m1") && raw.length == 2)
    // the rejection is visible in telemetry: m2's 2 arrivals count as RO
    // (checked before value sanitation — its Inf row is NOT an Inf skip)
    val deadline = System.currentTimeMillis() + 20000
    def rows() = stats.toDF(spark).filter(col("nIn") > 0)
      .select("nIn", "nRo", "nNan", "nInf", "nKept", "n_nonmono")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    while (rows().isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(rows().toSeq == Seq((6L, 2L, 1L, 0L, 2L, 1L)))
  }

  test("writeBatch is idempotent: replaying a batch key leaves the store unchanged") {
    val store = new HtaStore(mkTmp("hta-idem"), H)
    val gated = batch1.map(p =>
      StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite)
      .toDF()
    store.writeBatch(spark, gated, "ck_0")
    val once = store.raw(spark).collect().length
    val l0once = store.level0(spark).agg(sum("cnt")).head.getLong(0)
    store.writeBatch(spark, gated, "ck_0") // crash-replay of the same batch
    assert(store.raw(spark).collect().length == once)
    assert(store.level0(spark).agg(sum("cnt")).head.getLong(0) == l0once)
  }

  test("a snapshot outlived by a compact fails loudly instead of reading empty") {
    val store = new HtaStore(mkTmp("hta-snapinv"), H)
    val gated = batch1.map(p =>
      StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite)
      .toDF()
    store.writeBatch(spark, gated, "ck_0")
    val snap = store.snapshot(spark)
    assert(snap.raw(spark).count() == 4) // valid while markers exist
    store.compact(spark, None) // folds ck_0 away, GCs its marker
    val e = intercept[IllegalStateException](snap.raw(spark).count())
    assert(e.getMessage.contains("snapshot invalidated"))
    // a FRESH snapshot sees the folded store in full
    assert(store.snapshot(spark).raw(spark).count() == 4)
  }

  test("seedState ignores uncommitted batch directories of its own checkpoint") {
    val store = new HtaStore(mkTmp("hta-seed"), H)
    def gatedOf(ps: Seq[Point]) = ps
      .map(p => StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite).toDF()
    store.writeBatch(spark, gatedOf(batch1), "tag_0")
    store.writeBatch(spark, gatedOf(batch2.filter(_.metric == "m2")), "tag_1")
    // batch 1 crashed before commit: its rows must not seed the gate
    val seed = store.seedState(spark, "tag", committedMaxBatch = 0L).collect().toMap
    assert(seed("m2").maxTs == T0 + 5L * 60000000000L) // batch-0 max only
    // other checkpoints' directories are trusted as committed
    val seedOther =
      store.seedState(spark, "other", committedMaxBatch = -1L).collect().toMap
    assert(seedOther("m2").maxTs == T0 + 65L * 60000000000L)
  }

  test("a half-written batch (no commit marker) is invisible until replayed") {
    val root = mkTmp("hta-halfwritten")
    val store = new HtaStore(root, H)
    val gated = batch1.map(p =>
      StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite).toDF()
    store.writeBatch(spark, gated, "t_0")
    // simulate the crash window: a raw directory written without its
    // partials/marker (delete the marker + partials of a second batch)
    store.writeBatch(spark, gated.withColumn("time", col("time") + lit(300L * 60000000000L)), "t_1")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/batch_commits/t_1"))
    // readers and the gate seed must not see the unmarked batch
    assert(store.raw(spark).agg(max("time")).head.getLong(0) ==
      T0 + 70L * 60000000000L)
    assert(store.seedState(spark, "other", -1L).collect().toMap
      .apply("m1").maxTs == T0 + 70L * 60000000000L)
    // replay completes the batch in place and it becomes visible
    store.writeBatch(spark, gated.withColumn("time", col("time") + lit(300L * 60000000000L)), "t_1")
    assert(store.raw(spark).agg(max("time")).head.getLong(0) ==
      T0 + 370L * 60000000000L)
  }

  test("wiping and recreating a checkpoint path yields a fresh batch-key tag") {
    val ckpt = mkTmp("hta-incarnation")
    val (tag1, _) = StreamingIngest.checkpointIdentity(spark, ckpt)
    // stable across calls for the same incarnation
    assert(StreamingIngest.checkpointIdentity(spark, ckpt)._1 == tag1)
    // wipe and recreate the same path: a NEW incarnation, so batch 0 of
    // the new run cannot clobber the old run's committed batch-0 dir
    import scala.reflect.io.Directory
    new Directory(new java.io.File(ckpt)).deleteRecursively()
    val (tag2, _) = StreamingIngest.checkpointIdentity(spark, ckpt)
    assert(tag2 != tag1)
  }

  test("legacy pre-marker store keeps full history and is migrated on write") {
    val root = mkTmp("hta-premarker")
    val store = new HtaStore(root, H)
    val gated = batch1.map(p =>
      StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite).toDF()
    store.writeBatch(spark, gated, "t_0")
    val before = store.raw(spark).count()
    // simulate a store written before commit markers existed
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/batch_commits")).deleteRecursively()
    // legacy trust model: absence of the marker dir hides nothing
    assert(store.raw(spark).count() == before)
    assert(store.level0(spark).count() > 0)
    // the next write backfills markers for pre-existing batches — the
    // marker dir appearing must not make legacy history vanish
    store.writeBatch(spark,
      gated.withColumn("time", col("time") + lit(300L * 60000000000L)), "t_1")
    assert(store.raw(spark).count() == 2 * before)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/batch_commits/t_0")))
  }

  test("pre-graft-id checkpoint adopts the path-derived legacy tag") {
    val ckpt = mkTmp("hta-legacy-ckpt")
    // an in-use pre-upgrade checkpoint is recognized by Spark's commits/
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$ckpt/commits"))
    val (tag, _) = StreamingIngest.checkpointIdentity(spark, ckpt)
    // must equal the OLD derivation — md5 of the canonical qualified
    // path — so existing store batch keys keep matching
    val hp = new org.apache.hadoop.fs.Path(ckpt)
    val canonical = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp).toString
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(12)
    assert(tag == expect)
    // and it is persisted: a second call agrees
    assert(StreamingIngest.checkpointIdentity(spark, ckpt)._1 == tag)
  }

  test("compact recovers from a crash between the two directory renames") {
    val root = mkTmp("hta-crash")
    val store = new HtaStore(root, H)
    val gated = batch1.map(p =>
      StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite)
      .toDF()
    store.writeBatch(spark, gated, "ck_0")
    val before = store.level0(spark).collect().toSet
    // simulate the crash window: partials moved to partials_old, new dir absent
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$root/partials"),
      java.nio.file.Paths.get(s"$root/partials_old"))
    store.compact(spark, None) // must restore, then compact
    assert(store.level0(spark).collect().toSet == before)
  }

  test("compact carries uncommitted trailing-batch partials through unmerged") {
    val root = mkTmp("hta-compact-uncommitted")
    val store = new HtaStore(root, H)
    // a fake checkpoint whose commits/ says only batch 0 committed
    val ckpt = mkTmp("hta-compact-ckpt")
    Files.createDirectories(java.nio.file.Paths.get(s"$ckpt/commits"))
    Files.writeString(java.nio.file.Paths.get(s"$ckpt/commits/0"), "v1")
    val (tag, committedMax) = StreamingIngest.checkpointIdentity(spark, ckpt)
    assert(committedMax == 0L)

    def gatedOf(ps: Seq[Point]) = ps
      .map(p => StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite).toDF()
    store.writeBatch(spark, gatedOf(batch1), s"${tag}_0")
    // batch 1 written but NOT committed (crash window)
    store.writeBatch(spark, gatedOf(batch2.filter(_.metric == "m2")), s"${tag}_1")
    val before = store.level0(spark)
      .agg(sum("cnt"), sum("sum_c")).as[(Long, Long)].head()

    val beforeRaw = store.raw(spark).as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

    store.compact(spark, Some(ckpt))
    // the uncommitted directory must survive under its original key on
    // BOTH sides …
    assert(Files.exists(
      java.nio.file.Paths.get(s"$root/partials/batch_id=${tag}_1")))
    assert(Files.exists(
      java.nio.file.Paths.get(s"$root/raw/batch_id=${tag}_1")))
    // … so the replayed batch overwrites it and the views are unchanged
    store.writeBatch(spark, gatedOf(batch2.filter(_.metric == "m2")), s"${tag}_1")
    val after = store.level0(spark)
      .agg(sum("cnt"), sum("sum_c")).as[(Long, Long)].head()
    assert(after == before)
    val afterRaw = store.raw(spark).as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(afterRaw == beforeRaw)
  }

  test("compact folds raw batch directories: O(1) dirs, views and seed unchanged") {
    val root = mkTmp("hta-raw-compact")
    val store = new HtaStore(root, H)
    val minute = 60000000000L
    def gatedOf(k: Int) = (0 until 5).map { j =>
      val i = k * 5 + j
      StreamingIngest.GatedPoint("m1", T0 + i * 10 * minute, i * 0.25, anchor = false)
    }.toDF()
    (0 until 8).foreach(k => store.writeBatch(spark, gatedOf(k), s"t_$k"))
    def rawRows() = store.raw(spark).as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    def seed() = store.seedState(spark, "other", -1L).collect().toMap
    val (beforeRaw, beforeSeed) = (rawRows(), seed())
    def dirCount(side: String) =
      new java.io.File(s"$root/$side").listFiles()
        .count(_.getName.startsWith("batch_id="))
    assert(dirCount("raw") == 8)

    store.compact(spark, None)
    // one directory per side; content and gate seed byte-identical
    assert(dirCount("raw") == 1 && dirCount("partials") == 1)
    assert(rawRows() == beforeRaw && seed() == beforeSeed)
    // markers for fully-folded batches are GC'd — only `compacted` left
    // (ignore the local FS's hidden .crc checksum sidecars)
    assert(new java.io.File(s"$root/batch_commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq == Seq("compacted"))
    // a later batch appends and a second compact re-folds it
    store.writeBatch(spark, gatedOf(8), "t_8")
    assert(dirCount("raw") == 2)
    store.compact(spark, None)
    assert(dirCount("raw") == 1)
    assert(rawRows().size == 45 && seed()("m1").maxTs == T0 + 44 * 10 * minute)
  }

  test("pre-day (v1) raw layout: readable, write-guarded, migrated by compact") {
    val root = mkTmp("hta-v1-layout")
    val store = new HtaStore(root, H)
    val minute = 60000000000L
    val rows = (0 until 10).map(i => ("m1", T0 + i * 10 * minute, i * 0.5))
    // hand-write the layout round-4 code produced: batch_id/metric, no
    // day level, plus its commit marker
    rows.toDF("metric", "time", "value")
      .write.partitionBy("metric").parquet(s"$root/raw/batch_id=old_0")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/batch_commits"))
    Files.writeString(java.nio.file.Paths.get(s"$root/batch_commits/old_0"), "")
    // readers see full history, day derived (rawRange still correct)
    def rawRows() = store.raw(spark).as[(String, Long, Double)]
      .collect().sortBy(_._2).toSeq
    assert(rawRows() == rows)
    assert(store.rawRange(spark, T0, T0 + 45 * minute)
      .as[(String, Long, Double)].collect().sortBy(_._2).toSeq == rows.take(5))
    assert(store.seedState(spark, "other", -1L).collect().toMap
      .apply("m1").maxTs == T0 + 90 * minute)
    // a v2 write into the v1 tree must refuse loudly (mixed partition
    // chains would break discovery for every reader)
    val more = Seq(StreamingIngest.GatedPoint("m1", T0 + 100 * minute, 9.0,
      anchor = false)).toDF()
    val e = intercept[IllegalArgumentException](
      store.writeBatch(spark, more, "t_1"))
    assert(e.getMessage.contains("compact"))
    // compact migrates wholesale: day directories appear, content equal
    store.compact(spark, None)
    assert(new java.io.File(s"$root/raw/batch_id=compacted/metric=m1")
      .listFiles().exists(_.getName.startsWith("day=")))
    assert(rawRows() == rows)
    // and writes flow again
    store.writeBatch(spark, more, "t_1")
    assert(rawRows().size == 11)
  }

  test("legacy checkpoint (pre initial-state) restart keeps the seed fallback") {
    val root = mkTmp("hta-legacy-seed")
    val ckpt = mkTmp("hta-legacy-seed-ckpt")
    val store = new HtaStore(root, H)
    val minute = 60000000000L
    val ms = MemoryStream[Point](spark)
    val q1 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(Seq(Point("m1", T0 + 10 * minute, 1.0, 1)))
    q1.processAllAvailable()
    q1.stop()
    // m2's history arrives via backfill under a FOREIGN tag — committed
    // raw exists but the checkpoint has no state for m2
    store.writeBatch(spark, Seq(
      StreamingIngest.GatedPoint("m2", T0 + 50 * minute, 5.0, anchor = false)).toDF(),
      "backfill_0")
    // simulate a checkpoint born before initial-state seeding
    Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/graft-seed-v2"))
    // SAME source resumed (a fresh MemoryStream's offsets would be
    // swallowed by the checkpoint's committed offset)
    val q2 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    // stale m2 replay (t < committed max) + a fresh point: restart is at
    // batch N > 0, so only the legacy fallback can gate the stale row
    ms.addData(Seq(
      Point("m2", T0 + 40 * minute, 4.0, 2), // stale — must be dropped
      Point("m2", T0 + 60 * minute, 6.0, 3))) // fresh — must be kept
    q2.processAllAvailable()
    q2.stop()
    val m2 = store.raw(spark).filter(col("metric") === "m2")
      .select("time").as[Long].collect().sorted.toSeq
    assert(m2 == Seq(T0 + 50 * minute, T0 + 60 * minute),
      s"stale replay leaked through: $m2")
  }

  test("restart refuses a checkpoint whose gate state is behind the store") {
    val root = mkTmp("hta-behind")
    val ckpt = mkTmp("hta-behind-ckpt")
    val store = new HtaStore(root, H)
    val minute = 60000000000L
    val ms = MemoryStream[Point](spark)
    val q1 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(Seq(Point("m1", T0 + 10 * minute, 1.0, 1)))
    q1.processAllAvailable()
    q1.stop()
    // m2's history is committed while the query is stopped: the
    // checkpoint's state has never seen it
    store.writeBatch(spark, Seq(
      StreamingIngest.GatedPoint("m2", T0 + 50 * minute, 5.0, anchor = false)).toDF(),
      "backfill_0")
    // initial state applies only at batch 0, so resuming would let a
    // stale m2 point behind the backfill through — refuse instead
    val e = intercept[IllegalStateException](
      StreamingIngest.start(spark, ms.toDS(), store, ckpt))
    assert(e.getMessage.contains("'m2'") && e.getMessage.contains("fresh checkpoint"),
      e.getMessage)
    // the remedy: a fresh checkpoint seeds m2 from the store
    val ms2 = MemoryStream[Point](spark)
    val q2 = StreamingIngest.start(spark, ms2.toDS(), store, mkTmp("hta-behind-ckpt2"))
    ms2.addData(Seq(
      Point("m2", T0 + 40 * minute, 4.0, 2), // stale — dropped
      Point("m2", T0 + 60 * minute, 6.0, 3))) // fresh — kept
    q2.processAllAvailable()
    q2.stop()
    val m2 = store.raw(spark).filter(col("metric") === "m2")
      .select("time").as[Long].collect().sorted.toSeq
    assert(m2 == Seq(T0 + 50 * minute, T0 + 60 * minute))
  }

  test("transaction log under churn: write/replay/crash/compact/restart stays exact") {
    // property-style script over the store's transaction log: after
    // EVERY step, the merge-on-read level-0 view must equal the batch
    // rollup of exactly the committed points, and raw must expose
    // exactly the committed points — uncommitted batches invisible,
    // replays absorbed, compaction logically inert
    val root = mkTmp("hta-churn")
    val store = new HtaStore(root, H)
    val minute = 60000000000L

    // 6 deterministic chunks, 2 metrics, strictly ascending times
    val chunks: Seq[Seq[Point]] = (0 until 6).map { k =>
      (0 until 5).flatMap { j =>
        val i = k * 5 + j
        Seq(Point("m1", T0 + i * 10 * minute, (i % 7) * 0.25, 2 * i),
          Point("m2", T0 + i * 17 * minute, 1.0 + (i % 4) * 0.5, 2 * i + 1))
      }
    }
    // the gate's output shape: each chunk carries the previous chunk's
    // last point per metric as an anchor row (segment seed)
    def gatedOf(k: Int): org.apache.spark.sql.DataFrame = {
      val anchors =
        if (k == 0) Seq.empty
        else chunks(k - 1).groupBy(_.metric).values.map(_.maxBy(_.time))
          .map(p => StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = true))
      (anchors.toSeq ++ chunks(k).map(p =>
        StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))).toDF()
    }
    def refOf(upTo: Seq[Int]) = {
      val pts = upTo.sorted.flatMap(chunks)
      Ingest.rollup(Ingest.sanitize(
        pts.toDS().toDF().select(col("metric"), col("time"), col("value"), col("seq"))), H)
    }
    def check(committed: Seq[Int], label: String): Unit = {
      val ref = refOf(committed)
      val got = store.level0(spark)
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"$label: level0 view diverged from batch rollup")
      val wantRaw = committed.sorted.flatMap(chunks)
        .map(p => (p.metric, p.time, p.value)).sortBy(r => (r._1, r._2))
      val gotRaw = store.raw(spark).as[(String, Long, Double)]
        .collect().sortBy(r => (r._1, r._2))
      assert(gotRaw.toSeq == wantRaw, s"$label: raw view diverged")
    }
    def unmark(key: String): Unit = // crash window: data durable, marker not
      Files.delete(java.nio.file.Paths.get(s"$root/batch_commits/$key"))

    store.writeBatch(spark, gatedOf(0), "t_0")
    check(Seq(0), "after first write")
    store.writeBatch(spark, gatedOf(1), "t_1")
    store.writeBatch(spark, gatedOf(1), "t_1") // ack-lost replay
    check(Seq(0, 1), "after replayed write")
    store.compact(spark, None)
    check(Seq(0, 1), "after clean compact")
    store.writeBatch(spark, gatedOf(2), "t_2")
    unmark("t_2") // crashed before the checkpoint commit
    check(Seq(0, 1), "uncommitted batch stays invisible")
    store.compact(spark, None)
    check(Seq(0, 1), "compact must not launder an uncommitted batch")
    store.writeBatch(spark, gatedOf(2), "t_2") // restart replays it
    check(Seq(0, 1, 2), "replay after crash commits the batch")
    // restart: the gate seed reflects exactly the committed history
    val seed = store.seedState(spark, "t", committedMaxBatch = 2L).collect().toMap
    assert(seed("m1").maxTs == chunks(2).filter(_.metric == "m1").map(_.time).max)
    store.writeBatch(spark, gatedOf(3), "t_3")
    store.compact(spark, None)
    store.writeBatch(spark, gatedOf(4), "t_4")
    unmark("t_4")
    store.compact(spark, None)
    store.writeBatch(spark, gatedOf(4), "t_4")
    store.writeBatch(spark, gatedOf(5), "t_5")
    store.compact(spark, None)
    store.compact(spark, None) // back-to-back compaction is idempotent
    check(Seq(0, 1, 2, 3, 4, 5), "full churn sequence")
  }

  test("chunked backfill equals one-shot batch rollup (gate + anchors across chunks)") {
    val store = new HtaStore(mkTmp("hta-backfill"), H)
    val all = (batch1 ++ batch2).toDS().toDF()
      .select(col("metric"), col("time"), col("value"), col("seq"))
    graft.sources.BulkImport.chunkedBackfill(spark, all, store, 3)
    val expectRaw = batchReference.select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val gotRaw = store.raw(spark).select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(gotRaw.toSeq == expectRaw.toSeq)
    val expectL0 = Ingest.rollup(batchReference, H)
    val gotL0 = store.level0(spark)
    assert(gotL0.exceptAll(expectL0).isEmpty && expectL0.exceptAll(gotL0).isEmpty)
  }

  test("chunked backfill keeps each seed until the sink reading its anchors settles") {
    val all = (batch1 ++ batch2).toDS().toDF()
      .select(col("metric"), col("time"), col("value"), col("seq"))
    val sc = spark.sparkContext
    val anchorRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    graft.sources.BulkImport.chunkedGatedChunks(spark, all, 3) { (batch, i) =>
      if (i >= 1) {
        // the previous seed's checkpoint is persisted on entry; wait
        // (bounded) for any entry block to go before reading — a seed
        // released under a running sink shows up here as a lost block
        val onEntry = sc.getPersistentRDDs.keySet
        val deadline = System.nanoTime() + 2000000000L
        while (onEntry.subsetOf(sc.getPersistentRDDs.keySet) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      }
      anchorRows += batch.filter(col("anchor")).count()
    }
    // chunk 0 has no seed; later chunks carry one anchor per seeded metric
    assert(anchorRows.head == 0L && anchorRows.tail.forall(_ > 0L),
      s"anchor rows per chunk: $anchorRows")
  }

  test("SideJob runs the side job under its caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try Seq("side-a", "side-b").foreach { g =>
      groups.clear()
      sc.setJobGroup(g, g)
      // the main branch runs no job: every job seen is the side job's
      try graft.operators.SideJob.alongside(spark)(spark.range(100).count())(())
      finally sc.clearJobGroup()
      // listener events are async — the record is settled once it is
      // non-empty and stops growing
      val deadline = System.nanoTime() + 10000000000L
      var prev = -1
      while ((groups.isEmpty || groups.size != prev) &&
        System.nanoTime() < deadline) { prev = groups.size; Thread.sleep(200) }
      import scala.jdk.CollectionConverters._
      val seen = groups.asScala.toSeq
      assert(seen.nonEmpty && seen.forall(_ == g), s"side jobs under $g ran in $seen")
    } finally sc.removeSparkListener(listener)
  }

  test("restart from the SAME checkpoint resumes batch ids and stays exact") {
    val store = new HtaStore(mkTmp("hta-samechk"), H)
    val ckpt = mkTmp("ck-same")
    val ms = MemoryStream[Point](spark)
    val q1 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(batch1)
    q1.processAllAvailable()
    q1.stop()
    // second query, SAME checkpoint and source: resumes committed
    // offsets, continues batch numbering, gate state restored
    val q2 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(batch2)
    q2.processAllAvailable()
    q2.stop()
    val expect = batchReference.select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val got = store.raw(spark).select("metric", "time", "value")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == expect.toSeq)
    val expectL0 = Ingest.rollup(batchReference, H)
    val gotL0 = store.level0(spark)
    assert(gotL0.exceptAll(expectL0).isEmpty && expectL0.exceptAll(gotL0).isEmpty)
  }

  test("a metric first seen mid-stream is ingested without reconfiguration") {
    // the reference requires a config add (async_hta_service.hpp:234-244);
    // here keyed state materializes on first sight of the key
    val store = new HtaStore(mkTmp("hta-newmetric"), H)
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck-nm"))
    ms.addData(batch1)
    q.processAllAvailable()
    ms.addData(Seq( // m3 never seen before
      Point("m3", T0 + 1000000000L, 7.5, 100),
      Point("m3", T0 + 2000000000L, 8.5, 101)))
    q.processAllAvailable()
    q.stop()
    val m3 = store.raw(spark).filter(col("metric") === "m3")
      .select("time", "value").as[(Long, Double)].collect().sortBy(_._1)
    assert(m3.toSeq == Seq((T0 + 1000000000L, 7.5), (T0 + 2000000000L, 8.5)))
    assert(store.level0(spark).filter(col("metric") === "m3")
      .agg(sum("cnt")).head.getLong(0) == 2L)
  }

  test("restart: gate seeds from the durable store, drops stale replays") {
    val root = mkTmp("hta-store2")
    val store = new HtaStore(root, H)
    val ms1 = MemoryStream[Point](spark)
    val q1 = StreamingIngest.start(spark, ms1.toDS(), store, mkTmp("ck1"))
    ms1.addData(batch1)
    q1.processAllAvailable()
    q1.stop()

    // new query, FRESH checkpoint (state lost) — seed must come from store
    val ms2 = MemoryStream[Point](spark)
    val q2 = StreamingIngest.start(spark, ms2.toDS(), store, mkTmp("ck2"))
    ms2.addData(Seq(
      Point("m1", T0 + 70L * 60000000000L, 3.5, 11), // replay of stored max → drop
      Point("m1", T0 + 200L * 60000000000L, 6.0, 12))) // genuinely new
    q2.processAllAvailable()
    q2.stop()

    val m1 = store.raw(spark).filter(col("metric") === "m1")
      .select("time").as[Long].collect().sorted
    assert(m1.toSeq == Seq(T0 + 10L * 60000000000L, T0 + 70L * 60000000000L,
      T0 + 200L * 60000000000L))
  }

  test("compact refuses while the ingest query is live; succeeds after stop") {
    val root = mkTmp("hta-lock")
    val store = new HtaStore(root, H)
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck-lock"))
    ms.addData(batch1)
    q.processAllAvailable()
    // live query holds the lock — compact must not list-then-delete
    // batch directories out from under it
    val e = intercept[graft.streaming.StoreBusyException](
      store.compact(spark, None))
    assert(e.getMessage.contains("live"))
    // a second writer on the SAME store must refuse BEFORE starting —
    // and must not leave a second, handle-less query running (the
    // pre-fix failure mode: throw after .start(), query leaked)
    val activeBefore = spark.streams.active.map(_.runId).toSet
    val ms2 = MemoryStream[Point](spark)
    val e2 = intercept[graft.streaming.StoreBusyException](
      StreamingIngest.start(spark, ms2.toDS(), store, mkTmp("ck-lock2")))
    assert(e2.getMessage.contains("live ingest query"))
    assert(spark.streams.active.map(_.runId).toSet == activeBefore,
      "refused second writer must not leak a running query")
    q.stop()
    // terminated run ⇒ the lock is stale: compact clears it and proceeds
    store.compact(spark, None)
    assert(new java.io.File(s"$root/raw/batch_id=compacted").exists())
    assert(!new java.io.File(s"$root/ingest.lock").exists())
  }

  test("a live compact token blocks new writers for the compact's whole duration") {
    // the pre-fix hole: compact's exclusion was entry-only — it cleared
    // the stale lock, released the monitor, and ran the long merge/swap
    // with NO lock file, so a start() beginning mid-compact passed
    // assertNotBusy and appended batch dirs into raw/ that swapCompact's
    // rename+delete silently destroyed. Now compact holds its own
    // `compact:<uuid>` token in ingest.lock for its whole run; this
    // simulates the mid-compact window deterministically via the
    // JVM-liveness registry instead of racing a real compact thread.
    val root = mkTmp("hta-compact-lock")
    val store = new HtaStore(root, H)
    def gatedOf(ps: Seq[Point]) = ps
      .map(p => StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite).toDF()
    store.writeBatch(spark, gatedOf(batch1), "ck_0")
    val token = "compact:00000000-dead-beef-0000-000000000000"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/ingest.lock"),
      token.getBytes("UTF-8"))
    graft.streaming.StreamingTestHooks.registerCompact(token)
    try {
      // a new ingest query must refuse before starting…
      val ms = MemoryStream[Point](spark)
      val e = intercept[graft.streaming.StoreBusyException](
        StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck-cl1")))
      assert(e.getMessage.contains("compaction"))
      // …and a second compact must refuse too
      val e2 = intercept[graft.streaming.StoreBusyException](
        store.compact(spark, None))
      assert(e2.getMessage.contains("compaction"))
    } finally graft.streaming.StreamingTestHooks.unregisterCompact(token)
    // JVM registration gone = crashed compact: its token is stale, a new
    // writer may proceed (any half-finished swap is separately blocked
    // by the backup-dir guard, covered by the crashed-compact test)
    val ms2 = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms2.toDS(), store, mkTmp("ck-cl2"))
    ms2.addData(batch2)
    q.processAllAvailable()
    q.stop()
    // and a completed compact leaves no lock behind (releases its token)
    store.compact(spark, None)
    assert(!new java.io.File(s"$root/ingest.lock").exists())
  }

  test("cross-JVM exclusion: a second simulated JVM refuses while the first holds, acquires after a clean release") {
    // two IsolatedJvmScopes = two drivers on one filesystem: neither
    // sees the other's registries or monitors, so exclusion can only
    // come from the lock FILE itself (create-exclusive claim + the
    // heartbeat lease) — the exact gap the one-JVM SinkLock documented
    val root = mkTmp("xjvm-lock")
    val lockA = new graft.streaming.SinkLock(root, "store",
      new graft.streaming.SinkLock.IsolatedJvmScope)
    val lockB = new graft.streaming.SinkLock(root, "store",
      new graft.streaming.SinkLock.IsolatedJvmScope)
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var aErr: Throwable = null
    val tA = new Thread(() => {
      try lockA.withCompact(spark) { held.countDown(); release.await() }
      catch { case t: Throwable => aErr = t; held.countDown() }
    })
    tA.start(); held.await()
    assert(aErr == null, s"the winner must hold cleanly: $aErr")
    // B's probe: A's token is in none of B's registries (a foreign
    // JVM's writer) and its heartbeat is fresh — LIVE, refuse
    val e = intercept[graft.streaming.StoreBusyException](
      lockB.withCompact(spark) { fail("the loser must never run") })
    assert(e.getMessage.contains("another JVM"), e.getMessage)
    release.countDown(); tA.join()
    if (aErr != null) throw aErr
    // a cleanly released lock frees the sink for the other JVM
    lockB.withCompact(spark) { () }
    assert(!new java.io.File(s"$root/ingest.lock").exists())
  }

  test("cross-JVM exclusion: a crashed foreign holder heals after the lease, never before") {
    val root = mkTmp("xjvm-crash")
    new java.io.File(root).mkdirs()
    val lockB = new graft.streaming.SinkLock(root, "store",
      new graft.streaming.SinkLock.IsolatedJvmScope)
    // a foreign JVM's claim that CRASHED: the token is registered
    // nowhere and its heartbeat stopped at the crash instant
    val lockPath = java.nio.file.Paths.get(s"$root/ingest.lock")
    java.nio.file.Files.write(lockPath,
      "compact:00000000-0000-0000-0000-00000000dead".getBytes("UTF-8"))
    // inside the lease the crash is indistinguishable from a live
    // writer between heartbeats — the probe must refuse
    val e = intercept[graft.streaming.StoreBusyException](
      lockB.withCompact(spark) { fail("must not run inside the lease") })
    assert(e.getMessage.contains("another JVM"), e.getMessage)
    // past the lease the claim is stale: healed via rename
    // arbitration, claimed fresh, and the body runs
    assert(lockPath.toFile.setLastModified(
      System.currentTimeMillis() - 61000L))
    var ran = false
    lockB.withCompact(spark) { ran = true }
    assert(ran, "the healed sink must admit the new writer")
    assert(!lockPath.toFile.exists(),
      "the new writer's clean release must leave no lock behind")
  }

  test("the lock heartbeat keeps a long-running holder live past the staleness lease") {
    val root = mkTmp("xjvm-hb")
    // a 2 s lease with a ~500 ms heartbeat: the holder's claim mtime
    // alone would go stale mid-hold — only the refresher keeps the
    // foreign probe judging it live
    spark.conf.set("spark.graft.sink.lockStaleMs", "2000")
    try {
      val lockA = new graft.streaming.SinkLock(root, "store",
        new graft.streaming.SinkLock.IsolatedJvmScope)
      val lockB = new graft.streaming.SinkLock(root, "store",
        new graft.streaming.SinkLock.IsolatedJvmScope)
      val held = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      @volatile var aErr: Throwable = null
      val tA = new Thread(() => {
        try lockA.withCompact(spark) { held.countDown(); release.await() }
        catch { case t: Throwable => aErr = t; held.countDown() }
      })
      tA.start(); held.await()
      Thread.sleep(3000) // well past the 2 s lease
      val e = intercept[graft.streaming.StoreBusyException](
        lockB.withCompact(spark) {
          fail("a heartbeating holder must never be healed away")
        })
      assert(e.getMessage.contains("another JVM"), e.getMessage)
      release.countDown(); tA.join()
      if (aErr != null) throw aErr
    } finally spark.conf.unset("spark.graft.sink.lockStaleMs")
  }

  test("a crashed compact's backup dir blocks store use until recovery") {
    val root = mkTmp("hta-bak-guard")
    val store = new HtaStore(root, H)
    def gatedOf(ps: Seq[Point]) = ps
      .map(p => StreamingIngest.GatedPoint(p.metric, p.time, p.value, anchor = false))
      .filter(p => !p.value.isNaN && !p.value.isInfinite).toDF()
    store.writeBatch(spark, gatedOf(batch1), "ck_0")
    val before = store.raw(spark).as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    // the worst crash window: raw/ renamed to raw_old, swap incomplete —
    // raw_old now holds the ONLY copy
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$root/raw"),
      java.nio.file.Paths.get(s"$root/raw_old"))
    // a restarted process (fresh store instance) must refuse to write:
    // recreating raw/ would make raw_old look like a stale duplicate
    // that the next compact deletes — data loss
    val store2 = new HtaStore(root, H)
    val w = intercept[java.io.IOException](
      store2.writeBatch(spark, gatedOf(batch2), "ck_1"))
    assert(w.getMessage.contains("compact crash pending"))
    // reads refuse too (an empty answer would be silent data hiding)
    intercept[java.io.IOException](store2.raw(spark))
    // compact() recovers the half-finished swap, then everything flows
    store2.compact(spark, None)
    assert(store2.raw(spark).as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq == before)
    store2.writeBatch(spark, gatedOf(batch2.filter(_.metric == "m2")), "ck_1")
    assert(store2.raw(spark).count() > before.size)
  }

  test("legacy-seed fallback refuses above the cap with a migration message") {
    val root = mkTmp("hta-seed-cap")
    val ckpt = mkTmp("hta-seed-cap-ckpt")
    val store = new HtaStore(root, H)
    val minute = 60000000000L
    val ms = MemoryStream[Point](spark)
    val q1 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(Seq(Point("m1", T0 + 10 * minute, 1.0, 1)))
    q1.processAllAvailable()
    q1.stop()
    // make the checkpoint legacy (pre initial-state seeding): the
    // fallback needs a driver-resident map of every seeded metric
    Files.deleteIfExists(java.nio.file.Paths.get(s"$ckpt/graft-seed-v2"))
    System.setProperty("graft.legacySeed.maxKeys", "0")
    try {
      val e = intercept[IllegalStateException](
        StreamingIngest.start(spark, ms.toDS(), store, ckpt))
      assert(e.getMessage.contains("migrate"))
    } finally System.clearProperty("graft.legacySeed.maxKeys")
    // under the default cap the same restart succeeds
    val q2 = StreamingIngest.start(spark, ms.toDS(), store, ckpt)
    ms.addData(Seq(Point("m1", T0 + 20 * minute, 2.0, 2)))
    q2.processAllAvailable()
    q2.stop()
    assert(store.raw(spark).count() == 2)
  }

  test("initial-state seeding stays distributed at 50k-metric cardinality") {
    // the scale proof for the modern seed path: a 50 000-key seed built
    // as a Dataset (never a driver map) flows through the
    // flatMapGroupsWithState initial-state overload into the state
    // store. Correctness is asserted at three far-apart keys — a stale
    // arrival is gated out and the hold segment from the seeded point
    // carries the seeded value into the partials, both impossible unless
    // that key's seed actually reached its state partition — and, via
    // batch 2, for a key that had NO batch-0 data (initial state only
    // applies at batch 0, so this proves every seeded key was
    // putState'd then, not just the observed ones)
    import StreamingIngest.{GateRow, Kept}
    val n = 50000L
    val t0 = T0 // local copy: the closure must not capture the suite
    val seed = spark.range(n)
      .map(i => (s"m$i", StreamingIngest.GateState(t0, i.toDouble)))
    val ms = MemoryStream[Point](spark)
    val gated = StreamingIngest.gate(ms.toDS(), seed, H)(spark)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("hc_seed")
      .option("checkpointLocation", mkTmp("ck-hc"))
      .start()
    ms.addData(Seq(
      Point("m0", T0 - 1L, 9.0, 1), // stale vs seed → dropped
      Point("m0", T0, 9.0, 2), // equal ts → dropped
      Point("m25000", T0 + H, 5.0, 3), // fresh → kept, anchor = seed
      Point("m49999", T0, 1.0, 4), // equal ts → dropped
      Point("m49999", T0 + 2 * H, 2.5, 5), // fresh → kept
      Point("fresh", T0, 7.0, 6))) // unseeded metric → kept, no anchor
    q.processAllAvailable()
    ms.addData(Seq(
      Point("m12345", T0 - 1L, 8.0, 7), // stale at batch 1 → dropped
      Point("m12345", T0 + H, 6.0, 8))) // fresh → kept, seeded anchor
    q.processAllAvailable()
    q.stop()
    val got = spark.table("hc_seed").as[GateRow].collect().toSet
    def kept(m: String, t: Long, v: Double) = GateRow(Some(Kept(m, t, v)), None)
    // a bucket holding one point of value v, or a whole hour held at
    // the seeded value (no points: cnt 0, null min/max)
    def point(m: String, b: Long, v: Double) = GateRow(None, Some(Ingest.Partial(
      m, H, b, Some(v), Some(v), math.round(v * 100), 1L, 0L, 0L)))
    def held(m: String, b: Long, seeded: Double) = GateRow(None, Some(Ingest.Partial(
      m, H, b, None, None, 0L, 0L, math.round(seeded * 100) * 3600000000L, 3600000000L)))
    assert(got == Set(
      kept("m25000", T0 + H, 5.0), held("m25000", T0, 25000.0),
      point("m25000", T0 + H, 5.0),
      kept("m49999", T0 + 2 * H, 2.5), held("m49999", T0, 49999.0),
      held("m49999", T0 + H, 49999.0), point("m49999", T0 + 2 * H, 2.5),
      kept("fresh", T0, 7.0), point("fresh", T0, 7.0),
      kept("m12345", T0 + H, 6.0), held("m12345", T0, 12345.0),
      point("m12345", T0 + H, 6.0)))
  }

  test("history reads during active ingest: committed-only, monotone, snapshot-consistent") {
    // the operational read path a deployment exercises continuously:
    // history queries served WHILE the streaming query commits batches.
    // The main thread adds a batch and then polls the store until the
    // batch appears — every poll before that overlaps the batch's
    // raw/partials parquet writes and the marker race, which is exactly
    // the window where a half-written batch could leak. Assertions:
    // (1) every raw read is EXACTLY some committed-batch prefix (never
    //     a torn/partial batch), (2) the visible prefix only grows,
    // (3) a store.snapshot's raw and level0 expose the SAME prefix,
    // (4) a level-composed AGGREGATE served from one snapshot equals
    //     the same request answered from that prefix's data alone.
    import graft.operators.HtaService
    val store = new HtaStore(mkTmp("hta-live"), H)
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck-live"))
    try {
      val metrics = Seq("m1", "m2", "m3")
      val P = 200 // points per metric per batch
      val step = 30000000000L // 30 s in ns
      def pts(b: Int): Seq[Point] =
        for { m <- metrics; i <- 0 until P } yield {
          val n = b * P + i
          Point(m, T0 + n.toLong * step, n.toDouble, (b * P + i).toLong)
        }
      val nB = 5
      def prefixSan(k: Int) =
        Ingest.sanitize((0 until k).flatMap(pts).toDS().toDF()
          .select(col("metric"), col("time"), col("value"), col("seq")))
      val cum: IndexedSeq[Set[(String, Long, Double)]] = (0 to nB).map(k =>
        (0 until k).flatMap(pts).map(p => (p.metric, p.time, p.value)).toSet)
      // expected level-0 total cnt per prefix, from the same rollup the
      // store maintains (no assumption about bucket/anchor shape)
      val cumCnt: IndexedSeq[Long] = (0 to nB).map(k =>
        if (k == 0) 0L
        else Ingest.rollup(prefixSan(k), H)
          .agg(sum("cnt")).as[Long].collect().head)
      // q66-style request bounds: µs-aligned, interior spans hour levels
      val (aStart, aEnd) = (T0 + H, T0 + 6 * H)

      var lastK = 0
      var duringReads = 0 // polls that ran before the pending batch landed
      for (b <- 0 until nB) {
        ms.addData(pts(b))
        var k = -1
        var firstPoll = true
        val deadline = System.currentTimeMillis() + 180000
        while (k != b + 1 && System.currentTimeMillis() < deadline) {
          val snap = store.snapshot(spark)
          val rawSet = snap.raw(spark)
            .as[(String, Long, Double)].collect().toSet
          k = cum.indexWhere(_ == rawSet)
          assert(k >= 0, s"raw read during batch $b is not a committed " +
            s"prefix (${rawSet.size} rows) — a partial batch leaked")
          assert(k >= lastK, s"visibility went backwards: $lastK -> $k")
          val l0 = snap.level0(spark)
            .agg(coalesce(sum("cnt"), lit(0L))).as[Long].collect().head
          assert(l0 == cumCnt(k),
            s"snapshot torn: raw shows prefix $k (${cumCnt(k)} pts) but " +
              s"level0 sums $l0")
          if (firstPoll) {
            // level-composed aggregate from ONE snapshot: raw edges +
            // level interior must answer from the same prefix
            val got = HtaService.aggregateRangeFast(snap.raw(spark),
              snap.level0(spark), store.levels, aStart, aEnd)
            val want = HtaService.aggregateRangeFast(prefixSan(k),
              Ingest.rollup(prefixSan(k), store.levels.head), store.levels,
              aStart, aEnd)
            assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
              s"snapshot-composed aggregate diverges from prefix $k")
            firstPoll = false
          }
          lastK = k
          if (k <= b) duringReads += 1
        }
        assert(k == b + 1, s"batch $b never became visible")
      }
      // sanity that the loop exercised the during-commit window. Not
      // timing-flaky: k is decided by the marker listing inside
      // store.snapshot() — a driver-side FS call issued within
      // milliseconds of addData returning — not by when the (slow) poll
      // body finishes. The batch's marker only lands after the stream
      // plans the micro-batch and completes two parquet writes, so the
      // first snapshot of each batch precedes its commit by construction
      assert(duringReads > 0, "no poll ever overlapped an in-flight commit")
    } finally q.stop()
  }

  test("streamingFirstOccurrence: in-batch min, cross-batch first-arrival state") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    import ss.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)](ss)
    val q = graft.operators.Dedup.streamingFirstOccurrenceBy(ms.toDS())(
      _._1, _._2)
      .toDF("fp", "id")
      .writeStream.outputMode("append")
      .format("memory").queryName("sfo_test").start()
    try {
      // batch 1: "a" duplicated in-batch (min 3 wins), "b" single
      ms.addData(Seq(("a", 7L), ("a", 3L), ("b", 10L)))
      q.processAllAvailable()
      // batch 2: "a" again with a SMALLER id — state says seen, nothing
      // emitted (streaming keeps first ARRIVAL; only an id-ascending
      // feed makes that the global min, which the x87 fixture provides);
      // "c" is new
      ms.addData(Seq(("a", 1L), ("c", 5L)))
      q.processAllAvailable()
      val got = ss.table("sfo_test").as[(String, Long)].collect().toSet
      assert(got == Set(("a", 3L), ("b", 10L), ("c", 5L)))
    } finally q.stop()
  }
}
