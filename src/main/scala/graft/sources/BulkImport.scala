package graft.sources

import graft.operators.{Ingest, SideJob}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4 — bulk backfill, the reference's `metricq_importer` path
  * (`/root/reference/src/tools/metricq_importer/importer.py:197-249`:
  * MySQL, 10 M-row chunks, N workers). Spark-native: `spark.read.jdbc`
  * with range partitioning replaces the hand-rolled chunk loop — each
  * partition is an independent task, the analogue of the importer's
  * async workers — and the result flows through the SAME sanitize +
  * rollup pipeline as streaming ingest (batch mode).
  *
  * The JDBC path cannot run in this zero-egress environment (no
  * database); [[fromDataFrame]] is the tested core, [[fromJdbc]] the
  * thin production wiring over it.
  */
object BulkImport {

  /** Backfill from any batch DataFrame of `(metric, time, value, seq)`:
    * sanitize (F1–F3) then level-0 rollup — identical semantics to
    * replaying the data through the streaming gate in one batch.
    * NOTE: the sanitize window partitions by metric, so a single-metric
    * import of billions of rows serializes into one task — chunk such
    * imports by time range and feed them through the streaming path
    * (anchor rows carry the cross-chunk segments), exactly like the
    * reference importer's 10 M-row chunks.
    */
  def fromDataFrame(points: DataFrame, intervalMin: Long): (DataFrame, DataFrame) = {
    val clean = Ingest.sanitize(points)
    (clean, Ingest.rollup(clean, intervalMin))
  }

  /** Arrival-chunked backfill — the importer's 10 M-row chunk loop
    * (`importer.py:197-249`) re-expressed over the streaming store: the
    * input is split into `nChunks` consecutive `seq` (arrival-order)
    * ranges, and each chunk flows through the SAME gate, per-series
    * rollup kernel and batch-keyed write as a streaming micro-batch
    * ([[graft.streaming.HtaStore.writeBatch]]).
    *
    * Why this exists (SURVEY §7 hard-part 3 / SCALE.md §2): the one-shot
    * [[fromDataFrame]] path sanitizes with a per-metric window over the
    * FULL history — a single-metric import of billions of rows
    * serializes into one task. Here no operator ever sees more than one
    * chunk: the per-metric running max of all previous chunks seeds each
    * chunk's gate as a DISTRIBUTED checkpointed frame (no O(metrics)
    * driver structure — see [[chunkedGatedChunks]]), and the hold
    * segment bridging a chunk boundary travels as an anchor row, exactly
    * like the streaming batch boundary. The driver loop is over chunks
    * (count = total/10 M at the importer's sizing), each a fully
    * parallel job.
    */
  def chunkedBackfill(spark: SparkSession, points: DataFrame,
                      store: graft.streaming.HtaStore, nChunks: Int,
                      tag: String = "backfill"): Unit =
    chunkedGatedChunks(spark, points, nChunks) { (batch, i) =>
      store.writeBatch(spark, batch, s"${tag}_$i")
    }

  /** The seed-carrying chunk loop of [[chunkedBackfill]], factored
    * from the store sink so the seed machinery is testable at metric
    * cardinalities the (metric, day)-partitioned store layout cannot
    * host locally (StressProof drives it at 100 k metrics with a
    * counting sink). Each chunk's gated rows PLUS the cross-chunk
    * anchor rows are handed to `sink` exactly as writeBatch expects.
    *
    * The gate seed — metric → (max stored time, its value) — is a
    * DISTRIBUTED frame, never a driver map: the retired per-chunk
    * `collect()` was a driver-memory funnel at millions of metrics,
    * the exact shape the streaming gate's distributed initial-state
    * seed already avoids. Per chunk the seed folds the chunk's
    * per-metric max in via union + argmax (kept rows all pass the
    * gate, so a touched metric's new time is strictly above its old
    * seed and `max_by` picks it; untouched metrics keep their row) and
    * is eagerly `localCheckpoint`ed: the lineage would otherwise
    * deepen by one window + join + aggregate per chunk, and an
    * importer's thousands of chunks would overflow plan compilation
    * long before data volume mattered. The previous checkpoint's
    * blocks are released once the next one is materialized and the
    * chunk's sink (whose anchor rows read the previous seed) has
    * settled, so executor storage holds at most two O(metrics) seeds.
    * The seed join is a plain (AQE-planned) left join: small seeds
    * broadcast themselves, and a multi-million-metric seed stays a
    * shuffle join instead of an OOM-ing forced broadcast.
    */
  private[graft] def chunkedGatedChunks(spark: SparkSession,
                                        points: DataFrame, nChunks: Int)(
      sink: (DataFrame, Int) => Unit): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(nChunks > 0)
    val bounds = points.agg(min(col("seq")).cast("long"), max(col("seq")).cast("long"))
      .as[(Option[Long], Option[Long])].head()
    val (lo, hi) = (bounds._1, bounds._2) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => return // empty import
    }
    val step = math.max(1L, (hi - lo) / nChunks + 1)
    var seedDf = Seq.empty[(String, Long, Double)]
      .toDF("metric", "seed_ts", "seed_v")
    var seedRdds: Set[Int] = Set.empty
    def release(ids: Set[Int]): Unit = {
      val now = spark.sparkContext.getPersistentRDDs
      ids.foreach(id => now.get(id).foreach(_.unpersist(blocking = false)))
    }
    try (0 until nChunks).foreach { i =>
      val chunk = points.filter(
        col("seq") >= lo + i * step && col("seq") < lo + (i + 1) * step)
      // in-chunk monotonic gate, floored by the cross-chunk seed
      // (greatest() ignores NULLs, so an unseeded metric degrades to the
      // plain running max and a row with no predecessors passes)
      val w = Window.partitionBy("metric").orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
      val kept = chunk
        .filter(!isnan(col("value")))
        .filter(abs(col("value")) =!= lit(Double.PositiveInfinity))
        .join(seedDf, Seq("metric"), "left")
        .withColumn("max_prev", greatest(max(col("time")).over(w), col("seed_ts")))
        .filter(col("max_prev").isNull || col("time") > col("max_prev"))
        .select(col("metric"), col("time"), col("value"), lit(false).as("anchor"))
      val anchors = seedDf.select(col("metric"), col("seed_ts").as("time"),
        col("seed_v").as("value"), lit(true).as("anchor"))
      // cache across the two actions (sink + seed fold) — the gate
      // window would otherwise run twice per chunk
      val keptC = kept.cache()
      try {
        // the sink write and the seed fold are INDEPENDENT actions
        // over the same cached gated rows (the fold reads kept rows,
        // never the sink's output; chunk i+1 depends only on the
        // fold) — overlap them so the chunk's two jobs back-fill each
        // other's stragglers instead of serializing (guide §2.6).
        // alongside() returns only once the sink has settled, which
        // keeps the loop's observable order: a chunk is fully
        // delivered before the next chunk starts, and a failing sink
        // still fails the import on this iteration.
        val oldIds = seedRdds
        seedDf = SideJob.alongside(spark)(sink(keptC.unionByName(anchors), i)) {
          val before = spark.sparkContext.getPersistentRDDs.keySet
          // one aggregation folds the chunk into the seed: the retired
          // two-step (per-chunk newMax groupBy, then a second fold
          // groupBy) shuffled the same rows twice per chunk — the union
          // feeds kept rows straight into the fold and partial (map-side)
          // aggregation does what the separate newMax did. Equivalent:
          // gate-kept times are strictly increasing per metric and above
          // the old seed_ts, so the (max, argmax) over seed ∪ kept has a
          // unique maximum either way
          val next = seedDf.unionByName(
              keptC.select(col("metric"), col("time").as("seed_ts"),
                col("value").as("seed_v")))
            .groupBy("metric")
            .agg(max("seed_ts").as("seed_ts"),
              max_by(col("seed_v"), col("seed_ts")).as("seed_v"))
            .localCheckpoint(true)
          // the snapshot diff may also catch the sink's own transient
          // cache ids (writeBatch caches and releases its batch) —
          // harmless, unpersisting an already-released id is a no-op;
          // the fold's checkpoint blocks are always inside the window.
          // Tracked at once, so a failing sink still frees them below
          seedRdds ++= (spark.sparkContext.getPersistentRDDs.keySet -- before)
          next
        }
        // only now, with the sink settled, is the old seed unread: the
        // sink's `anchors` are built from it, and a localCheckpoint
        // cannot be recomputed once its blocks are gone
        release(oldIds)
        seedRdds --= oldIds
      } finally keptC.unpersist()
    } finally release(seedRdds)
  }

  /** Production wiring: partitioned JDBC scan → backfill. `chunkRows`
    * mirrors the importer's 10 M-row chunking via partition count on the
    * `time` column (predicate pushdown gives each task a range scan).
    */
  def fromJdbc(spark: SparkSession, url: String, table: String,
               metricName: String, minTime: Long, maxTime: Long,
               numPartitions: Int, intervalMin: Long,
               props: java.util.Properties = new java.util.Properties)
      : (DataFrame, DataFrame) = {
    // jdbc() bounds only set the partition stride — the outer partitions
    // are unbounded predicates, so filter explicitly for a bounded import
    val raw = spark.read.jdbc(url, table, "timestamp", minTime, maxTime,
      numPartitions, props)
      .where(col("timestamp") >= minTime && col("timestamp") < maxTime)
      .select(lit(metricName).as("metric"),
        col("timestamp").as("time"),
        col("value"),
        col("timestamp").as("seq")) // importer reads in time order
    fromDataFrame(raw, intervalMin)
  }
}
