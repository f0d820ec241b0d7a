package graft.streaming

import graft.core.Intervals
import graft.operators.{Ingest, SideJob}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming ingest — the reference's live path (SURVEY §3.1)
  * re-expressed: AMQP DataChunks become a streaming Dataset of points;
  * the per-metric strand becomes the hash shuffle of `groupByKey(metric)`;
  * the monotonic/NaN/Inf gate becomes keyed state in
  * `flatMapGroupsWithState`; `flush()`-then-ack becomes micro-batch
  * checkpoint commit + F3 idempotence (at-least-once ⇒ effectively-once,
  * ref async_hta_service.hpp:308,327 + :263-269).
  *
  * ## Level maintenance without read-modify-write
  *
  * The store is append-only (SURVEY §7 hard-part 5): each micro-batch
  * appends (a) its kept raw points and (b) *partial* level-0 bucket rows
  * computed from the batch by the gate itself. Because the Agg summary
  * is a commutative monoid (A3), partial bucket rows merge on read —
  * `levels()` is a groupBy-merge view — and [[HtaStore.compact]] folds
  * them down physically whenever convenient. No bucket row is ever
  * updated in place, so there are no upsert races; the only cross-batch
  * coupling is the hold segment that bridges a batch boundary, seeded
  * from the gate state's previous point (segment-only, never
  * re-counted).
  */
object StreamingIngest {

  /** Cap on the legacy-checkpoint seed collect (see [[start]]): above
    * this many metrics the fallback fails with a migration message
    * instead of materializing unbounded state on the driver. System
    * property so an operator (or test) can tune it without an API
    * change.
    */
  def legacySeedMaxKeys: Long =
    java.lang.Long.getLong("graft.legacySeed.maxKeys", 100000L)

  case class Point(metric: String, time: Long, value: Double, seq: Long)

  /** Per-metric gate state: newest stored timestamp + its value (the
    * value seeds the bridging hold segment of the next batch).
    */
  case class GateState(maxTs: Long, lastValue: Double)

  /** A gated point as batch callers hand it to [[HtaStore.writeBatch]]:
    * `anchor = true` marks the carried previous point (segment seed),
    * `false` a newly kept point.
    */
  case class GatedPoint(metric: String, time: Long, value: Double, anchor: Boolean)

  /** A kept point: one row of the store's raw side. */
  case class Kept(metric: String, time: Long, value: Double)

  /** One row of the gate's output: a kept point or one level-0 partial
    * bucket of the same batch — exactly one of the two is set.
    */
  case class GateRow(kept: Option[Kept], partial: Option[Ingest.Partial])

  /** The gate's output for one metric of one batch: its kept points and
    * the level-0 partials [[Ingest.rollupSeries]] derives from them.
    * `series` is `(time, value, anchor)` sorted by time.
    */
  private[graft] def gateRows(metric: String,
                              series: collection.IndexedSeq[(Long, Double, Boolean)],
                              intervalNs: Long): Iterator[GateRow] = {
    val partials = Ingest.rollupSeries(metric, series.iterator, intervalNs)
    series.iterator.collect { case (t, v, false) =>
      GateRow(Some(Kept(metric, t, v)), None)
    } ++ partials.map(p => GateRow(None, Some(p)))
  }

  /** The keyed-state monotonic gate (T1/T2). Within a batch, points are
    * processed in arrival (`seq`) order — the strand semantics. The same
    * per-metric pass maintains level 0, as the reference's strand does
    * on every insert (async_hta_service.hpp:283): the state's previous
    * point plus the kept points are already in time order, so the gate
    * emits the batch's partial buckets of `intervalNs` beside its kept
    * points and the store writes both without another shuffle. State
    * seeds from the `seed` Dataset via the initial-state overload (the
    * reference seeds from `metric.range().second`, ref :259): Spark
    * co-partitions the seed with the state store and `putState`s every
    * seeded key at batch 0 — including keys with no batch-0 data — so
    * seeding is fully distributed; no per-metric map ever touches the
    * driver or the task closure, whatever the metric cardinality.
    *
    * `legacyFallback` exists for checkpoints created BEFORE initial-state
    * seeding: Spark applies initial state only at batch 0, so a legacy
    * checkpoint restarted at batch N would lose the seed for metrics
    * whose committed history exists but which never created state (e.g.
    * backfilled metrics that had not streamed yet). For those
    * checkpoints only, [[start]] passes a driver-resident copy consulted
    * per batch — the pre-initial-state behavior, bounded by the legacy
    * deployment's metric cardinality; new checkpoints pass `Map.empty`.
    */
  def gate(points: Dataset[Point], seed: Dataset[(String, GateState)],
           intervalNs: Long,
           legacyFallback: Map[String, GateState] = Map.empty)(
      implicit spark: SparkSession): Dataset[GateRow] = {
    import spark.implicits._
    points.groupByKey(_.metric)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        seed.groupByKey(_._1).mapValues(_._2)) {
        (metric: String, it: Iterator[Point], state: GroupState[GateState]) =>
          val st0 = state.getOption.orElse(legacyFallback.get(metric))
          var maxTs = st0.map(_.maxTs).getOrElse(Long.MinValue)
          var lastV = st0.map(_.lastValue).getOrElse(Double.NaN)
          val series = scala.collection.mutable.ArrayBuffer
            .from(st0.map(s => (s.maxTs, s.lastValue, true)))
          it.toArray.sortBy(_.seq).foreach { p =>
            if (!p.value.isNaN && !p.value.isInfinite && p.time > maxTs) {
              maxTs = p.time
              lastV = p.value
              series += ((p.time, p.value, false))
            }
          }
          if (series.length == st0.size) Iterator.empty // nothing kept
          else {
            state.update(GateState(maxTs, lastV))
            gateRows(metric, series, intervalNs)
          }
      }
  }

  /** Identity of a checkpoint as seen by the store: the stable batch-key
    * prefix (`tag`) plus the highest COMMITTED batch id. A batch
    * directory with a larger id was written by a crashed, uncommitted
    * batch that Spark will replay on restart — it is durable but not
    * trustworthy: the gate seed must ignore it (or the replay's
    * overwrite would erase its only copy) and [[HtaStore.compact]] must
    * carry it through unmerged (or the replay would double-count it).
    *
    * The tag hashes a per-INCARNATION id persisted inside the
    * checkpoint directory (`graft-id`, written on first use), NOT the
    * path: an operator who wipes and recreates the same checkpoint path
    * restarts batch ids at 0, and a path-derived tag would make batch 0
    * overwrite the old incarnation's committed batch-0 directory while
    * leaving its later batches as duplicates. A fresh incarnation gets
    * a fresh tag, and the old incarnation's directories are correctly
    * trusted as foreign committed data.
    */
  def checkpointIdentity(spark: SparkSession, checkpoint: String): (String, Long) = {
    val (tag, committedMax, _) = checkpointIdentityFull(spark, checkpoint)
    (tag, committedMax)
  }

  /** [[checkpointIdentity]] plus the LEGACY bit — whether the adopted
    * identity is a canonical PATH (pre-incarnation-id checkpoint, the
    * only kind whose own sink history can carry bare batch keys). One
    * read of `graft-id` serves all three facts; callers needing the
    * legacy bit must not re-read the file (a second unvalidated read
    * could disagree with the first).
    */
  private[graft] def checkpointIdentityFull(spark: SparkSession,
                                            checkpoint: String)
    : (String, Long, Boolean) = {
    val hp = new org.apache.hadoop.fs.Path(checkpoint)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idFile = new org.apache.hadoop.fs.Path(hp, "graft-id")
    def readId(): String = {
      val in = hfs.open(idFile)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      // an empty/garbled id would make this checkpoint share a tag with
      // every other checkpoint that hit the same corruption — md5("") —
      // recreating exactly the batch-key collision the id prevents.
      // Refuse loudly; restoring from backup is the safe recovery —
      // REMOVING the file does NOT mint a fresh incarnation on an
      // in-use checkpoint (commits/ exists, so the legacy branch
      // adopts the PATH identity, which also re-enables pre-tag
      // bare-key semantics on the corpus sink)
      require(s.matches("[0-9a-f-]{36}") || s.contains(":/"),
        s"corrupt $idFile (content '${s.take(40)}'): restore it from " +
          "backup; removing it would make this checkpoint adopt the " +
          "legacy path identity, not a fresh incarnation")
      s
    }
    val incarnation =
      if (hfs.exists(idFile)) readId()
      else {
        // pre-graft-id checkpoint already in use (Spark's commits/ dir
        // exists): its store batch keys hashed the canonical PATH —
        // adopt that exact string as the incarnation id so the tag (and
        // with it every batch key) is unchanged and replays keep
        // overwriting the directories the old code wrote
        val legacy = hfs.exists(new org.apache.hadoop.fs.Path(hp, "commits"))
        val id =
          if (legacy) hfs.makeQualified(hp).toString
          else java.util.UUID.randomUUID().toString
        hfs.mkdirs(hp)
        // content atomicity: write the full id to a temp file, then
        // rename into place (rename is atomic; create-then-write leaves
        // a window where a crash persists a zero-length id)
        val tmp = new org.apache.hadoop.fs.Path(hp,
          s"graft-id.tmp-${java.util.UUID.randomUUID()}")
        val out = hfs.create(tmp, true)
        try out.write(id.getBytes("UTF-8")) finally out.close()
        if (hfs.rename(tmp, idFile)) id
        else { // lost the race — use the winner's id
          hfs.delete(tmp, false)
          readId()
        }
      }
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(incarnation.getBytes("UTF-8")).map("%02x".format(_))
      .mkString.take(12)
    val cp = new org.apache.hadoop.fs.Path(s"$checkpoint/commits")
    val committedMax =
      if (!hfs.exists(cp)) -1L
      else hfs.listStatus(cp).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toLong).toOption)
        .foldLeft(-1L)(math.max)
    (tag, committedMax, incarnation.contains(":/"))
  }

  /** Refuse to restart a checkpoint whose gate state is behind the
    * store. Spark applies initial state only at batch 0, so a restarted
    * query gates from its state alone: a metric with committed history
    * newer than its state (a backfill, or another checkpoint's batches,
    * landed while the query was stopped) would let stale points in
    * behind it. A fresh checkpoint seeds from the store at batch 0.
    */
  private def assertStateCovers(spark: SparkSession, checkpoint: String,
                                seed: Dataset[(String, GateState)]): Unit = {
    import spark.implicits._
    val state = spark.read.format("statestore").load(checkpoint)
      .select(col("key.value").as("metric"),
        col("value.groupState.maxTs").as("stateTs"))
    seed.toDF("metric", "seed").join(state, Seq("metric"), "left")
      .filter(col("stateTs").isNull || col("stateTs") < col("seed.maxTs"))
      .select("metric").as[String].head(1).headOption.foreach { m =>
        throw new IllegalStateException(
          s"checkpoint $checkpoint is behind the store: metric '$m' has " +
            "committed history newer than its gate state, and a restarted " +
            "query gates from its state only — restart the ingest on a " +
            "fresh checkpoint, which seeds every metric from the store")
      }
  }

  /** Start the ingest query: gate → foreachBatch dual write into `store`.
    * Ack semantics (T4): the checkpoint commit happens after both writes
    * return — a replayed batch re-runs through the gate, whose state
    * already covers it, and appends nothing (effectively-once).
    */
  def start(spark: SparkSession, points: Dataset[Point], store: HtaStore,
            checkpoint: String, stats: Option[IngestStats] = None,
            catalog: Option[graft.core.MetricCatalog] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    // refuse a busy store FIRST — before checkpoint-identity side
    // effects (graft-id / seed-v2 markers) land and before the legacy
    // branch pays a driver-side seed collect; the probe is one file
    // read plus a liveness check
    store.assertNotBusy(spark)
    // idempotent registration: reusing one collector across restarts
    // (the pattern bind() supports) must not double-register it — a
    // second addListener would fire onQueryProgress twice per batch
    stats.foreach { st =>
      spark.streams.removeListener(st)
      spark.streams.addListener(st)
    }
    val (ckptTag, committedMax) = checkpointIdentity(spark, checkpoint)
    // legacy-seed detection: initial state only applies at batch 0, so a
    // checkpoint created before initial-state seeding and restarted at
    // batch N needs the per-batch driver-map fallback (see gate doc). A
    // `graft-seed-v2` flag marks checkpoints born under the new code; an
    // unmarked checkpoint WITH committed batches is legacy — permanently,
    // because its batch-0 window is gone
    val legacySeed = {
      val hp = new org.apache.hadoop.fs.Path(checkpoint)
      val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val flag = new org.apache.hadoop.fs.Path(hp, "graft-seed-v2")
      if (hfs.exists(flag)) false
      else if (committedMax >= 0L) true
      else { // fresh checkpoint: mark it and use pure initial state
        hfs.mkdirs(hp)
        hfs.create(flag, true).close()
        false
      }
    }
    // mode enforcement: a metric configured RO rejects writes — dropped
    // before the gate (so no state is ever created for it) and counted.
    // The RO set is config-sized; isin compiles to a codegen'd hash probe
    val roSet = catalog.map(_.readOnlyMetrics).getOrElse(Set.empty)
    val isRo =
      if (roSet.isEmpty) lit(false) else col("metric").isin(roSet.toSeq: _*)
    // A8 skip counters as observable metrics (collected per micro-batch by
    // IngestStats; stateless classification — a NaN that is also stale
    // counts as NaN here, unlike the ref's check order, but totals agree;
    // RO rejection is checked FIRST, like the reference failing the write
    // before value sanitation ever runs)
    val observed = points.toDF()
      .observe("ingest_in",
        count(lit(1)).as("n_in"),
        sum(when(isRo, 1L).otherwise(0L)).as("n_ro"),
        sum(when(!isRo && isnan(col("value")), 1L).otherwise(0L)).as("n_nan"),
        sum(when(!isRo && !isnan(col("value")) &&
          abs(col("value")) === lit(Double.PositiveInfinity), 1L)
          .otherwise(0L)).as("n_inf"))
      .filter(!isRo)
      .as[Point]
    val seed = store.seedState(spark, ckptTag, committedMax)
    if (!legacySeed && committedMax >= 0L) assertStateCovers(spark, checkpoint, seed)
    val gated = gate(observed, seed, store.intervalMin,
      if (legacySeed) {
        // the legacy fallback is driver-resident by nature (pre-seed-v2
        // checkpoints lost their batch-0 initial-state window) — bounded
        // in practice by the legacy deployment's cardinality, but refuse
        // to collect unbounded state rather than OOM the driver
        val n = seed.count()
        if (n > StreamingIngest.legacySeedMaxKeys) throw new IllegalStateException(
          s"legacy checkpoint $checkpoint needs a driver-resident seed " +
            s"map for $n metrics (cap ${StreamingIngest.legacySeedMaxKeys}); " +
            "migrate to a fresh checkpoint (distributed initial-state " +
            "seeding) instead, or raise -Dgraft.legacySeed.maxKeys")
        seed.collect().toMap
      } else Map.empty)
    // the whole start handshake — guard token BEFORE .start() (a
    // compact beginning between the pre-start probe and the run-id
    // write must not rename committed first batches out from under
    // us), swap to runId, JVM-global registry, stop-on-failure — is
    // SinkLock.startGuarded, shared with the corpus sink
    val q = store.startIngestGuarded(spark) {
      gated.toDF()
        .observe("ingest_out",
          sum(when(col("kept").isNotNull, 1L).otherwise(0L)).as("n_kept"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // idempotency key = (checkpoint identity, batchId): stable across
          // restarts of the same checkpoint (replay overwrites the same
          // directory) but distinct between queries (a fresh checkpoint
          // restarts batch ids at 0 and must not clobber prior batches)
          store.writeGateRows(spark, batch, s"${ckptTag}_$batchId")
        }
        .start()
    }
    // scope the stats collector to THIS query run — listeners are
    // session-global and would otherwise interleave other queries' rows
    stats.foreach(_.bind(q.runId))
    q
  }
}

object HtaStore {
  /** Nanoseconds per day — the raw layout's coarse time partition
    * granularity. A day directory under each metric keeps directory
    * counts bounded (1 per metric-day) while giving time-ranged scans
    * directory-level pruning.
    */
  val DayNs: Long = 86400000000000L

  /** JVM-global writer registry: `StreamingQueryManager` is scoped to
    * ONE SparkSession, so probing `spark.streams.active` alone would
    * miss a live writer started from a sibling session (`newSession()`
    * or a separately built one) and let compact destroy its in-flight
    * batches. Weak references: a terminated query's handle must not be
    * pinned forever — the manager holds active queries strongly, so a
    * collected referent can only be a dead (or unreachable) query.
    */
  private val liveRuns = scala.collection.concurrent.TrieMap
    .empty[String, java.lang.ref.WeakReference[
      org.apache.spark.sql.streaming.StreamingQuery]]

  private[graft] def registerRun(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    // opportunistic sweep keeps the map at O(live queries)
    liveRuns.filterInPlace((_, ref) =>
      Option(ref.get).exists(_.isActive))
    liveRuns.put(q.runId.toString, new java.lang.ref.WeakReference(q))
    noteOwnToken(q.runId.toString)
  }

  /** Every lock token this JVM has ever minted (runIds, start guards,
    * compact tokens) — what lets the cross-JVM SinkLock distinguish
    * "our own dead writer" (stale immediately, the pre-round-16
    * clear-on-next-acquire behavior) from "another JVM's writer"
    * (judged by the heartbeat lease instead). Strings only, one per
    * writer this process ever started — bounded by driver lifetime,
    * never by data.
    */
  private val ownTokens =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[streaming] def noteOwnToken(token: String): Unit = {
    ownTokens.add(token); ()
  }
  private[streaming] def ownsToken(token: String): Boolean =
    ownTokens.contains(token)

  private[streaming] def runIsActive(spark: SparkSession,
                                     runId: String): Boolean =
    liveRuns.get(runId).flatMap(r => Option(r.get)) match {
      case Some(q) => q.isActive
      // not registered (store written by pre-registry code) or referent
      // collected: fall back to the calling session's manager
      case None => spark.streams.active.exists(_.runId.toString == runId)
    }

  /** Per-root monitor for lock-file read-check-write sequences — see
    * `busyCheck`. Roots are never removed: the map is O(distinct store
    * roots this JVM has touched), and a monitor must stay identical
    * for a root's whole lifetime to exclude anything.
    */
  private val rootMonitors =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private[streaming] def rootMonitor(root: String): Object =
    rootMonitors.getOrElseUpdate(root, new Object)

  /** Live compact tokens (`compact:<uuid>` lock-file values). A compact
    * holds the ingest lock for its WHOLE duration — entry-only
    * exclusion would let a `start()` that begins mid-compact pass
    * `assertNotBusy` (no lock file) and write fresh batch directories
    * into `raw/` that `swapCompact`'s rename+delete silently destroys.
    * Liveness of a token is JVM membership here: a token in a lock file
    * with no registration can only be a crashed compact (the JVM died
    * mid-run), which the next busy probe treats as stale — and whose
    * half-finished swap, if any, `pendingCompactCheck` still blocks on
    * independently.
    */
  private val liveCompacts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[streaming] def registerCompact(token: String): Unit = {
    liveCompacts.add(token)
    noteOwnToken(token)
  }
  private[streaming] def unregisterCompact(token: String): Unit =
    liveCompacts.remove(token)
  private[streaming] def compactIsActive(token: String): Boolean =
    liveCompacts.contains(token)

  /** Recover one side of a previous compact crash: `bak` holding the
    * ONLY copy means the swap died between its two renames — the rename
    * back must be verified before anything may delete bak. Shared with
    * the corpus sink's [[graft.sources.CorpusIO.compactCurated]]: the
    * crash discipline exists exactly once.
    */
  private[graft] def recoverCompact(hfs: org.apache.hadoop.fs.FileSystem,
                                    cur: org.apache.hadoop.fs.Path,
                                    bak: org.apache.hadoop.fs.Path,
                                    tmp: org.apache.hadoop.fs.Path): Unit = {
    if (hfs.exists(bak) && !hfs.exists(cur) && !hfs.rename(bak, cur))
      throw new java.io.IOException(
        s"compact recovery: rename $bak -> $cur failed; data is in $bak")
    if (hfs.exists(bak)) {
      // bak now coexists with cur ⇒ it is a stale duplicate, not data
      if (!hfs.exists(cur))
        throw new java.io.IOException(s"compact recovery left no $cur")
      hfs.delete(bak, true)
    }
    if (hfs.exists(tmp)) hfs.delete(tmp, true)
  }

  /** Swap the freshly-written `tmp` in for `cur` via the verified
    * double rename. Hadoop rename signals failure by returning false —
    * never delete the backup unless both renames actually happened.
    */
  private[graft] def swapCompact(hfs: org.apache.hadoop.fs.FileSystem,
                                 cur: org.apache.hadoop.fs.Path,
                                 bak: org.apache.hadoop.fs.Path,
                                 tmp: org.apache.hadoop.fs.Path): Unit = {
    if (!hfs.rename(cur, bak))
      throw new java.io.IOException(s"compact: rename $cur -> $bak failed")
    if (!hfs.rename(tmp, cur)) {
      hfs.rename(bak, cur) // restore; next compact can retry
      throw new java.io.IOException(s"compact: rename $tmp -> $cur failed")
    }
    hfs.delete(bak, true)
  }
}

/** Thrown by [[HtaStore.compact]] when a live ingest query holds the
  * store's ingest lock — compaction lists-then-deletes batch
  * directories and would destroy a concurrent append.
  */
class StoreBusyException(msg: String) extends IllegalStateException(msg)

/** Parquet-backed append-only HTA store: `raw/` (kept points) +
  * `partials/` (level-0 partial buckets, merge-on-read).
  *
  * ## Idempotent, batch-keyed writes
  *
  * Each micro-batch writes into its own `batch_id=<n>` directory with
  * OVERWRITE mode. A failure replay (checkpoint not yet committed →
  * state restored to the pre-batch version → the gate re-emits the
  * identical rows) overwrites the same directories with the same
  * content, so at-least-once execution converges to exactly-once
  * storage — including the half-written case where raw/ was flushed but
  * partials/ was not.
  *
  * Layout for scale: raw is partitioned by metric and epoch `day`
  * (derived from `time`, see [[HtaStore.DayNs]]) and sorted by time
  * within files — a time-ranged scan prunes to its day directories
  * first ([[HtaStore.rawRange]]), then parquet min/max on sorted
  * `time` skips row groups within each file; partials are partitioned
  * by `interval_ns` so a timeline query prunes to one level
  * directory. At 100 TB replace the directory-rename compaction with
  * a transactional table format.
  */
class HtaStore(val root: String, val intervalMin: Long) {
  import HtaStore.DayNs
  val levels: List[Long] = Intervals.ladder(intervalMin)
  private def rawPath = s"$root/raw"
  private def partialsPath = s"$root/partials"
  private def commitsPath = s"$root/batch_commits"

  // explicit read schemas: partition-column type inference would turn
  // all-numeric metric names (sensor ids like "42") into an int column,
  // breaking seedState's typed Dataset and every string comparison; on
  // a pre-day (v1) raw tree `day` is a column its files lack: null
  private val rawSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "time LONG, value DOUBLE, metric STRING, day LONG, batch_id STRING")
  private val partialsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "metric STRING, bucket_start LONG, min_v DOUBLE, max_v DOUBLE, " +
      "sum_c LONG, cnt LONG, integral_cus LONG, active_us LONG, " +
      "interval_ns LONG, batch_id STRING")

  private def fs(spark: SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  // write-guard memo: once the raw layout is confirmed day-partitioned
  // it can never regress, so later writeBatch calls skip the listings
  @volatile private var layoutV2Confirmed = false

  /** Refuse reads and writes while a crashed compact's backup
    * directories exist. Without this, a streaming restart's writeBatch
    * would see no `raw/` (renamed to `raw_old`, crash before the swap
    * completed), recreate it, and the next compact's recovery would
    * then delete `raw_old` as a "stale duplicate" — silently destroying
    * the only copy of all previously folded history. `compact()` itself
    * recovers the half-finished swap on entry, so the remedy is simply
    * to run it once. Deliberately NOT memoized: a compact can crash in
    * a different instance — or a different JVM entirely — after this
    * one last looked, so any cached "clean" verdict is unsound. The
    * price is two filesystem `exists` probes per store use (per
    * micro-batch on the write path), noise next to the parquet I/O they
    * guard.
    */
  private def pendingCompactCheck(spark: SparkSession): Unit = {
    val stale = Seq(s"$root/raw_old", s"$root/partials_old").filter { p =>
      val (hfs, hp) = fs(spark, p); hfs.exists(hp)
    }
    if (stale.nonEmpty) throw new java.io.IOException(
      s"compact crash pending (${stale.mkString(", ")} exists): run " +
        "compact() on this store to recover before reading or writing — " +
        "a write now would recreate the primary directory and make the " +
        "backup holding your data look like a stale duplicate")
  }

  /** Single-writer exclusion (lock file + JVM liveness): the
    * discipline lives in [[SinkLock]], shared verbatim with the corpus
    * sink — see its doc for the mechanism and scope. [[compact]]
    * refuses while the recorded query is still active; a stale lock
    * (crashed or cleanly-stopped holder) is cleared by the next
    * acquire.
    */
  private val sinkLock = new SinkLock(root, "store")

  /** Start an ingest query under the lock with no unguarded window —
    * [[SinkLock.startGuarded]]'s whole handshake (guard token before
    * `.start()`, swap to runId, registry, stop-on-failure).
    */
  def startIngestGuarded(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
    : org.apache.spark.sql.streaming.StreamingQuery =
    sinkLock.startGuarded(spark)(start)

  /** The pre-start half of the ingest handshake: refuse while another
    * live query holds the lock, WITHOUT acquiring — a cheap probe
    * BEFORE expensive pre-start work (seeding, catalog checks), so a
    * busy store fails fast. Exclusion itself comes from
    * [[startIngestGuarded]]: if two starts race past this probe, the
    * loser's guard acquisition sees the winner's live lock and throws
    * before its query exists.
    */
  def assertNotBusy(spark: SparkSession): Unit =
    sinkLock.assertNotBusy(spark)

  /** Batch commit markers — a minimal store-side transaction log. A
    * marker is written only AFTER a batch's raw AND partials writes both
    * return, so a crash between the two dual writes leaves a marker-less
    * (invisible) batch. Without this, a half-written batch abandoned by
    * its checkpoint (restart under a NEW checkpoint) would permanently
    * diverge raw from partials: the new gate seed would trust the
    * orphaned raw rows and gate out their redelivery, so the missing
    * partials could never be rebuilt. Marker-less directories are
    * ignored by every reader and overwritten (then marked) if their
    * batch is ever replayed. A transactional table format subsumes this
    * file at 100 TB (SCALE.md §1).
    *
    * Migration: a store written before markers existed has data but no
    * `batch_commits/` directory — `None` here, and every batch is
    * trusted (the pre-marker trust model, so upgrading cannot make
    * history vanish). [[writeBatch]] creates the directory BEFORE its
    * first data write, so on any store the new code has touched, an
    * absent directory can only mean "legacy store".
    */
  private def committedKeys(spark: SparkSession): Option[Set[String]] = {
    val (hfs, cp) = fs(spark, commitsPath)
    try Some(hfs.listStatus(cp).map(_.getPath.getName).toSet)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def markCommitted(spark: SparkSession, batchKey: String): Unit = {
    val (hfs, cp) = fs(spark, commitsPath)
    hfs.mkdirs(cp)
    hfs.create(new org.apache.hadoop.fs.Path(cp, batchKey), true).close()
  }

  private def markerDirInit(spark: SparkSession): Unit = {
    val (hfs, cp) = fs(spark, commitsPath)
    if (!hfs.exists(cp)) {
      // first write by marker-aware code: if legacy data exists it was
      // trusted wholesale until now — backfill a marker per existing
      // batch directory so creating the marker dir cannot hide history
      val (rfs, rp) = fs(spark, rawPath)
      val legacyKeys =
        if (!rfs.exists(rp)) Seq.empty
        else rfs.listStatus(rp).map(_.getPath.getName)
          .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id="))
          .toSeq
      hfs.mkdirs(cp)
      legacyKeys.foreach(markCommitted(spark, _))
    }
  }

  /** The committed rows of `df` (`None`: a legacy pre-marker store,
    * every batch trusted). An `isin` literal list grows one entry per
    * micro-batch forever and eventually dominates analysis/codegen;
    * past a small size, switch to a broadcast left-semi join against
    * the marker table (constant plan size at any batch count).
    */
  private def commitFilter(spark: SparkSession, df: DataFrame,
                           keys: Option[Set[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    keys match {
      case None => df
      case Some(ks) if ks.isEmpty => df.filter(lit(false))
      case Some(ks) if ks.size <= 128 =>
        df.filter(col("batch_id").isin(ks.toSeq: _*))
      case Some(ks) =>
        import spark.implicits._
        df.join(broadcast(ks.toSeq.toDF("batch_id")), Seq("batch_id"), "left_semi")
    }
  }

  /** One-pass membership tag for [[HtaStore.compact]]: `df` plus a
    * non-null boolean `flag` column marking committed batch keys (all
    * of them on a legacy pre-marker store) — one broadcast join (or
    * codegen'd isin) regardless of how many downstream splits consume
    * the flag, where semi+anti filtering would pay the join twice.
    */
  private def withCommitFlag(spark: SparkSession, df: DataFrame,
                             keys: Option[Set[String]], flag: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    keys match {
      case None => df.withColumn(flag, lit(true))
      case Some(ks) if ks.isEmpty => df.withColumn(flag, lit(false))
      case Some(ks) if ks.size <= 128 =>
        df.withColumn(flag, col("batch_id").isin(ks.toSeq: _*))
      case Some(ks) =>
        import spark.implicits._
        val marks = ks.toSeq.toDF("batch_id").withColumn("__mark", lit(true))
        df.join(broadcast(marks), Seq("batch_id"), "left")
          .withColumn(flag, coalesce(col("__mark"), lit(false)))
          .drop("__mark")
    }
  }

  private def emptyDf(spark: SparkSession,
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Seed the gate from what is already durable AND committed: batch
    * directories of `ckptTag` with an id above `committedMaxBatch` were
    * written by a crashed, uncommitted batch that is about to be
    * replayed — seeding from them would gate out the replay and lose
    * the data (directories from other checkpoints are trusted as
    * committed). Returned as a Dataset — the gate consumes it through
    * the `flatMapGroupsWithState` initial-state overload, so the seed
    * is shuffled straight into the state-store partitions and never
    * materializes on the driver, whatever the metric cardinality (the
    * reference's directory likewise seeds per metric from storage,
    * async_hta_service.hpp:258-259).
    */
  def seedState(spark: SparkSession, ckptTag: String, committedMaxBatch: Long)
      : Dataset[(String, StreamingIngest.GateState)] = {
    import spark.implicits._
    rawAll(spark) match {
      case None => spark.emptyDataset[(String, StreamingIngest.GateState)]
      case Some(committed) => committed
        // try_cast, not cast: partition pruning evaluates this predicate
        // on every batch_id value regardless of the OR short-circuit, and
        // the ANSI cast hard-fails on the non-numeric `compacted` key
        .filter(!col("batch_id").startsWith(s"${ckptTag}_") ||
          expr("try_cast(substring_index(batch_id, '_', -1) AS LONG)")
            <= committedMaxBatch)
        .groupBy("metric")
        .agg(max("time").as("t"), max_by(col("value"), col("time")).as("v"))
        .as[(String, Long, Double)]
        .map { case (m, t, v) => (m, StreamingIngest.GateState(t, v)) }
    }
  }

  /** The one writer of every store file, raw and partials, batch and
    * compacted. Parquet v2 data pages let parquet-mr encode the int64
    * columns as DELTA_BINARY_PACKED instead of PLAIN: a regular
    * series' sorted `time` shrinks from 8 to well under 1 byte per
    * point, while dictionaries stay where they beat the fallback
    * (`value`, `metric`). Readers need no setting — parquet decodes
    * each file by its own footer, so v1 files in older stores stay
    * readable and [[compact]] rewrites them through this writer. No
    * `_SUCCESS` file: the store's own `batch_commits/` markers say
    * which directories are complete.
    */
  private def storeWriter(df: DataFrame): DataFrameWriter[Row] =
    df.write.option("parquet.writer.version", "v2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** Write a batch of gated points (schema of
    * [[StreamingIngest.GatedPoint]], anchors included) idempotently: one
    * shuffle groups each metric's points, and the gate's own per-series
    * rollup derives their partials, so batch callers write exactly what
    * the streaming gate would.
    */
  def writeBatch(spark: SparkSession, gated: DataFrame, batchKey: String): Unit = {
    import spark.implicits._
    val i = intervalMin
    writeGateRows(spark, gated.select("metric", "time", "value", "anchor")
      .as[StreamingIngest.GatedPoint]
      .groupByKey(_.metric)
      .flatMapGroups { (m, it) =>
        StreamingIngest.gateRows(m,
          it.map(p => (p.time, p.value, p.anchor)).toIndexedSeq.sortBy(_._1), i)
      }.toDF(), batchKey)
  }

  /** Write one batch of gate output ([[StreamingIngest.GateRow]])
    * idempotently (see class doc). The commit marker lands only after
    * BOTH writes return — a half-written batch stays invisible to every
    * reader until its replay completes it.
    */
  private[graft] def writeGateRows(spark: SparkSession, rows: DataFrame,
                                   batchKey: String): Unit = {
    pendingCompactCheck(spark)
    // a pre-day (v1) store must be migrated before new day-partitioned
    // directories land next to v1 ones — mixed partition-column chains
    // make Spark's partition discovery fail for EVERY reader, which is
    // far worse than failing this one write loudly. v2 is monotone
    // (writeBatch refuses v1, compact only migrates v1 → v2), so the
    // probe's listings are paid once per store instance, not per
    // micro-batch
    if (!layoutV2Confirmed) {
      require(rawLayoutV2(spark).getOrElse(true),
        s"store at $root uses the pre-day raw layout; run compact() once " +
          "to migrate it before writing")
      layoutV2Confirmed = true
    }
    // the marker directory must exist BEFORE any data lands: its
    // absence is what distinguishes a legacy pre-marker store (trust
    // everything) from a store with a half-written first batch
    markerDirInit(spark)
    val batch = rows.cache()
    try {
      // the raw write and the partials write are INDEPENDENT jobs over
      // the same cached batch (different artifacts, different dirs) —
      // overlap them (guide §2.6). The commit marker still lands only
      // after BOTH writes return — the idempotent-replay contract is
      // untouched, and a crash mid-overlap leaves the same invisible
      // half-batch a crash mid-sequence did.
      // no repartition: micro-batches are already metric-hashed by the
      // gate's groupByKey shuffle; partitionBy splits directories and the
      // local sort keeps row groups time-ordered for min/max pruning.
      // day is monotone in time, so sorting (metric, day, time) is the
      // same row order as (metric, time) AND satisfies partitionBy's
      // required (metric, day) prefix — no second sort gets inserted
      SideJob.alongside(spark) {
        storeWriter(batch.filter(col("kept").isNotNull).select("kept.*")
          .withColumn("day", expr(s"time div $DayNs"))
          .sortWithinPartitions("metric", "day", "time"))
          .mode("overwrite").partitionBy("metric", "day")
          .parquet(s"$rawPath/batch_id=$batchKey")
      } {
        // a batch's partials are at most one row per metric and bucket,
        // already in (metric, bucket) order: one narrow task writes them
        // as one file
        storeWriter(batch.filter(col("partial").isNotNull).select("partial.*")
          .coalesce(1))
          .mode("overwrite").partitionBy("interval_ns")
          .parquet(s"$partialsPath/batch_id=$batchKey")
      }
      markCommitted(spark, batchKey)
    } finally batch.unpersist()
  }

  /** The write guard's raw layout probe: `Some(true)` = day-partitioned
    * (v2), `Some(false)` = pre-day legacy (v1), `None` = no raw data yet.
    * Decided from the directory shape itself (a constant number of
    * listings), so no version marker can drift from what is actually
    * on disk. Mixed shapes cannot arise: [[writeBatch]] refuses to
    * append v2 directories into a v1 store (Spark's partition
    * discovery would fail on conflicting partition columns), and
    * [[compact]] migrates v1 → v2 wholesale.
    */
  private def rawLayoutV2(spark: SparkSession): Option[Boolean] = {
    val (hfs, hp) = fs(spark, rawPath)
    if (!hfs.exists(hp)) None
    else {
      val leaf = hfs.listStatus(hp).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .flatMap(b => hfs.listStatus(b.getPath).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("metric=")))
        .take(1).toSeq.headOption
      leaf.map(mp => hfs.listStatus(mp.getPath)
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("day=")))
    }
  }

  /** Committed raw frame with a `day` column: the partition directories
    * on v2; null on a legacy v1 tree, whose rows [[rawRangeFrom]] then
    * bounds by `time` alone — correctness identical, directory pruning
    * absent until [[compact]] migrates the layout (upgrading never
    * hides history).
    */
  private def rawAll(spark: SparkSession): Option[DataFrame] =
    rawAllWith(spark, committedKeys(spark))

  private def rawAllWith(spark: SparkSession,
                         keys: Option[Set[String]]): Option[DataFrame] = {
    pendingCompactCheck(spark)
    val (hfs, hp) = fs(spark, rawPath)
    if (!hfs.exists(hp)) None
    else Some(commitFilter(spark,
      spark.read.schema(rawSchema).parquet(rawPath), keys))
  }

  private def rawFrom(spark: SparkSession,
                      all: Option[DataFrame]): DataFrame =
    all.map(_.select("metric", "time", "value")).getOrElse(
      emptyDf(spark, org.apache.spark.sql.types.StructType.fromDDL(
        "metric STRING, time LONG, value DOUBLE")))

  def raw(spark: SparkSession): DataFrame = rawFrom(spark, rawAll(spark))

  /** Time-ranged raw scan. The `day` partition directories are a pure
    * function of `time`, so the equivalent day range is added as a
    * partition filter — directory-level pruning BEFORE the pushed time
    * predicate skips row groups within each surviving file. Times are
    * non-negative ns since epoch (the engine's TimePoint domain), so
    * truncating division here agrees with the writer's `div`. The null
    * arm keeps a legacy v1 tree's rows (no day directories); on v2 every
    * partition has a day, so the arm matches none of them and the day
    * pruning holds.
    */
  def rawRange(spark: SparkSession, startNs: Long, endNs: Long): DataFrame =
    rawRangeFrom(spark, rawAll(spark), startNs, endNs)

  private def rawRangeFrom(spark: SparkSession, all: Option[DataFrame],
                           startNs: Long, endNs: Long): DataFrame =
    rawFrom(spark, all.map(
      _.filter((col("day").between(startNs / DayNs, endNs / DayNs) ||
        col("day").isNull) && col("time").between(startNs, endNs))))

  /** Merge-on-read level-0 view (exact: Agg is a monoid — same merge as
    * the batch hierarchy builder).
    */
  def level0(spark: SparkSession): DataFrame =
    level0With(spark, committedKeys(spark))

  private def level0With(spark: SparkSession,
                         keys: Option[Set[String]]): DataFrame = {
    pendingCompactCheck(spark)
    val (hfs, hp) = fs(spark, partialsPath)
    if (!hfs.exists(hp))
      emptyDf(spark, org.apache.spark.sql.types.StructType.fromDDL(
        "metric STRING, interval_ns LONG, bucket_start LONG, min_v DOUBLE, " +
          "max_v DOUBLE, sum_c LONG, cnt LONG, integral_cus LONG, active_us LONG"))
    else Ingest.mergeToLevel(
      commitFilter(spark,
        spark.read.schema(partialsSchema).parquet(partialsPath), keys)
        .filter(col("interval_ns") === intervalMin)
        .drop("interval_ns", "batch_id"),
      intervalMin)
  }

  /** A snapshot-consistent read view of this store: the commit-marker
    * set is captured ONCE here, so [[Snapshot.raw]],
    * [[Snapshot.rawRange]] and [[Snapshot.level0]] all expose exactly
    * the same committed-batch prefix regardless of how many batches a
    * live ingest query commits while a composed history query is being
    * planned or executed. The per-call [[raw]]/[[level0]] views are
    * each committed-only, but a LEVEL-COMPOSED query (e.g.
    * `HtaService.aggregateRangeFast` reading raw edge buckets + level
    * interior) builds them at different instants — under active ingest
    * its interior could then include a batch its edges don't, yielding
    * an answer that matches no single point in the store's history.
    * The reference serves each request from one consistent directory
    * state (async_hta_service.hpp:346-512); this is that guarantee on
    * the Spark side. Cheap: one `batch_commits/` listing per snapshot.
    *
    * Lifetime: a snapshot pins marker KEYS, not directories. Compact
    * excludes writers but deliberately not readers (merge-on-read), so
    * a [[compact]] completing after capture folds the referenced batch
    * directories away — a stale snapshot would then silently filter the
    * rewritten store down to nothing. Each accessor therefore re-checks
    * that every captured marker still exists (compact's marker GC
    * removes folded keys) and fails loudly instead of returning an
    * empty answer. Snapshots are per-request objects; don't hold one
    * across maintenance.
    */
  def snapshot(spark: SparkSession): Snapshot = {
    pendingCompactCheck(spark)
    new Snapshot(committedKeys(spark))
  }

  final class Snapshot private[HtaStore](keys: Option[Set[String]]) {
    // loud staleness guard — see [[snapshot]] doc. Races narrower than
    // the check (a compact finishing between this probe and the read's
    // file listing) are bounded by compact's swap+GC being adjacent,
    // and a mid-swap read trips pendingCompactCheck instead.
    private def assertValid(spark: SparkSession): Unit = keys.foreach { ks =>
      val gone = ks -- committedKeys(spark).getOrElse(Set.empty)
      if (gone.nonEmpty) throw new IllegalStateException(
        s"snapshot invalidated: ${gone.size} captured batch marker(s) no " +
          s"longer exist (a compact folded them, e.g. '${gone.head}'); " +
          "take a fresh snapshot")
    }
    def raw(spark: SparkSession): DataFrame = {
      assertValid(spark)
      rawFrom(spark, rawAllWith(spark, keys))
    }
    def rawRange(spark: SparkSession, startNs: Long, endNs: Long): DataFrame = {
      assertValid(spark)
      rawRangeFrom(spark, rawAllWith(spark, keys), startNs, endNs)
    }
    def level0(spark: SparkSession): DataFrame = {
      assertValid(spark)
      level0With(spark, keys)
    }
  }

  /** Fold partials AND raw batch directories down physically into a
    * single `batch_id=compacted` directory per side. Without the raw
    * fold, continuous ingest grows one raw directory per micro-batch
    * forever (~1 440/day at a 1-minute trigger) — the small-files
    * growth that degrades every scan and listing at scale; the
    * reference never meets this because HTA appends to one file per
    * metric.
    *
    * OFFLINE maintenance op: must not run concurrently with the
    * streaming query (it lists-then-deletes batch directories; a
    * concurrent append would be destroyed). Crash-safe via recovery on
    * entry: a crash between a side's two renames leaves `*_old`
    * holding the data, restored on the next call; a crash between the
    * two sides leaves one side folded and the other not, which readers
    * never notice (the merged batches' markers are retained until both
    * sides are folded).
    *
    * If the owning streaming query might have crashed mid-batch (any
    * stop that was not a clean `query.stop()` after
    * `processAllAvailable`), pass its checkpoint as `activeCheckpoint`:
    * the trailing batch directory that was written but never committed
    * is then carried through UNMERGED under its original batch key, so
    * the replay's overwrite still converges. Folding it into
    * `compacted` would let the replayed batch re-append its rows and
    * double-count that batch. The parameter has no default on purpose —
    * `None` is only safe after a clean stop, and that must be a
    * conscious claim by the caller.
    *
    * Marker-less (half-written) batch directories are carried through
    * unmerged as well: they are invisible to readers, and a later
    * replay completes them in place.
    */
  def compact(spark: SparkSession, activeCheckpoint: Option[String]): Unit =
    // mutual exclusion with the streaming query: refuse while the
    // lock's token (ingest runId OR another compact) is live, then
    // hold the lock with our OWN token for the WHOLE duration — the
    // [[SinkLock.withCompact]] discipline (entry-only exclusion would
    // let a start() begun mid-compact append batch directories that
    // swapCompact's rename+delete silently destroys)
    sinkLock.withCompact(spark) {
      compactLocked(spark, activeCheckpoint)
    }

  private def compactLocked(spark: SparkSession,
                            activeCheckpoint: Option[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    // (the crash guard, pendingCompactCheck, is unmemoized — the backup
    // dirs this compact transiently creates are re-probed on every
    // store use, so a crash below is caught by the next use anywhere)
    val uncommittedTail: org.apache.spark.sql.Column = activeCheckpoint match {
      case Some(ckpt) =>
        val (tag, committedMax) = StreamingIngest.checkpointIdentity(spark, ckpt)
        // try_cast: see seedState — the ANSI cast would hard-fail on the
        // `compacted` key during partition pruning
        col("batch_id").startsWith(s"${tag}_") &&
          expr("try_cast(substring_index(batch_id, '_', -1) AS LONG)") > committedMax
      case None => lit(false)
    }
    // the committed-key snapshot is taken ONCE, before this compact's
    // own "compacted" marker lands — both sides fold the same set, so
    // a batch can never be folded on one side and trusted-as-pending on
    // the other. Legacy pre-marker store: every batch is trusted (and
    // the compact itself writes the marker directory, migrating the
    // store). Membership is computed as a boolean tag (one broadcast
    // join at >128 keys, a codegen'd isin below), then both consumers
    // split on it — the merge branch and the preserve branch each still
    // scan the parquet once (2 scans total per side; deliberately NOT
    // cached: at scale the tables dwarf executor memory and a
    // pushdown-filtered parquet re-scan is cheaper than a spill)
    val keys = committedKeys(spark)
    def tagged(df: DataFrame) = withCommitFlag(spark, df, keys, "__marked")

    // ---- partials side ----
    val (pfs, pcur) = fs(spark, partialsPath)
    val pbak = new org.apache.hadoop.fs.Path(s"$root/partials_old")
    val ptmp = new org.apache.hadoop.fs.Path(s"$root/partials_compacted")
    HtaStore.recoverCompact(pfs, pcur, pbak, ptmp)
    if (pfs.exists(pcur)) {
      val all = tagged(spark.read.schema(partialsSchema).parquet(partialsPath))
      // preserve = uncommittedTail || !marked
      val committedMerged = Ingest.mergeToLevel(
          all.filter(col("__marked") && !uncommittedTail)
            .filter(col("interval_ns") === intervalMin)
            .drop("interval_ns", "batch_id", "__marked"),
          intervalMin)
        .withColumn("batch_id", lit("compacted"))
      // preserved partials pass through byte-identical under their
      // original batch keys
      val preserved = all
        .filter(!col("__marked") || uncommittedTail).drop("__marked")
      val merged = committedMerged.unionByName(
        preserved.select(committedMerged.columns.map(col): _*))
      storeWriter(merged).partitionBy("batch_id", "interval_ns").parquet(ptmp.toString)
      // marker BEFORE the swap: a marker without a directory is
      // harmless, but a swapped-in compacted directory without a marker
      // would hide all merged history. On a legacy store this also
      // backfills per-batch markers (markerDirInit) so creating the
      // marker dir cannot hide pre-marker history
      markerDirInit(spark)
      markCommitted(spark, "compacted")
      HtaStore.swapCompact(pfs, pcur, pbak, ptmp)
    }

    // ---- raw side ----
    val (rfs, rcur) = fs(spark, rawPath)
    val rbak = new org.apache.hadoop.fs.Path(s"$root/raw_old")
    val rtmp = new org.apache.hadoop.fs.Path(s"$root/raw_compacted")
    HtaStore.recoverCompact(rfs, rcur, rbak, rtmp)
    if (rfs.exists(rcur)) {
      // a legacy v1 tree reads day as null (see rawAllWith): derive it
      // from time here, and the rewrite below emits v2 — compact IS the
      // migration path writeBatch's guard points at
      val all = tagged(spark.read.schema(rawSchema).parquet(rawPath)
        .withColumn("day", coalesce(col("day"), expr(s"time div $DayNs"))))
      val committedFolded = all.filter(col("__marked") && !uncommittedTail)
        .select("metric", "time", "value", "day")
        .withColumn("batch_id", lit("compacted"))
      val preserved = all.filter(!col("__marked") || uncommittedTail)
        .select("metric", "time", "value", "day", "batch_id")
      // range-partition so each task holds a contiguous (batch, metric,
      // time) slice → O(shuffle.partitions) well-sized files; day is
      // monotone in time, so the within-partition sort already
      // satisfies partitionBy's required (batch_id, metric, day)
      // ordering — no second sort is inserted and row groups stay
      // time-ordered for min/max pruning, same as writeBatch
      val merged = committedFolded.unionByName(preserved)
        .repartitionByRange(col("batch_id"), col("metric"), col("time"))
        .sortWithinPartitions("batch_id", "metric", "day", "time")
      storeWriter(merged).partitionBy("batch_id", "metric", "day").parquet(rtmp.toString)
      markerDirInit(spark)
      markCommitted(spark, "compacted")
      HtaStore.swapCompact(rfs, rcur, rbak, rtmp)
    }

    // marker GC: a batch folded into `compacted` on BOTH sides has no
    // directory left for its marker to validate — without this the
    // marker dir itself grows one file per micro-batch forever. A key
    // whose directory survives on either side (uncommitted tail,
    // marker-less replay target) keeps its marker; a crash mid-GC
    // merely leaves extra markers, which are harmless.
    committedKeys(spark).foreach(_.filterNot(_ == "compacted").foreach { k =>
      val rdir = new org.apache.hadoop.fs.Path(rcur, s"batch_id=$k")
      val pdir = new org.apache.hadoop.fs.Path(pcur, s"batch_id=$k")
      if (!rfs.exists(rdir) && !pfs.exists(pdir))
        rfs.delete(new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(commitsPath), k), false)
    })
  }
}
