package htabench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.HistoryRequest
import graft.operators.{QueryDispatcher, QueryStats}
import graft.sources.ChunkDecode
import graft.streaming.{HtaStore, IngestStats, StreamingIngest}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Runs one workload against the store path and prints, as its last
  * stdout line, one JSON object: `correct`, `attempted`, `failed` and
  * every metric the run measured, each with its unit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val spec = Workloads.all.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; known: ${Workloads.all.keys.mkString(", ")}"))
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("htabench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try new Run(spark, spec, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", work).run()
      finally spark.stop()
    println(result)
  }
}

/** One run of one workload: set-up, the timed phase, then the checks. */
final class Run(spark: SparkSession, spec: Spec, seed: Long, seconds: Double,
                trace: Boolean, work: Path) {
  import spark.implicits._

  private val tracer = new Tracer(trace)
  private val gen = new Gen(seed, spec.metrics, spec.periodNs, Workloads.faults, Workloads.chunkPoints)
  private val storeRoot = work.resolve("store")
  private val store = new HtaStore(storeRoot.toUri.toString, spec.intervalMinNs)
  private val oracle = new Oracle(gen.metrics, store.levels)
  private lazy val requests = new Requests(seed, gen.metrics, spec.shapes.get)
  private val ingestStats = new IngestStats
  private val queryStats = new QueryStats()
  private val dispatcher = new QueryDispatcher(queryStats, Some(gen.metrics.toSet))
  private val jobs = new JobProbe
  private val writes = new WriteProbe
  private val progress = new ProgressProbe

  /** Samples (ms) by name; `attempted`/`failed` count measured operations. */
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted, failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  /** `timing`: the timed phase. `building`: set-up batches that build a
    * store read only afterwards, which also count as measured writes. */
  private var timing, building = false
  private def measuring = timing || building
  private var batchNo = 0
  private var pointsMeasured = 0L
  /** Batch and request ids measured, whose spans and counts feed the
    * per-layer metrics. */
  private val measured = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val rowsReturned = mutable.Map.empty[String, Long]
  private var decodedRows = 0L
  private var generatedRows = 0L
  private val treeAtRequest = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Timed requests the dispatcher answered with `Left`. */
  private val lefts = new java.util.concurrent.atomic.AtomicLong()

  private def record(name: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  }
  private def problem(msg: String): Unit = synchronized {
    if (problems.size < 20) problems += msg
    if (measuring) failed += 1
  }

  private var ms: MemoryStream[StreamingIngest.Point] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  private def startIngest(): Unit = {
    ms = MemoryStream[StreamingIngest.Point](spark)
    query = StreamingIngest.start(spark, ms.toDS(), store,
      work.resolve("checkpoint").toUri.toString, Some(ingestStats))
  }

  private def stopIngest(): Unit = if (query != null) {
    query.processAllAvailable()
    query.stop()
    query = null
  }

  /** Hand one batch of `n` samples per metric to the ingest query; returns
    * the hand-off time (ns) after the query has committed it.
    */
  private def push(n: Int): Long = {
    val b = batchNo
    batchNo += 1
    val chunks = gen.batch(b, n, oracle.sink)
    val points = chunks.map(_.value.length.toLong).sum
    val owner = s"b$b"
    val t0 = System.nanoTime()
    tracer.span("batch", owner) {
      val pts = tracer.span("ChunkDecode.decode", owner) {
        ChunkDecode.decode(spark.createDataset(chunks).toDF())
          .as[StreamingIngest.Point].collect()
      }
      decodedRows += pts.length
      generatedRows += points
      ms.addData(pts.toSeq)
      tracer.span("StreamingIngest.processAllAvailable", owner)(query.processAllAvailable())
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      attempted += 1
      pointsMeasured += points
      measured.add(owner)
      record("batch", dt)
    }
    t0
  }

  /** One history request, timed from snapshot to collected rows, then
    * checked against the oracle. Returns the response rows.
    */
  private def request(req: HistoryRequest, owner: String): Option[Array[Row]] = {
    val shape = Requests.shapeOf(req)
    val sc = spark.sparkContext
    if (measuring) measured.add(owner)
    if (trace) {
      if (measuring) treeCount().foreach(c => synchronized(treeAtRequest += c))
      sc.setJobGroup(s"req:$shape:$owner", shape)
    }
    val t0 = System.nanoTime()
    val out = tracer.span(s"request.$shape", owner) {
      try {
        val snap = tracer.span("HtaStore.snapshot", owner)(store.snapshot(spark))
        val raw = tracer.span("HtaStore.Snapshot.raw", owner)(snap.raw(spark))
        tracer.span(s"QueryDispatcher.dispatch.$shape", owner)(
          dispatcher.dispatch(req, raw, store.levels)) match {
          case Left(err) =>
            if (timing) lefts.incrementAndGet()
            Left(s"dispatcher Left: ${err.message}")
          case Right(resp) =>
            val rows = tracer.span(s"Response.collect.$shape", owner)(resp.df.collect())
            dispatcher.release(resp)
            Right(rows)
        }
      } catch { case NonFatal(e) => Left(s"exception: $e") }
    }
    val dt = (System.nanoTime() - t0) / 1e6
    if (trace) sc.clearJobGroup()
    synchronized { if (measuring) attempted += 1 }
    out match {
      case Left(msg) => problem(s"$owner $req: $msg"); None
      case Right(rows) =>
        val mismatch = oracle.mismatch(req, rows)
        if (mismatch.nonEmpty) {
          problem(s"$owner $req: ${mismatch.get}")
          None
        } else {
          if (timing) {
            record(shape, dt)
            record("request", dt)
            synchronized(rowsReturned(shape) = rowsReturned.getOrElse(shape, 0L) + rows.length)
          }
          Some(rows)
        }
    }
  }

  /** A batch, then the LAST_VALUE that must return the batch's newest point. */
  private def round(n: Int): Unit = {
    val handoff = push(n)
    val b = batchNo - 1
    val m = gen.metrics(b % gen.metrics.size)
    request(HistoryRequest.LastValue(m), s"f$b").foreach { rows =>
      val fresh = (System.nanoTime() - handoff) / 1e6
      if (rows.length != 1 || rows(0).getAs[Long]("time") != oracle.newest(m))
        problem(s"f$b: LAST_VALUE($m) did not return batch $b's newest point")
      else if (measuring) record("freshness", fresh)
    }
  }

  /** (leaf directories, files) under the store root. */
  private def treeCount(): Option[(Long, Long)] = tracer.span("trace.treeCount", "") {
    var leaves, files = 0L
    val s = Files.walk(storeRoot)
    try s.iterator.asScala.foreach { p =>
      if (Files.isDirectory(p)) {
        val d = Files.list(p)
        try if (!d.iterator.asScala.exists(Files.isDirectory(_))) leaves += 1 finally d.close()
      } else files += 1
    } finally s.close()
    Some((leaves, files))
  }

  private def storeBytes(): Long = {
    val s = Files.walk(storeRoot)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def run(): String = {
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(writes)
      spark.streams.addListener(progress)
    }
    val t0 = System.nanoTime()
    startIngest()
    (0 until spec.warmBatches).foreach(_ => round(spec.warmPoints))
    building = true
    (0 until spec.buildBatches).foreach(_ => round(spec.buildPoints))
    building = false
    var compactMs = 0.0
    if (spec.compact) {
      stopIngest()
      val c0 = System.nanoTime()
      tracer.span("HtaStore.compact", "setup")(store.compact(spark, None))
      compactMs = (System.nanoTime() - c0) / 1e6
    }
    // warm-up requests run on as many threads as the timed phase uses
    (0 until spec.warmRequests).map { k =>
      new Thread(() => request(requests.make(k % 4, -1L - k, Gen.T0, gen.endNs), s"w$k"))
    }.grouped(math.max(1, spec.clients)).foreach { ts =>
      ts.foreach(_.start())
      ts.foreach(_.join())
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    queryStats.collect()
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    org.apache.spark.htabench.Drain(spark.sparkContext)
    val task0 = jobs.taskMs
    timing = true
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    if (spec.clients > 0) {
      val threads = (0 until spec.clients).map { c =>
        new Thread(() => {
          var k = 0L
          while (System.nanoTime() < deadline) {
            request(requests.make(((c + k) % 4).toInt, c * 1000000L + k, Gen.T0, gen.endNs),
              s"c$c.$k")
            k += 1
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    } else while (System.nanoTime() < deadline) round(spec.pointsPerBatch)
    val wallMs = (System.nanoTime() - start) / 1e6
    timing = false
    val gcMs = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakBytes
    val read = queryStats.collect().map(s => s.metric.stripPrefix("graft.db.") -> s.value).toMap
    if (read.getOrElse("read.failed.count", -1.0) != lefts.get.toDouble)
      problem(s"QueryStats read.failed.count ${read.get("read.failed.count")} " +
        s"!= ${lefts.get} dispatcher Lefts")

    stopIngest()
    org.apache.spark.htabench.Drain(spark.sparkContext)
    spark.streams.removeListener(ingestStats)
    val taskMs = jobs.taskMs - task0
    checkStore()

    val e2e = endToEnd(setupS, wallMs)
    val layers = if (trace) perLayer(wallMs, taskMs, gcMs, heapPeak, read, compactMs) else Nil
    if (trace) tracer.write(work.resolve(s"trace-${spec.name}-$seed.jsonl"))
    problems.foreach(p => System.err.println(s"htabench: $p"))
    val metrics = (e2e ++ layers).map { case (k, v, u) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$metrics}}"""
  }

  /** Untimed end-of-run checks: the store holds exactly the points the
    * oracle kept, and the gate's own counters equal the injected faults.
    */
  private def checkStore(): Unit = {
    val rawRows = store.raw(spark).count()
    if (rawRows != oracle.kept) problem(s"store holds $rawRows raw rows, oracle kept ${oracle.kept}")
    if (decodedRows != generatedRows)
      problem(s"decode returned $decodedRows rows for $generatedRows generated points")
    val g = gateCounts
    val want = (oracle.rowsIn, oracle.kept, oracle.nan, oracle.inf, oracle.nonmono)
    if (g != want) problem(s"gate counters (in, kept, nan, inf, nonmono) = $g, injected $want")
  }

  private lazy val gateCounts: (Long, Long, Long, Long, Long) = {
    val r = ingestStats.toDF(spark)
      .selectExpr("sum(nIn)", "sum(nKept)", "sum(nNan)", "sum(nInf)", "sum(n_nonmono)")
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2), l(3), l(4))
  }

  private def p(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  private def p50(name: String): Double = p(samples.getOrElse(name, Nil).toSeq, 0.5)

  private def endToEnd(setupS: Double, wallMs: Double): Seq[(String, Double, String)] = {
    val batches = samples.getOrElse("batch", Nil).toSeq
    val reqMs = samples.getOrElse("request", Nil).toSeq
    Seq(
      ("setup_s", setupS, "s"),
      ("ingest_pts_per_s", pointsMeasured / (batches.sum / 1e3), "points/s"),
      ("ingest_batch_ms_p50", p50("batch"), "ms"),
      ("freshness_ms_p50", p50("freshness"), "ms"),
      ("last_value_ms_p50", p50("last_value"), "ms"),
      ("req_per_s", reqMs.size / (wallMs / 1e3), "req/s"),
      ("store_bytes_per_point", storeBytes().toDouble / oracle.kept, "B/point"))
  }

  private def perLayer(wallMs: Double, taskMs: Long, gcMs: Long, heapPeak: Long,
                       read: Map[String, Double], compactMs: Double)
      : Seq[(String, Double, String)] = {
    // a layer the workload does not exercise reads 0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else p(xs, 0.5)
    def sampled(name: String) = samples.getOrElse(name, Nil).toSeq
    val spans = tracer.all.filter(s => measured.contains(s.owner))
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms)
    val prog = progress.all.filter(b => measured.contains(s"b${b.batchId}"))
    def dur(k: String) = med(prog.map(_.durations.getOrElse(k, 0L).toDouble))
    val (rowsIn, kept, nan, inf, nonmono) = gateCounts
    val ws = writes.all.filter(w => measured.contains("b" + w.batchKey.split('_').last))
    def side(kind: String) = {
      val w = ws.filter(_.kind == kind)
      Seq((s"HtaStore.writeBatch.$kind.ms_p50", med(w.map(_.ms)), "ms"),
        (s"HtaStore.writeBatch.$kind.files", w.map(_.files).sum.toDouble, "count"),
        (s"HtaStore.writeBatch.$kind.bytes", w.map(_.bytes).sum.toDouble, "B"),
        (s"HtaStore.writeBatch.$kind.rows", w.map(_.rows).sum.toDouble, "count"))
    }
    // write time of both halves over the batch's addBatch phase, per batch
    val addBatch = prog.map(b => b.batchId -> b.durations.getOrElse("addBatch", 0L)).toMap
    val overlap = ws.filter(w => w.kind != "other").groupBy(w => w.batchKey.split('_').last.toLong)
      .collect { case (id, w) if addBatch.getOrElse(id, 0L) > 0 => w.map(_.ms).sum / addBatch(id) }
    val shapes = Requests.Names.flatMap { s =>
      val groups = spans.filter(_.name == s"request.$s").map(r => s"req:$s:${r.owner}")
      val w = groups.flatMap(jobs.work)
      val n = math.max(1, groups.size).toDouble
      val returned = rowsReturned.getOrElse(s, 0L)
      Seq((s"QueryDispatcher.dispatch.$s.ms_p50", med(spanMs(s"QueryDispatcher.dispatch.$s")), "ms"),
        (s"Response.collect.$s.ms_p50", med(spanMs(s"Response.collect.$s")), "ms"),
        (s"HtaService.$s.jobs", w.map(_.jobs).sum / n, "count"),
        (s"HtaService.$s.tasks", w.map(_.tasks).sum / n, "count"),
        (s"HtaService.$s.task_ms", w.map(_.taskMs).sum / n, "ms"),
        (s"HtaService.$s.rows_read", w.map(_.rowsRead).sum / n, "count"),
        (s"HtaService.$s.shuffle_bytes", w.map(_.shuffleBytes).sum / n, "B"),
        (s"HtaService.$s.rows_read_per_row_returned",
          if (returned == 0) 0.0 else w.map(_.rowsRead).sum.toDouble / returned, "ratio"))
    }
    val tree = treeAtRequest.toSeq
    Requests.Names.init.map(s => (s"${s}_ms_p50", med(sampled(s)), "ms")) ++ Seq(
      ("request_ms_p95", if (sampled("request").isEmpty) 0.0 else p(sampled("request"), 0.95), "ms"),
      ("failed_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"),
      ("measured_batches", sampled("batch").size.toDouble, "count"),
      ("measured_requests", sampled("request").size.toDouble, "count"),
      ("ChunkDecode.decode.ms_p50", med(spanMs("ChunkDecode.decode")), "ms"),
      ("ChunkDecode.decode.rows", decodedRows.toDouble, "count"),
      ("StreamingIngest.triggerExecution.ms_p50", dur("triggerExecution"), "ms"),
      ("StreamingIngest.addBatch.ms_p50", dur("addBatch"), "ms"),
      ("StreamingIngest.queryPlanning.ms_p50", dur("queryPlanning"), "ms"),
      ("StreamingIngest.walCommit.ms_p50", dur("walCommit"), "ms"),
      ("StreamingIngest.commitOffsets.ms_p50", dur("commitOffsets"), "ms"),
      ("StreamingIngest.gate.stateCommit.ms_p50", med(prog.map(_.stateCommitMs.toDouble)), "ms"),
      ("StreamingIngest.gate.stateRows", prog.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      ("StreamingIngest.gate.stateMemory.bytes", prog.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "B"),
      ("StreamingIngest.gate.rows_in", rowsIn.toDouble, "count"),
      ("StreamingIngest.gate.kept", kept.toDouble, "count"),
      ("StreamingIngest.gate.nan", nan.toDouble, "count"),
      ("StreamingIngest.gate.inf", inf.toDouble, "count"),
      ("StreamingIngest.gate.nonmono", nonmono.toDouble, "count"),
      ("StreamingIngest.gate.keep_ratio", if (rowsIn == 0) 0.0 else kept.toDouble / rowsIn, "ratio"),
    ) ++ side("raw") ++ side("partials") ++ Seq(
      ("HtaStore.writeBatch.overlap_ratio", med(overlap.toSeq), "ratio"),
      ("Ingest.rollup.rows_per_point",
        ws.filter(_.kind == "partials").map(_.rows).sum.toDouble /
          math.max(1L, ws.filter(_.kind == "raw").map(_.rows).sum), "ratio"),
      ("HtaStore.snapshot.ms_p50", med(spanMs("HtaStore.snapshot")), "ms"),
      ("HtaStore.Snapshot.raw.ms_p50", med(spanMs("HtaStore.Snapshot.raw")), "ms"),
      ("HtaStore.leaf_dirs", med(tree.map(_._1.toDouble)), "count"),
      ("HtaStore.files", med(tree.map(_._2.toDouble)), "count"),
      ("HtaStore.compact.ms", compactMs, "ms"),
    ) ++ shapes ++ Seq(
      ("QueryStats.read.utilization", read.getOrElse("read.utilization", 0.0), "ratio"),
      ("QueryStats.read.pending.time", read.getOrElse("read.pending.time", 0.0), "s"),
      ("QueryStats.read.failed.count", read.getOrElse("read.failed.count", 0.0), "count"),
      ("Spark.task_ms_per_wall_ms", taskMs / wallMs, "ratio"),
      ("JVM.gc.ms", gcMs.toDouble, "ms"),
      ("JVM.heap_peak.bytes", heapPeak.toDouble, "B"),
      ("trace.spans", tracer.all.size.toDouble, "count"),
      ("trace.tree_count.ms", tracer.ms("trace.treeCount").sum, "ms"))
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
