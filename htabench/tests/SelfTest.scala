package htabench

import java.nio.file.{Files, Paths}

import graft.core.HistoryRequest
import graft.operators.{QueryDispatcher, QueryStats}
import graft.sources.ChunkDecode
import graft.streaming.{HtaStore, IngestStats, StreamingIngest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The benchmark's own tests: `SelfTest --work <dir>`, exit 0 when all pass.
  *
  *  1. The same seed gives identical chunks and requests; another seed
  *     gives other chunks.
  *  2. On a tiny store written through the real ingest path, the oracle
  *     agrees with `HtaService` on every shape — edge, empty and
  *     between-sample ranges included — and with the gate's counters;
  *     and it rejects a wrong answer.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"  $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.sliding(2, 2).collectFirst { case Array("--work", w) => w }
      .getOrElse(sys.error("missing --work"))).toAbsolutePath
    Files.createDirectories(work)
    determinism()
    val spark = SparkSession.builder().master("local[2]").appName("htabench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try oracleAgrees(spark, work) finally spark.stop()
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private val faults = Faults(nan = 0.05, inf = 0.03, nonmono = 0.05)

  private def determinism(): Unit = {
    def chunks(seed: Long) = {
      val g = new Gen(seed, 3, Gen.SecondNs, faults, 7)
      (0 until 3).flatMap(b => g.batch(b, 50, Oracle.discard))
    }
    val a = chunks(7)
    val b = chunks(7)
    check("same seed, same chunks")(a.size == b.size && a.zip(b).forall(p => p._1.sameAs(p._2)))
    check("other seed, other chunks")(!a.zip(chunks(8)).forall(p => p._1.sameAs(p._2)))
    val metrics = IndexedSeq("m0", "m1", "m2")
    val shapes = Workloads.all("history").shapes.get
    def reqs(seed: Long) = {
      val r = new Requests(seed, metrics, shapes)
      (0L until 40L).map(n => r.make((n % 4).toInt, n, Gen.T0, Gen.T0 + 4 * 86400L * Gen.SecondNs))
    }
    check("same seed, same requests")(reqs(7) == reqs(7))
    check("other seed, other requests")(reqs(7) != reqs(8))
  }

  private def oracleAgrees(spark: SparkSession, work: java.nio.file.Path): Unit = {
    import spark.implicits._
    val s = Gen.SecondNs
    val gen = new Gen(3, 3, s, faults, 7)
    val store = new HtaStore(work.resolve("store").toUri.toString, 40 * s)
    val oracle = new Oracle(gen.metrics, store.levels)
    val stats = new IngestStats
    val ms = MemoryStream[StreamingIngest.Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store,
      work.resolve("checkpoint").toUri.toString, Some(stats))
    (0 until 4).foreach { b =>
      val chunks = gen.batch(b, 150, oracle.sink)
      ms.addData(ChunkDecode.decode(spark.createDataset(chunks).toDF())
        .as[StreamingIngest.Point].collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    org.apache.spark.htabench.Drain(spark.sparkContext)

    val counts = stats.toDF(spark)
      .selectExpr("sum(nIn)", "sum(nKept)", "sum(nNan)", "sum(nInf)", "sum(n_nonmono)")
      .as[(Long, Long, Long, Long, Long)].head()
    check("gate counters equal the injected faults")(
      counts == ((oracle.rowsIn, oracle.kept, oracle.nan, oracle.inf, oracle.nonmono)) &&
        oracle.nan > 0 && oracle.inf > 0 && oracle.nonmono > 0)
    check("store keeps the oracle's raw rows")(store.raw(spark).count() == oracle.kept)

    val dispatcher = new QueryDispatcher(new QueryStats(), Some(gen.metrics.toSet))
    def rows(req: HistoryRequest) = {
      val resp = dispatcher.dispatch(req, store.snapshot(spark).raw(spark), store.levels)
        .fold(e => sys.error(e.message), identity)
      val r = resp.df.collect()
      dispatcher.release(resp)
      r
    }
    val t0 = Gen.T0
    val end = gen.endNs
    val m = gen.metrics.head
    val edge = Seq(
      HistoryRequest.LastValue(m),
      HistoryRequest.AggregateTimeline(m, t0, end, 400 * s),
      HistoryRequest.AggregateTimeline(m, t0 + 17 * s, end - 3 * s, 40 * s),
      HistoryRequest.AggregateTimeline(m, t0, end, 10 * s), // below every level
      HistoryRequest.FlexTimeline(m, t0 + 5 * s, t0 + 95 * s, 10 * s), // raw branch
      HistoryRequest.FlexTimeline(m, t0, end, 400 * s), // timeline branch
      HistoryRequest.Aggregate(m, t0 + 13 * s, t0 + 290 * s),
      HistoryRequest.Aggregate(m, t0 - 100 * s, t0 - 10 * s), // before the data
      HistoryRequest.Aggregate(m, t0 + 10 * s + 1000, t0 + 10 * s + 2000), // inside one segment
      HistoryRequest.Aggregate(m, end - 30 * s, end + 600 * s))
    val random = {
      val r = new Requests(5, gen.metrics, Shapes(300 * s, 400 * s, 60 * s, 10 * s, 120 * s))
      (0L until 24L).map(n => r.make((n % 4).toInt, n, t0, end))
    }
    (edge ++ random).foreach { req =>
      check(s"oracle agrees: $req")(oracle.mismatch(req, rows(req)).isEmpty)
    }
    check("oracle rejects a wrong answer")(
      oracle.mismatch(HistoryRequest.LastValue(gen.metrics(1)), rows(HistoryRequest.LastValue(m))).nonEmpty)
  }
}
