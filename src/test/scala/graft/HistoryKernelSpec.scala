package graft

import graft.core.{HistoryRequest => R, HistoryResponse => Resp, Intervals}
import graft.operators.{HtaService, QueryDispatcher, QueryStats}
import graft.streaming.{HtaStore, StreamingIngest}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The history request path ([[HtaService.history]]): one single-task
  * kernel job per request, equal row for row to the multi-shuffle
  * DataFrame plans it replaced.
  */
class HistoryKernelSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val T0 = 1704067200000000000L
  private val Finest = 60000000000L // 1 min
  private val levels = Intervals.ladder(Finest) // 1 min … 10 000 min

  /** The retired DataFrame body of `history`, kept as the kernels' oracle. */
  private def oracleHistory(req: graft.core.HistoryRequest, sanitized: DataFrame,
                            levels: Seq[Long]): graft.core.HistoryResponse = {
    import HtaService._
    req match {
      case R.AggregateTimeline(m, s, e, im) =>
        Resp.Aggregates(deltaEncode(
          timeline(sanitized.filter(col("metric") === m), levels, s, e, im),
          "bucket_start"))
      case R.FlexTimeline(m, s, e, im) =>
        val one = sanitized.filter(col("metric") === m)
        if (flexIsRaw(levels, im))
          Resp.Raw(deltaEncode(flexRaw(one, s, e), "time"))
        else
          Resp.Aggregates(deltaEncode(timeline(one, levels, s, e, im), "bucket_start"))
      case R.Aggregate(m, s, e) =>
        val df = aggregateRange(sanitized.filter(col("metric") === m), s, e)
        val rows = df.collect()
        if (rows.isEmpty)
          Resp.Aggregates(Seq((m, s)).toDF("metric", "time_delta")
            .withColumn("min_v", lit(null).cast("double"))
            .withColumn("max_v", lit(null).cast("double"))
            .withColumn("sum_v", lit(0.0))
            .withColumn("cnt", lit(0L))
            .withColumn("integral_vs", lit(0.0))
            .withColumn("active_ns", lit(0L)))
        else Resp.Aggregates(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema))
      case R.LastValue(m) =>
        Resp.Raw(lastValue(sanitized.filter(col("metric") === m))
          .withColumn("time_delta", col("time")))
    }
  }

  /** A response as (variant, column names and types, rows in order),
    * doubles as raw bits: −0.0 differs from 0.0.
    */
  private def cells(r: graft.core.HistoryResponse) = {
    val rows = r.df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other => other
    })
    (r.isInstanceOf[Resp.Raw], r.df.schema.map(f => f.name -> f.dataType), rows)
  }

  /** One series: strictly increasing times whose gaps range from under
    * 1 µs to many buckets of several levels, values 2-decimal, HALF_UP
    * ties on the shortest decimal, arbitrary doubles, and zeros. A
    * series carries zeros of one sign: which of two equal-comparing
    * zeros a min keeps depends on the order the oracle's hash
    * aggregates meet them, which its plan does not fix.
    */
  private val seriesGen: Gen[Seq[(Long, Double)]] = for {
    zero <- Gen.oneOf(0.0, -0.0)
    start <- Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(0L, 3L * Finest))
    n <- Gen.frequency(1 -> Gen.const(1), 6 -> Gen.choose(2, 40))
    gaps <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.choose(1L, Finest),
      1 -> Gen.choose(1L, 999L), // under 1 µs
      1 -> Gen.choose(1L, 40L).map(_ * Finest), // on bucket boundaries
      1 -> Gen.choose(Finest, 40L * Finest), // many finest buckets
      1 -> Gen.choose(1L, 3L).map(_ * 100L * Finest + 7L))) // coarse levels
    values <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.choose(-100000L, 100000L).map(_ / 100.0),
      1 -> Gen.const(zero),
      1 -> Gen.choose(-1000.0, 1000.0),
      1 -> Gen.choose(-1000L, 1000L).map(_ / 100.0 + 0.005)))
  } yield gaps.scanLeft(T0 + start)(_ + _).tail.zip(values)

  /** 14 metrics: `single` with one point, 13 generated; `absent` has no
    * row at all.
    */
  private lazy val data: Map[String, Seq[(Long, Double)]] = {
    val gen = Gen.listOfN(13, seriesGen)
    val series = gen.pureApply(Gen.Parameters.default, Seed(20261019L))
    (series.zipWithIndex.map { case (s, k) => s"m$k" -> s } :+
      ("single" -> Seq((T0 + 5 * Finest + 1000L, 1.5)))).toMap
  }

  /** The points spread over three parquet files, each point in a random
    * one, so no file holds a time-ordered run of a series.
    */
  private lazy val sanitized: DataFrame = {
    val root = Files.createTempDirectory("hist-kernel").toString
    val r = new scala.util.Random(7L)
    val rows = data.toSeq.flatMap { case (m, pts) =>
      pts.map { case (t, v) => (r.nextInt(3), m, t, v) }
    }
    (0 until 3).foreach { f =>
      rows.filter(_._1 == f).map(x => (x._2, x._3, x._4))
        .toDF("metric", "time", "value").coalesce(1)
        .write.parquet(s"$root/f$f")
    }
    spark.read.schema("metric STRING, time LONG, value DOUBLE")
      .parquet((0 until 3).map(f => s"$root/f$f"): _*)
  }

  /** Request bounds: point times, bucket boundaries (mostly of `level`,
    * the one the request selects, else of any level), before the first
    * and after the last point, and anywhere around the series.
    */
  private def edgeGen(pts: Seq[(Long, Double)], level: Long): Gen[Long] = {
    val times = pts.map(_._1)
    val lo = times.headOption.getOrElse(T0)
    val hi = times.lastOption.getOrElse(T0)
    val somePoint = if (times.isEmpty) Gen.const(T0) else Gen.oneOf(times)
    Gen.frequency(
      2 -> somePoint,
      2 -> (for {
        t <- somePoint
        l <- Gen.frequency(2 -> Gen.const(level), 1 -> Gen.oneOf(levels))
        k <- Gen.choose(0L, 1L)
      } yield Intervals.bucketStart(t, l) + k * l),
      1 -> Gen.choose(1L, 3L * Finest).map(lo - _),
      1 -> Gen.choose(1L, 3L * Finest).map(hi + _),
      2 -> Gen.choose(lo - 5L * Finest, hi + 5L * Finest))
  }

  /** `interval_max` below the finest level, on a level, between two
    * levels and above the top.
    */
  private val intervalMaxGen: Gen[Long] = Gen.frequency(
    2 -> Gen.choose(1L, Finest - 1),
    1 -> Gen.oneOf(levels),
    2 -> Gen.oneOf(levels).flatMap(l => Gen.choose(l + 1, 10L * l - 1)),
    1 -> Gen.choose(2L, 100L).map(_ * levels.last))

  private def selected(intervalMax: Long) =
    Intervals.selectLevel(levels, intervalMax).getOrElse(levels.min)

  private val requestsGen: Gen[Seq[graft.core.HistoryRequest]] = for {
    m <- Gen.oneOf(data.keys.toSeq.sorted :+ "absent")
    pts = data.getOrElse(m, Seq.empty)
    im <- intervalMaxGen
    im2 <- intervalMaxGen
    a <- edgeGen(pts, selected(im))
    b <- edgeGen(pts, selected(im))
    c <- edgeGen(pts, selected(im2))
    d <- edgeGen(pts, selected(im2))
  } yield Seq(
    R.AggregateTimeline(m, math.min(a, b), math.max(a, b), im),
    R.FlexTimeline(m, math.min(c, d), math.max(c, d), im2),
    R.Aggregate(m, math.min(a, c), math.max(a, c)),
    R.LastValue(m))

  test("history equals the retired DataFrame plans row for row on every shape") {
    // the coalesced scan really meets a series out of time order
    val scanned = sanitized.filter(col("metric") === "m0").coalesce(1)
      .select("time").as[Long].collect().toSeq
    assert(scanned.size > 2 && scanned != scanned.sorted)
    val prop = Prop.forAllNoShrink(requestsGen) { reqs =>
      Prop.all(reqs.map { req =>
        val got = cells(HtaService.history(req, sanitized, levels))
        val want = cells(oracleHistory(req, sanitized, levels))
        Prop(got == want) :| s"$req\n got $got\n want $want"
      }: _*)
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(20261018L), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("AGGREGATE raises on an integral beyond int64, as the plan does") {
    // value_c 1e11 held for 10 min (6e8 µs): 6e19
    val big = Seq(("m", T0, 1e9), ("m", T0 + 10 * Finest, 1.0))
      .toDF("metric", "time", "value")
    val e = intercept[Exception](HtaService.history(
      R.Aggregate("m", T0, T0 + 10 * Finest), big, levels).df.collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ArithmeticException]), chain.mkString("\n"))
  }

  /** Walk a plan through AQE stages for shuffle exchanges. */
  private def shuffles(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case s: QueryStageExec => shuffles(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
    case other => other.children.map(shuffles).sum
  }

  test("each dispatch runs one job of one task with no shuffle exchange") {
    val store = new HtaStore(Files.createTempDirectory("hist-shape").toString, Finest)
    (0 until 3).foreach { b =>
      store.writeBatch(spark, (for (m <- Seq("a", "b"); k <- 0 until 40) yield
        StreamingIngest.GatedPoint(m, T0 + (b * 40 + k) * 7 * Finest + 1000L,
          (k % 13) * 0.25, anchor = false)).toDF(), s"t_$b")
    }
    val raw = store.snapshot(spark).raw(spark)
    val jobs, tasks = new ConcurrentLinkedQueue[String]()
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        j.stageIds.foreach(stageGroup.put(_, g))
        jobs.add(g)
      }
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        tasks.add(stageGroup.getOrDefault(t.stageId, ""))
    }
    val plans = new ConcurrentLinkedQueue[(String, Int)]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(f -> shuffles(qe.executedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val seen = new AtomicInteger
    // listener events are async — a count is settled once it stops moving
    def settled(): Unit = {
      var prev = -1
      while (seen.get() != prev) {
        prev = seen.get(); Thread.sleep(300)
        seen.set(jobs.size + tasks.size + plans.size)
      }
    }
    val d = new QueryDispatcher(new QueryStats())
    val reqs = Seq(
      "aggregate_timeline" -> R.AggregateTimeline("a", T0, T0 + 800 * Finest, 10 * Finest),
      "flex_timeline" -> R.FlexTimeline("a", T0 + 100 * Finest, T0 + 400 * Finest, Finest / 2),
      "aggregate" -> R.Aggregate("a", T0 + 10 * Finest, T0 + 500 * Finest),
      "last_value" -> R.LastValue("a"))
    assert(new java.io.File(s"${store.root}/raw").list().length == 3)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try reqs.foreach { case (shape, req) =>
      settled()
      jobs.clear(); tasks.clear(); plans.clear()
      spark.sparkContext.setJobGroup(s"shape-$shape", shape)
      val resp = try d.dispatch(req, raw, store.levels)
        finally spark.sparkContext.clearJobGroup()
      assert(resp.isRight, s"$shape: $resp")
      settled()
      val mine = jobs.asScala.count(_ == s"shape-$shape")
      val myTasks = tasks.asScala.count(_ == s"shape-$shape")
      assert(mine == 1 && myTasks == 1,
        s"$shape: $mine jobs and $myTasks tasks in the dispatch")
      assert(plans.asScala.nonEmpty && plans.asScala.forall(_._2 == 0),
        s"$shape: query plans with shuffle exchanges: ${plans.asScala.toSeq}")
      assert(resp.toOption.get.df.collect().nonEmpty, shape)
      d.release(resp.toOption.get)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qel)
    }
  }
}
