package graft

import graft.operators.Ingest
import graft.streaming.{HtaStore, StreamingIngest}
import graft.streaming.StreamingIngest.Point
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The level-0 rollup kernel the ingest gate runs per metric
  * ([[Ingest.rollupSeries]]): equal to the DataFrame anchored rollup it
  * replaced, failing on int64 overflow as ANSI mode does, and writing
  * through the store without a shuffle of its own.
  */
class RollupKernelSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600000000000L
  private val T0 = 1704067200000000000L

  private def mkTmp(pfx: String) = Files.createTempDirectory(pfx).toString

  /** The retired DataFrame plan of a micro-batch's partials, kept as the
    * kernel's oracle: `anchor` rows seed hold segments and are not
    * counted as points.
    */
  private def anchoredRollup(batch: DataFrame, intervalNs: Long): DataFrame = {
    val i = lit(intervalNs)
    val pts = Ingest.quantized(batch)
    val pointAgg = pts.filter(!col("anchor"))
      .groupBy(col("metric"), (col("time") - col("time") % i).as("bucket_start"))
      .agg(min("value").as("min_v"), max("value").as("max_v"),
        sum("value_c").as("sum_c"), count(lit(1)).as("cnt"))
    val segAgg = pts
      .withColumn("t_next", lead(col("time"), 1).over(
        Window.partitionBy("metric").orderBy("time")))
      .filter(col("t_next").isNotNull)
      .select(col("metric"), col("time"), col("t_next"), col("value_c"),
        explode(sequence(
          col("time") - col("time") % i,
          (col("t_next") - 1) - (col("t_next") - 1) % i,
          i)).as("bucket_start"))
      .withColumn("seg_start", greatest(col("time"), col("bucket_start")))
      .withColumn("seg_end", least(col("t_next"), col("bucket_start") + i))
      .withColumn("dur_us",
        ((col("seg_end") - col("seg_start")) / 1000).cast("long"))
      .groupBy("metric", "bucket_start").agg(
        sum(col("value_c") * col("dur_us")).as("integral_cus"),
        sum(col("dur_us")).as("active_us"))
    pointAgg.join(segAgg, Seq("metric", "bucket_start"), "full_outer")
      .select(col("metric"), lit(intervalNs).as("interval_ns"),
        col("bucket_start"), col("min_v"), col("max_v"),
        coalesce(col("sum_c"), lit(0L)).as("sum_c"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("integral_cus"), lit(0L)).as("integral_cus"),
        coalesce(col("active_us"), lit(0L)).as("active_us"))
  }

  /** One metric of a batch: an optional leading anchor (the previous
    * batch's last point) and strictly increasing points. Gaps range
    * from under 1 µs to many buckets; values are 2-decimal, ±0.0, or
    * arbitrary doubles that exercise HALF_UP on their shortest decimal.
    */
  private def seriesGen(metric: String, intervalNs: Long)
      : Gen[Seq[StreamingIngest.GatedPoint]] = {
    val value = Gen.frequency(
      4 -> Gen.choose(-100000L, 100000L).map(_ / 100.0),
      1 -> Gen.oneOf(0.0, -0.0),
      1 -> Gen.choose(-1000.0, 1000.0),
      1 -> Gen.choose(-1000L, 1000L).map(_ / 100.0 + 0.005))
    val gap = Gen.frequency(
      3 -> Gen.choose(1L, intervalNs),
      1 -> Gen.choose(1L, 999L), // under 1 µs
      1 -> Gen.choose(1L, 40L).map(_ * intervalNs), // aligned spans
      1 -> Gen.choose(intervalNs, 40L * intervalNs)) // many buckets
    for {
      start <- Gen.choose(0L, 3L * intervalNs)
      anchored <- Gen.oneOf(true, false)
      n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 5 -> Gen.choose(2, 25))
      gaps <- Gen.listOfN(n + 1, gap)
      values <- Gen.listOfN(n + 1, value)
    } yield {
      val times = gaps.scanLeft(T0 + start)(_ + _).tail
      val pts = times.zip(values).map { case (t, v) =>
        StreamingIngest.GatedPoint(metric, t, v, anchor = false)
      }
      // a batch's anchor precedes its points; `n = 0` with an anchor is
      // an anchor-only metric, without one an empty series (dropped)
      if (anchored) pts.head.copy(anchor = true) +: pts.tail
      else pts.tail
    }
  }

  private def batchGen(intervalNs: Long): Gen[Seq[StreamingIngest.GatedPoint]] =
    Gen.choose(1, 6).flatMap(k =>
      (0 until k).foldLeft(Gen.const(Seq.empty[StreamingIngest.GatedPoint])) {
        (acc, m) => for (a <- acc; s <- seriesGen(s"m$m", intervalNs)) yield a ++ s
      })

  /** A partial row with doubles as raw bits: −0.0 differs from 0.0. */
  private def bits(p: Ingest.Partial) =
    (p.metric, p.interval_ns, p.bucket_start,
      p.min_v.map(java.lang.Double.doubleToRawLongBits),
      p.max_v.map(java.lang.Double.doubleToRawLongBits),
      p.sum_c, p.cnt, p.integral_cus, p.active_us)

  test("rollupSeries equals the anchored DataFrame rollup on every partial column") {
    val intervals = Seq(1000L, 60000000000L, H) // 1 µs, 1 min, 1 h
    val prop = Prop.forAllNoShrink(Gen.oneOf(intervals).flatMap(i => batchGen(i).map(i -> _))) {
      case (i, batch) =>
        // one metric per partition, in time order: the oracle's
        // first-of-equals min/max then sees rows in time order too
        val expect = anchoredRollup(batch.toDF().repartition(col("metric"))
            .sortWithinPartitions("time"), i)
          .as[Ingest.Partial].collect().map(bits).toSet
        val got = batch.groupBy(_.metric).flatMap { case (m, ps) =>
          Ingest.rollupSeries(m,
            ps.sortBy(_.time).iterator.map(p => (p.time, p.value, p.anchor)), i)
        }.map(bits).toSet
        Prop(got == expect) :| s"interval $i, batch $batch\n got $got\n expect $expect"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(20261018L), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  /** Run one micro-batch through the streaming store and return the
    * failure's cause chain and the batch keys committed afterwards.
    */
  private def failingBatch(label: String, pts: Seq[Point]): (Seq[Throwable], Seq[String]) = {
    val root = mkTmp(s"hta-$label")
    val store = new HtaStore(root, H)
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp(s"ck-$label"))
    try {
      ms.addData(pts)
      val e = intercept[Exception](q.processAllAvailable())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      val commits = Paths.get(root, "batch_commits")
      val marked =
        if (!Files.exists(commits)) Seq.empty
        else Files.list(commits).iterator().asScala.map(_.getFileName.toString)
          .filterNot(_.startsWith(".")).toSeq
      (chain, marked)
    } finally q.stop()
  }

  test("a value*100 beyond int64 fails the micro-batch and commits nothing") {
    val (chain, marked) = failingBatch("ovf-value", Seq(
      Point("m1", T0, 1.0, 1), Point("m1", T0 + 60000000000L, 1e17, 2)))
    assert(chain.exists(_.isInstanceOf[ArithmeticException]), chain.mkString("\n"))
    assert(marked.isEmpty, s"commit markers after a failed batch: $marked")
  }

  test("an integral_cus beyond int64 fails the micro-batch and commits nothing") {
    // value_c 1e11 held for 10 min (6e8 µs) inside one bucket: 6e19
    val (chain, marked) = failingBatch("ovf-integral", Seq(
      Point("m1", T0, 1e9, 1), Point("m1", T0 + 600000000000L, 1.0, 2)))
    assert(chain.exists(_.isInstanceOf[ArithmeticException]), chain.mkString("\n"))
    assert(marked.isEmpty, s"commit markers after a failed batch: $marked")
  }

  test("store writes shuffle only in the gate and write one partials file per batch") {
    val root = mkTmp("hta-planshape")
    val store = new HtaStore(root, H)
    // each store write's plan, seen through AQE stages and the cached
    // batch: (output path, shuffles, whether the walk reached the batch).
    // foreachBatch hands the batch over as a scan of the executed
    // incremental plan's RDD, so the gate's own exchange sits behind
    // that scan and every shuffle found here is the write's own
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Boolean)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan.collectFirst {
          case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] => w
        }.foreach { w =>
          val out = w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString
          if (out.contains(root)) {
            var batch = false
            def walk(p: SparkPlan): Seq[SparkPlan] = p match {
              case _: RDDScanExec => batch = true; Nil
              case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
              case s: QueryStageExec => walk(s.plan)
              case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
              case other => other +: other.children.flatMap(walk)
            }
            val shuffles = walk(w).count(_.isInstanceOf[ShuffleExchangeLike])
            writes.add((out, shuffles, batch))
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ms = MemoryStream[Point](spark)
    val q = StreamingIngest.start(spark, ms.toDS(), store, mkTmp("ck-planshape"))
    try {
      var seq = 0L
      (0 until 2).foreach { b =>
        ms.addData(for (m <- 1 to 3; k <- 0 until 50) yield {
          seq += 1
          Point(s"m$m", T0 + (b * 50 + k) * 7 * 60000000000L, (m * k % 17) * 0.25, seq)
        })
        q.processAllAvailable()
      }
    } finally q.stop()
    val deadline = System.currentTimeMillis() + 20000
    while (writes.size < 4 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    spark.listenerManager.unregister(listener)
    val seen = writes.asScala.toSeq
    assert(seen.count(_._1.contains("/raw/")) == 2 &&
      seen.count(_._1.contains("/partials/")) == 2, seen.mkString("\n"))
    assert(seen.forall(_._3), s"a write plan did not reach the batch scan: $seen")
    assert(seen.forall(_._2 == 0), s"store writes with their own shuffle: $seen")
    def files(dir: Path, suffix: String) = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq
      finally s.close()
    }
    val batches = Files.list(Paths.get(root, "partials")).iterator().asScala.toSeq
    assert(batches.size == 2)
    batches.foreach(b => assert(files(b, ".parquet").size == 1, s"$b"))
    assert(files(Paths.get(root), "_SUCCESS").isEmpty)
  }
}
