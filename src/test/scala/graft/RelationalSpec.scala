package graft

import graft.operators.{AsOfJoin, HtaService, Ingest}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class RelationalSpec extends AnyFunSuite {
  import SparkTestBase.{sf, spark}

  private lazy val sanitized = Ingest.sanitize(Tables.htaPoints(spark, sf)).cache()
  private val ladder = SparkEntry.Q.Ladder

  test("aggregateRangeFast == aggregateRange on random non-aligned ranges") {
    import spark.implicits._
    val r = new Random(7)
    val lo = 1704067200000000000L // 2024-01-01
    val hi = 1706659200000000000L // 2024-01-31
    (1 to 5).foreach { _ =>
      val a = lo + math.abs(r.nextLong()) % (hi - lo)
      val b = a + 1 + math.abs(r.nextLong()) % (hi - a)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Option[Double], Option[Double], Double, Long, Double, Long)]
          .collect().sortBy(_._1).toSeq
      val v1 = rows(HtaService.aggregateRange(sanitized, a, b))
      val v2 = rows(HtaService.aggregateRangeFast(sanitized,
        Ingest.rollup(sanitized, ladder.head), ladder, a, b))
      assert(v1 == v2, s"range [$a, $b]")
    }
  }

  test("asOf matches brute-force point-in-time lookup") {
    import spark.implicits._
    val ns = col("ts").cast("long")
    val base = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      (ns - ns % 1000L).as("time"))
    def stream(t: String) = base.filter(col("event_type") === t)
      .groupBy("user_id", "time")
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val got = AsOfJoin.asOf(stream("purchase"), stream("click"), "user_id",
      "time", "time", "value", "last_click_value")
      .select("user_id", "time", "value", "last_click_value")
      .as[(Long, Long, Double, Option[Double])].collect().sortBy(r => (r._1, r._2))
    val clicks = stream("click").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val expect = stream("purchase").as[(Long, Long, Double)].collect()
      .map { case (u, t, v) =>
        val lc = clicks.getOrElse(u, Array.empty[(Long, Long, Double)])
          .filter(_._2 <= t).lastOption.map(_._3)
        (u, t, v, lc)
      }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == expect.toSeq)
    assert(got.exists(_._4.isEmpty) || clicks.nonEmpty) // sanity
  }
}
