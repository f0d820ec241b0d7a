package graft

import graft.core.{Agg, Intervals}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Pure-algebra properties (SURVEY §5.2) — no Spark needed. */
class CoreSpec extends AnyFunSuite {

  private def randAggs(n: Int, seed: Long): Seq[(Agg, Agg, Agg)] = {
    val r = new Random(seed)
    def one(): Agg = {
      val mn = r.between(-1e6, 1e6)
      Agg(mn, mn + r.between(0.0, 1e6), r.between(-1e9, 1e9),
        r.nextLong(1000000L), r.between(-1e15, 1e15),
        r.nextLong(1000000000000L))
    }
    Seq.fill(n)((one(), one(), one()))
  }

  test("Agg merge is commutative") {
    randAggs(200, 1).foreach { case (a, b, _) =>
      assert(Agg.merge(a, b) == Agg.merge(b, a))
    }
  }

  test("Agg merge is associative on exact components") {
    // min/max/count/activeTime are exact; float sums only up to rounding
    randAggs(200, 2).foreach { case (a, b, c) =>
      val l = Agg.merge(Agg.merge(a, b), c)
      val r = Agg.merge(a, Agg.merge(b, c))
      assert(l.minimum == r.minimum && l.maximum == r.maximum)
      assert(l.count == r.count && l.activeTime == r.activeTime)
      assert(math.abs(l.sum - r.sum) <= 1e-6 * math.max(1.0, math.abs(l.sum)))
      assert(math.abs(l.integral - r.integral) <= 1e-6 * math.max(1.0, math.abs(l.integral)))
    }
  }

  test("Agg empty is the merge identity") {
    randAggs(100, 3).foreach { case (a, _, _) =>
      assert(Agg.merge(a, Agg.empty) == a)
    }
  }

  test("Agg of a single point / segment") {
    val p = Agg.ofPoint(5.0)
    assert(p == Agg(5.0, 5.0, 5.0, 1L, 0.0, 0L))
    val s = Agg.ofSegment(2.0, 1000L)
    assert(s.integral == 2000.0 && s.activeTime == 1000L && s.count == 0L)
    val m = Agg.merge(p, s)
    assert(m == Agg(5.0, 5.0, 5.0, 1L, 2000.0, 1000L))
  }

  test("ladder mirrors importer.py:75-81 (1 Hz example)") {
    // interval_min = 40 s for a 1 Hz metric → 40 s … 400 000 s
    val fortySec = 40L * 1000000000L
    assert(Intervals.ladder(fortySec) ==
      List(40L, 400L, 4000L, 40000L, 400000L).map(_ * 1000000000L))
  }

  test("ladder stops when level*factor reaches the 30 d cap") {
    assert(Intervals.ladder(3600000000000L) ==
      List(3600000000000L, 36000000000000L, 360000000000000L))
  }

  test("selectLevel picks coarsest fitting level; None below the finest") {
    val levels = Intervals.ladder(3600000000000L)
    assert(Intervals.selectLevel(levels, 40000000000000L).contains(36000000000000L))
    assert(Intervals.selectLevel(levels, 3600000000000L).contains(3600000000000L))
    assert(Intervals.selectLevel(levels, 1000L).isEmpty)
    assert(Intervals.selectLevel(levels, Long.MaxValue).contains(360000000000000L))
  }

  test("bucketStart is idempotent and epoch-aligned") {
    val r = new Random(4)
    val levels = Intervals.ladder(3600000000000L)
    (1 to 500).foreach { _ =>
      val t = r.nextLong(2000000000000000000L)
      val i = levels(r.nextInt(levels.size))
      val b = Intervals.bucketStart(t, i)
      assert(b % i == 0 && b <= t && t - b < i)
      assert(Intervals.bucketStart(b, i) == b)
    }
  }

  test("SPARK_GRAFT_CPUS: a positive integer, the processor count when unset") {
    assert(GraftSession.parseCpus(Some("8")) == 8)
    assert(GraftSession.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    Seq("abc", "0", "-2", "", "4.5").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
