package htabench

import graft.core.{HistoryRequest, Intervals}
import org.apache.spark.sql.Row

/** The expected answer of every request, computed in the exact integer
  * domain straight from the generated points — no Spark involved.
  *
  * The gate is replayed point by point in arrival order (drop NaN, ±Inf
  * and any time at or below the newest kept time), so the oracle also
  * knows the expected raw row count and the gate's drop counts. Answers
  * follow `HtaService.history`: closed ranges for points, zero-order-hold
  * segments clipped to `[start, end)`, whole buckets of the selected
  * level, and the response's delta-encoded `time_delta`.
  *
  * Rows are `Vector`s in the column order of [[Oracle.columns]], with
  * `null` where the program returns SQL NULL.
  */
final class Oracle(metrics: IndexedSeq[String], val levels: Seq[Long]) {
  private val index = metrics.zipWithIndex.toMap
  private val times = Array.fill(metrics.size)(new Array[Long](1024))
  private val valueC = Array.fill(metrics.size)(new Array[Long](1024))
  private val sizes = Array.fill(metrics.size)(0)
  var rowsIn, nan, inf, nonmono = 0L

  /** Feed one arriving point through the gate. */
  val sink: Oracle.Sink = (j, t, v) => {
    rowsIn += 1
    val n = sizes(j)
    if (v.isNaN) nan += 1
    else if (v.isInfinite) inf += 1
    else if (n > 0 && t <= times(j)(n - 1)) nonmono += 1
    else {
      if (n == times(j).length) {
        times(j) = java.util.Arrays.copyOf(times(j), n * 2)
        valueC(j) = java.util.Arrays.copyOf(valueC(j), n * 2)
      }
      times(j)(n) = t
      valueC(j)(n) = math.round(v * 100)
      sizes(j) = n + 1
    }
  }

  def kept: Long = sizes.map(_.toLong).sum
  def kept(metric: String): Int = sizes(index(metric))
  def newest(metric: String): Long = {
    val j = index(metric)
    times(j)(sizes(j) - 1)
  }

  def answer(req: HistoryRequest): Vector[Vector[Any]] = {
    val j = index(req.metric)
    val n = sizes(j)
    val t = times(j)
    val c = valueC(j)
    val m = req.metric
    def raw(s: Long, e: Long): Vector[Vector[Any]] = {
      var prev = 0L
      (lowerBound(t, n, s) until lowerBound(t, n, e + 1)).map { i =>
        val row = Vector[Any](m, t(i), c(i) / 100.0, t(i) - prev)
        prev = t(i)
        row
      }.toVector
    }
    req match {
      case HistoryRequest.LastValue(_) =>
        if (n == 0) Vector.empty
        else Vector(Vector[Any](m, t(n - 1), c(n - 1) / 100.0, t(n - 1)))
      case HistoryRequest.FlexTimeline(_, s, e, im)
          if Intervals.selectLevel(levels, im).isEmpty => raw(s, e)
      case HistoryRequest.FlexTimeline(_, s, e, im) => timeline(j, s, e, im)
      case HistoryRequest.AggregateTimeline(_, s, e, im) => timeline(j, s, e, im)
      case HistoryRequest.Aggregate(_, s, e) =>
        val a = new Oracle.Acc
        var i = lowerBound(t, n, s)
        val hi = lowerBound(t, n, e + 1)
        while (i < hi) { a.point(c(i)); i += 1 }
        // segments [t_i, t_i+1) that overlap [s, e)
        i = math.max(0, lowerBound(t, n, s) - 1)
        while (i + 1 < n && t(i) < e) {
          if (t(i + 1) > s)
            a.segment(c(i), math.min(t(i + 1), e) - math.max(t(i), s))
          i += 1
        }
        Vector(Vector[Any](m, s) ++ a.present)
    }
  }

  private def timeline(j: Int, s: Long, e: Long, im: Long): Vector[Vector[Any]] = {
    val iv = Intervals.selectLevel(levels, im).getOrElse(levels.min)
    val n = sizes(j)
    val t = times(j)
    val c = valueC(j)
    if (n == 0) return Vector.empty
    // buckets overlapping [s, e), clipped to the metric's covered span
    val out = Vector.newBuilder[Vector[Any]]
    var b = math.max(s - s % iv, t(0) - t(0) % iv)
    var prev = 0L
    var i = math.max(0, lowerBound(t, n, b) - 1)
    while (b < e && b <= t(n - 1)) {
      val a = new Oracle.Acc
      var k = lowerBound(t, n, b)
      val hi = lowerBound(t, n, b + iv)
      while (k < hi) { a.point(c(k)); k += 1 }
      while (i + 1 < n && t(i + 1) <= b) i += 1
      k = i
      while (k + 1 < n && t(k) < b + iv) {
        val lo = math.max(t(k), b)
        val up = math.min(t(k + 1), b + iv)
        if (up > lo) a.segment(c(k), up - lo)
        k += 1
      }
      if (a.cnt > 0 || a.active > 0) {
        out += Vector[Any](metrics(j), iv, b) ++ a.present :+ (b - prev)
        prev = b
      }
      b += iv
    }
    out.result()
  }

  /** `None` when `rows` (a collected response) is the oracle's answer to
    * `req`, else what differs. Rows are compared in time order.
    */
  def mismatch(req: HistoryRequest, rows: Array[Row]): Option[String] = {
    val cols = Oracle.columns(req, levels)
    val key = cols.indexOf(Seq("bucket_start", "time", "time_delta").find(cols.contains).get)
    def order(rs: Seq[Vector[Any]]) = rs.sortBy(_(key).asInstanceOf[Long]).toVector
    val got = order(rows.toSeq.map(r => cols.map(c => r.get(r.fieldIndex(c))).toVector))
    val want = order(answer(req))
    if (got == want) None
    else Some(s"${got.size} rows differ from the oracle's ${want.size}" +
      got.zipAll(want, null, null).find(p => p._1 != p._2)
        .map(p => s"; first: got ${p._1} want ${p._2}").getOrElse(""))
  }

  /** First index in `t(0 until n)` whose value is ≥ `x`. */
  private def lowerBound(t: Array[Long], n: Int, x: Long): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (t(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object Oracle {
  type Sink = (Int, Long, Double) => Unit
  val discard: Sink = (_, _, _) => ()

  /** Response columns per shape, in the order [[Oracle.answer]] emits. */
  val timelineColumns: Seq[String] = Seq("metric", "interval_ns", "bucket_start",
    "min_v", "max_v", "sum_v", "cnt", "integral_vs", "active_ns", "time_delta")
  val rawColumns: Seq[String] = Seq("metric", "time", "value", "time_delta")
  val aggregateColumns: Seq[String] = Seq("metric", "time_delta", "min_v", "max_v",
    "sum_v", "cnt", "integral_vs", "active_ns")

  def columns(req: HistoryRequest, levels: Seq[Long]): Seq[String] = req match {
    case _: HistoryRequest.LastValue => rawColumns
    case HistoryRequest.FlexTimeline(_, _, _, im)
        if Intervals.selectLevel(levels, im).isEmpty => rawColumns
    case _: HistoryRequest.Aggregate => aggregateColumns
    case _ => timelineColumns
  }

  /** Exact aggregate accumulator (centivalues, µs). */
  private final class Acc {
    var min, max = Long.MaxValue
    var hasPoint = false
    var sumC, cnt, integral, active = 0L
    def point(v: Long): Unit = {
      if (!hasPoint || v < min) min = v
      if (!hasPoint || v > max) max = v
      hasPoint = true
      sumC += v; cnt += 1
    }
    def segment(v: Long, durNs: Long): Unit = {
      val us = durNs / 1000
      integral += v * us; active += us
    }
    /** `(min_v, max_v, sum_v, cnt, integral_vs, active_ns)` as presented. */
    def present: Vector[Any] = Vector(
      if (hasPoint) min / 100.0 else null, if (hasPoint) max / 100.0 else null,
      sumC.toDouble / 100.0, cnt, integral.toDouble / 1e8, active * 1000L)
  }
}
