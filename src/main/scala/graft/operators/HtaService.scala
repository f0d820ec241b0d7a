package graft.operators

import graft.core.{HistoryRequest, HistoryResponse, Intervals}
import graft.core.{HistoryRequest => R, HistoryResponse => Resp}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The history query surface — the reference's 4 `HistoryRequest` variants
  * (`/root/reference/src/async_hta_service.hpp:346-512`) re-expressed as
  * DataFrame queries over the sanitized point set / level tables.
  *
  * Range semantics (F4, ref `:363-368,444-447` + `IntervalScope` use at
  * `:469`): samples with `start ≤ t ≤ end` (closed); zero-order-hold
  * segments contribute their overlap with `[start, end)` pro-rata — the
  * "exact at edges" behavior of `metric.aggregate` (SURVEY §2.3 A4),
  * including the segment entered before `start`.
  */
object HtaService {

  /** A4 AGGREGATE (raw-exact v1): one exact Agg per metric over
    * `[startNs, endNs]` (ref `:442-463`). Response carries
    * `time_delta = start` (ref `:461`).
    */
  def aggregateRange(sanitized: DataFrame, startNs: Long, endNs: Long): DataFrame =
    presentAgg(rawPartial(sanitized, startNs, endNs, includeEnd = true), startNs)

  /** Presentation of an exact partial Agg over a range starting at
    * `startNs` ([[Ingest.presented]]).
    */
  private def presentAgg(agg: DataFrame, startNs: Long): DataFrame =
    agg.select(Seq(col("metric"), lit(startNs).as("time_delta")) ++
      Ingest.presented: _*)

  /** A4 v2 — the 100 TB-scale path: compose the answer from pre-aggregated
    * interior level buckets plus raw-exact edge partials, instead of
    * scanning raw for the whole range (SURVEY §2.3 A4 v2). The reference
    * gets this from HTA's level files; here the interior read touches
    * `(range / interval)` bucket rows instead of every raw point.
    *
    * Decomposition for level interval `I`:
    *   - interior: level buckets in `[ceil(start/I)·I, floor(end/I)·I)` —
    *     these already carry boundary-split integral/active (A2);
    *   - left edge: points in `[start, istart)` + segments clipped to it
    *     (including the segment entered before `start`);
    *   - right edge: points in `[iend, end]` (closed, like v1) + segments
    *     clipped to `[iend, end)`.
    * The three partials are disjoint in both points and covered time, so
    * the Agg monoid merge of them equals the raw-exact v1 answer — the
    * oracle for this query IS the v1 SQL. The interior comes from a
    * materialized level-0 table (ingest maintains the levels, queries
    * only read).
    */
  def aggregateRangeFast(sanitized: DataFrame, level0: DataFrame,
                         levels: Seq[Long], startNs: Long, endNs: Long): DataFrame = {
    // sub-µs bounds: a segment spanning the whole range gets its two
    // cuts truncated TOGETHER by v1 ((end-start)/1000, residues cancel)
    // but SEPARATELY by the edge decomposition — 1 µs of silent skew.
    // The engine's time domain is µs-floored ns, so misaligned bounds
    // are off the fast path's contract: serve them raw-exact instead
    if (startNs % 1000 != 0 || endNs % 1000 != 0)
      return aggregateRange(sanitized, startNs, endNs)
    // coarsest level whose interior is non-empty for this range; a span
    // between L and 2L can straddle fewer than one full L-bucket, in
    // which case a finer level still tiles most of the range (reviewer
    // finding: falling straight back to a raw scan forfeits the fast
    // path exactly where it matters)
    val fitting = levels.filter(_ <= endNs - startNs).sorted(Ordering[Long].reverse)
    val chosen = fitting.iterator.map { i =>
      (i, ((startNs + i - 1) / i) * i, (endNs / i) * i)
    }.find { case (_, is, ie) => is < ie }
    if (chosen.isEmpty) return aggregateRange(sanitized, startNs, endNs)
    val (interval, istart, iend) = chosen.get

    // one groupBy straight from level-0 to the chosen interval: the Agg
    // monoid is associative (property-tested in CoreSpec) and ladder
    // levels divide each other, so this equals a level-by-level fold
    // while shuffling once instead of once per intermediate level (the
    // per-level maintenance shape lives in Ingest.hierarchy)
    val level =
      if (interval == levels.head) level0
      else Ingest.mergeToLevel(level0, interval)
    val interior = level
      .filter(col("bucket_start") >= istart && col("bucket_start") < iend)
      .select(col("metric"), col("min_v"), col("max_v"), col("sum_c"),
        col("cnt"), col("integral_cus"), col("active_us"))
    val left = rawPartial(sanitized, startNs, istart, includeEnd = false)
    val right = rawPartial(sanitized, iend, endNs, includeEnd = true)

    presentAgg(
      interior.unionByName(left).unionByName(right)
        .groupBy("metric").agg(
          min("min_v").as("min_v"),
          max("max_v").as("max_v"),
          sum("sum_c").as("sum_c"),
          sum("cnt").as("cnt"),
          sum("integral_cus").as("integral_cus"),
          sum("active_us").as("active_us"))
        .filter(col("cnt") > 0 || col("active_us") > 0),
      startNs)
  }

  /** Exact partial Agg (integer domain) over an edge window: points in
    * `[start, end)` (or `[start, end]` when `includeEnd`), segments clipped
    * to `[start, end)`.
    */
  private def rawPartial(sanitized: DataFrame, startNs: Long, endNs: Long,
                         includeEnd: Boolean): DataFrame = {
    val pts = Ingest.quantized(sanitized)
    val pointPred =
      if (includeEnd) col("time") >= startNs && col("time") <= endNs
      else col("time") >= startNs && col("time") < endNs
    val pAgg = pts.filter(pointPred).groupBy("metric").agg(
      min("value").as("min_v"),
      max("value").as("max_v"),
      sum("value_c").as("sum_c"),
      count(lit(1)).as("cnt"))
    val w = Window.partitionBy("metric").orderBy("time")
    val sAgg = pts
      .withColumn("t_next", lead(col("time"), 1).over(w))
      .filter(col("t_next").isNotNull &&
        col("time") < endNs && col("t_next") > startNs)
      .withColumn("dur_us",
        ((least(col("t_next"), lit(endNs)) -
          greatest(col("time"), lit(startNs))) / 1000).cast("long"))
      .groupBy("metric").agg(
        sum(col("value_c") * col("dur_us")).as("integral_cus"),
        sum(col("dur_us")).as("active_us"))
    pAgg.join(sAgg, Seq("metric"), "full_outer")
      .select(col("metric"), col("min_v"), col("max_v"),
        coalesce(col("sum_c"), lit(0L)).as("sum_c"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("integral_cus"), lit(0L)).as("integral_cus"),
        coalesce(col("active_us"), lit(0L)).as("active_us"))
  }

  /** A5 AGGREGATE_TIMELINE (ref `:361-391`): pick the coarsest level with
    * `interval ≤ intervalMaxNs` from the ladder, slice buckets overlapping
    * `[start, end)`, in time order. Raw fallback (no level fits) is the
    * caller's concern — see [[flexTimeline]].
    */
  def timeline(sanitized: DataFrame, levels: Seq[Long],
               startNs: Long, endNs: Long, intervalMaxNs: Long): DataFrame =
    timelineFromLevel0(Ingest.rollup(sanitized, levels.head), levels,
      startNs, endNs, intervalMaxNs)

  /** Variant over a materialized level-0 table (the deployed path). */
  def timelineFromLevel0(level0: DataFrame, levels: Seq[Long],
                         startNs: Long, endNs: Long, intervalMaxNs: Long): DataFrame = {
    val interval = Intervals.selectLevel(levels, intervalMaxNs)
      .getOrElse(levels.min) // reference falls back to finest available level
    // build only the needed level, in one groupBy straight from level-0
    // (associative Agg monoid + dividing ladder levels ⇒ identical to a
    // level-by-level fold, with one shuffle instead of one per level)
    val level =
      if (interval == levels.head) level0
      else Ingest.mergeToLevel(level0, interval)
    Ingest.present(level)
      .filter(col("bucket_start") + lit(interval) > startNs &&
        col("bucket_start") < endNs)
      .orderBy("metric", "bucket_start")
  }

  /** A6 FLEX_TIMELINE (ref `:393-440`): raw `TimeValue`s when even the
    * finest level is coarser than `intervalMaxNs`, else the timeline.
    * The two branches have different schemas (reference returns a variant);
    * [[flexRaw]] is the raw branch.
    */
  def flexIsRaw(levels: Seq[Long], intervalMaxNs: Long): Boolean =
    Intervals.selectLevel(levels, intervalMaxNs).isEmpty

  def flexRaw(sanitized: DataFrame, startNs: Long, endNs: Long): DataFrame =
    sanitized
      .filter(col("time") >= startNs && col("time") <= endNs)
      .select("metric", "time", "value")
      .orderBy("metric", "time")

  def flexTimeline(sanitized: DataFrame, levels: Seq[Long],
                   startNs: Long, endNs: Long, intervalMaxNs: Long): DataFrame =
    if (flexIsRaw(levels, intervalMaxNs)) flexRaw(sanitized, startNs, endNs)
    else timeline(sanitized, levels, startNs, endNs, intervalMaxNs)

  /** F4 `IntervalScope::extended` lower bound (ref `:469`): the raw
    * slice of `[startNs, endNs]` *plus* the newest point at-or-before
    * `startNs` per metric — the scope the reference uses for point
    * lookups so a zero-order-hold consumer knows the value entering the
    * range. LAST_VALUE is this with `start = end = ∞` (A7).
    */
  def rangeExtended(sanitized: DataFrame, startNs: Long, endNs: Long): DataFrame = {
    val inRange = sanitized
      .filter(col("time") >= startNs && col("time") <= endNs)
      .select("metric", "time", "value")
    val entering = sanitized
      .filter(col("time") < startNs)
      .groupBy("metric").agg(
        max("time").as("time"),
        max_by(col("value"), col("time")).as("value"))
    entering.unionByName(inRange).orderBy("metric", "time")
  }

  /** A7 LAST_VALUE (ref `:465-487`): newest raw point per metric —
    * `max_by` avoids any sort, aggregating in one shuffle.
    */
  def lastValue(sanitized: DataFrame): DataFrame =
    sanitized.groupBy("metric").agg(
      max("time").as("time"),
      max_by(col("value"), col("time")).as("value"))

  /** S3: the request dispatcher — one `HistoryRequest` in, one encoded
    * response out (the reference's `read_` switch, ref `:346-512`).
    * Single-metric addressing and W4 delta encoding applied, exactly the
    * response shapes of FIXTURES.md §5.
    *
    * Like the reference's one linear pass over the metric on its strand,
    * each request is ONE job of ONE task with no exchange: the metric's
    * raw rows ([[series]]) go through one Scala kernel per shape, whose
    * integer-domain rows [[Ingest.presented]] turns into the response as
    * a narrow projection. Parallelism comes from concurrent requests.
    */
  def history(req: HistoryRequest, sanitized: DataFrame,
              levels: Seq[Long]): HistoryResponse = {
    val spark = sanitized.sparkSession
    import spark.implicits._
    req match {
      case R.AggregateTimeline(m, s, e, im) =>
        Resp.Aggregates(timelineOf(sanitized, m, levels, s, e, im))
      case R.FlexTimeline(m, s, e, im) =>
        if (flexIsRaw(levels, im))
          Resp.Raw(series(sanitized, m, Some((s, e)))
            .mapPartitions(deltaKernel(m)).toDF())
        else Resp.Aggregates(timelineOf(sanitized, m, levels, s, e, im))
      case R.Aggregate(m, s, e) =>
        // the reference unconditionally returns ONE aggregate (count = 0
        // on a silent range — add_aggregate at ref :454-461): the kernel
        // always emits its one row
        Resp.Aggregates(presentAgg(
          series(sanitized, m).mapPartitions(aggregateKernel(m, s, e)).toDF(), s))
      case R.LastValue(m) =>
        Resp.Raw(series(sanitized, m, timeOrdered = false)
          .mapPartitions(lastValueKernel(m)).toDF())
    }
  }

  /** A delta-encoded timeline bucket in the exact integer domain: the
    * columns of [[Ingest.Partial]] plus W4's `time_delta`.
    */
  final case class TimelineRow(metric: String, interval_ns: Long,
                               bucket_start: Long, min_v: Option[Double],
                               max_v: Option[Double], sum_c: Long, cnt: Long,
                               integral_cus: Long, active_us: Long,
                               time_delta: Long)

  /** A raw point of a response, with W4's `time_delta`. */
  final case class RawRow(metric: String, time: Long, value: Double,
                          time_delta: Long)

  /** The one job behind every request: `metric`'s rows (its `metric=`
    * directories on a store read), optionally bounded to the closed
    * `[start, end]`, in ONE task — `coalesce(1)` is narrow — and, when
    * `timeOrdered`, sorted by time inside that task: a local sort, not
    * an exchange, since the files of one metric arrive in no time order.
    */
  private def series(sanitized: DataFrame, metric: String,
                     bound: Option[(Long, Long)] = None,
                     timeOrdered: Boolean = true): Dataset[(Long, Double)] = {
    val spark = sanitized.sparkSession
    import spark.implicits._
    val one = sanitized.filter(col("metric") === metric)
    val rows = bound.fold(one) { case (s, e) =>
      one.filter(col("time") >= s && col("time") <= e)
    }.select("time", "value").coalesce(1)
    (if (timeOrdered) rows.sortWithinPartitions("time") else rows)
      .as[(Long, Double)]
  }

  /** A5 AGGREGATE_TIMELINE, and FLEX_TIMELINE on a level: the coarsest
    * level with `interval ≤ intervalMaxNs` (the finest when none fits,
    * as the reference falls back), its buckets overlapping `[start,
    * end)`, delta-encoded and presented.
    */
  private def timelineOf(sanitized: DataFrame, metric: String,
                         levels: Seq[Long], startNs: Long, endNs: Long,
                         intervalMaxNs: Long): DataFrame = {
    val spark = sanitized.sparkSession
    import spark.implicits._
    val interval = Intervals.selectLevel(levels, intervalMaxNs)
      .getOrElse(levels.min)
    Ingest.present(series(sanitized, metric)
      .mapPartitions(timelineKernel(metric, levels.head, interval, startNs, endNs))
      .toDF(), "time_delta")
  }

  /** A time-ordered series → its level-0 partials ([[Ingest.rollupSeries]],
    * the gate's kernel), merged in order to `interval` with the Agg
    * monoid — [[Ingest.mergeToLevel]]'s arithmetic: min/max in Spark's
    * double order skipping nulls and keeping the first of equals, int64
    * sums raising on overflow as ANSI mode does — then the buckets
    * overlapping `[startNs, endNs)`, delta-encoded.
    */
  private def timelineKernel(metric: String, finest: Long, interval: Long,
                             startNs: Long, endNs: Long)(
      pts: Iterator[(Long, Double)]): Iterator[TimelineRow] = {
    val partials = Ingest.rollupSeries(metric,
      pts.map { case (t, v) => (t, v, false) }, finest).buffered
    // `b` replaces `a` only when strictly lower (sign 1) or higher (−1)
    def pick(a: Option[Double], b: Option[Double], sign: Int) =
      if (a.isEmpty || b.exists(y => sign * Ingest.compareDoubles(y, a.get) < 0)) b
      else a
    val merged = Iterator.continually(partials).takeWhile(_.hasNext).map { it =>
      val p = it.next()
      var acc = p.copy(interval_ns = interval,
        bucket_start = p.bucket_start - p.bucket_start % interval)
      while (it.hasNext && it.head.bucket_start - it.head.bucket_start % interval ==
          acc.bucket_start) {
        val q = it.next()
        acc = acc.copy(min_v = pick(acc.min_v, q.min_v, 1),
          max_v = pick(acc.max_v, q.max_v, -1),
          sum_c = Math.addExact(acc.sum_c, q.sum_c),
          cnt = Math.addExact(acc.cnt, q.cnt),
          integral_cus = Math.addExact(acc.integral_cus, q.integral_cus),
          active_us = Math.addExact(acc.active_us, q.active_us))
      }
      acc
    }
    var prev = 0L
    merged.filter(b => Math.addExact(b.bucket_start, interval) > startNs &&
        b.bucket_start < endNs)
      .map { b =>
        val row = TimelineRow(b.metric, b.interval_ns, b.bucket_start,
          b.min_v, b.max_v, b.sum_c, b.cnt, b.integral_cus, b.active_us,
          Math.subtractExact(b.bucket_start, prev))
        prev = b.bucket_start
        row
      }
  }

  /** A4 AGGREGATE over a time-ordered series in one fold — the
    * arithmetic of [[rawPartial]] with `includeEnd`: points in
    * `[startNs, endNs]` give min/max/`sum_c`/`cnt`, hold segments clipped
    * to `[startNs, endNs)` give `integral_cus`/`active_us`, with
    * `value_c` rounded HALF_UP and int64 overflow raising. Always ONE
    * row, the range's partial (`bucket_start` = start, no level:
    * `interval_ns` 0): a silent range has `cnt = 0` and null min/max.
    */
  private def aggregateKernel(metric: String, startNs: Long, endNs: Long)(
      pts: Iterator[(Long, Double)]): Iterator[Ingest.Partial] = {
    var minV, maxV = 0.0
    var sumC, cnt, integral, active = 0L
    var prevT, prevC = 0L
    var first = true
    pts.foreach { case (t, v) =>
      val c = Ingest.centi(v)
      if (!first && prevT < endNs && t > startNs) {
        val dur = (Math.subtractExact(math.min(t, endNs), math.max(prevT, startNs))
          .toDouble / 1000.0).toLong
        integral = Math.addExact(integral, Math.multiplyExact(prevC, dur))
        active = Math.addExact(active, dur)
      }
      if (t >= startNs && t <= endNs) {
        if (cnt == 0L) { minV = v; maxV = v }
        else {
          if (Ingest.compareDoubles(v, minV) < 0) minV = v
          if (Ingest.compareDoubles(v, maxV) > 0) maxV = v
        }
        sumC = Math.addExact(sumC, c)
        cnt += 1L
      }
      prevT = t; prevC = c; first = false
    }
    Iterator.single(Ingest.Partial(metric, 0L, startNs,
      if (cnt > 0) Some(minV) else None, if (cnt > 0) Some(maxV) else None,
      sumC, cnt, integral, active))
  }

  /** A6 FLEX_TIMELINE's raw branch over a time-ordered, range-bounded
    * series: each point with its W4 delta.
    */
  private def deltaKernel(metric: String)(
      pts: Iterator[(Long, Double)]): Iterator[RawRow] = {
    var prev = 0L
    pts.map { case (t, v) =>
      val row = RawRow(metric, t, v, Math.subtractExact(t, prev))
      prev = t
      row
    }
  }

  /** A7 LAST_VALUE (ref `:465-487`): the newest point, in any row order;
    * none for an empty metric. Its delta is relative to epoch.
    */
  private def lastValueKernel(metric: String)(
      pts: Iterator[(Long, Double)]): Iterator[RawRow] =
    pts.reduceOption((a, b) => if (b._1 > a._1) b else a)
      .iterator.map { case (t, v) => RawRow(metric, t, v, t) }

  /** W4: response delta-encoding — `time_delta[i] = t[i] − t[i−1]`, first
    * delta relative to epoch (ref `:374-380`). Presentation-layer, per
    * metric (single-partition window per metric is safe: responses are
    * per-metric and bounded).
    */
  def deltaEncode(timeline: DataFrame, timeCol: String): DataFrame = {
    val w = Window.partitionBy("metric").orderBy(timeCol)
    timeline.withColumn("time_delta",
      col(timeCol) - lag(col(timeCol), 1, 0L).over(w))
  }
}
