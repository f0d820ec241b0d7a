package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch ingest pipeline: sanitize filters (F1–F3) and the HTA rollup
  * (A1 tumbling aggregate + A2 boundary-split integral + A3 hierarchical
  * merge), re-expressed as declarative DataFrame transforms so Catalyst
  * plans them (partial aggregation, pushdown, whole-stage codegen).
  *
  * ## Exact integer domain
  *
  * Oracle-grade bitwise reproducibility across engines requires avoiding
  * order-dependent floating-point summation. The test data has 2-decimal
  * values and µs-aligned ns timestamps, so the rollup carries sums in an
  * exact integer domain:
  *   - `value_c  = round(value*100)`      — centivalue, exact int64
  *   - `dur_us   = (t1 - t0) / 1000`      — µs duration, exact int64
  *   - `integral_cus = Σ value_c·dur_us`  — exact int64 (≤ ~5e16 for a
  *     month of value ≤ 200 data; far below 2^63)
  * Presentation projections divide back to doubles (one correctly-rounded
  * IEEE op each — deterministic in any engine). A production deployment
  * with non-decimal values would run the same plan on double columns,
  * accepting last-ulp nondeterminism that the reference (plain C++ doubles,
  * `/root/reference/src/async_hta_service.hpp:381-388`) also has.
  */
object Ingest {

  /** F1 (NaN), F2 (±Inf), F3 (monotonic-time gate) —
    * ref `/root/reference/src/async_hta_service.hpp:259-306`.
    *
    * The gate drops any sample whose time is ≤ the max time of any
    * *earlier-arriving* kept sample of the same metric; arrival order is
    * the `seq` column. Expressed as a running-max window (SURVEY §2.4 W1):
    * because a dropped row's time is by definition ≤ the running max of
    * all previous rows, `max over arrived-before` equals `max over kept
    * arrived-before`, so one analytic pass suffices.
    */
  def sanitize(points: DataFrame): DataFrame = {
    val w = Window.partitionBy("metric").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, -1)
    points
      .filter(!isnan(col("value")))
      .filter(abs(col("value")) =!= lit(Double.PositiveInfinity))
      .withColumn("max_prev", max(col("time")).over(w))
      .filter(col("max_prev").isNull || col("time") > col("max_prev"))
      .drop("max_prev")
  }

  /** Counts of dropped samples per metric (A8 skip counters,
    * ref `:260-306`): non-monotonic / NaN / Inf.
    */
  def skipCounters(points: DataFrame): DataFrame = {
    val w = Window.partitionBy("metric").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, -1)
    val isNan = isnan(col("value"))
    val isInf = !isNan && abs(col("value")) === lit(Double.PositiveInfinity)
    // ref check order (:263-279): non-monotonic FIRST (even for NaN/Inf
    // samples), then NaN, then Inf. The running max only advances on
    // *inserted* samples, which equals the max over earlier non-NaN/Inf
    // arrivals (dropped values never raise the max).
    val flagged = points
      .withColumn("max_prev",
        max(when(!isNan && !isInf, col("time"))).over(w))
      .withColumn("nonmono",
        col("max_prev").isNotNull && col("time") <= col("max_prev"))
      .withColumn("nan", !col("nonmono") && isNan)
      .withColumn("inf", !col("nonmono") && isInf)
    flagged.groupBy("metric").agg(
      sum(when(col("nan"), 1L).otherwise(0L)).as("skip_nan"),
      sum(when(col("inf"), 1L).otherwise(0L)).as("skip_inf"),
      sum(when(col("nonmono"), 1L).otherwise(0L)).as("skip_nonmono"),
      count(lit(1)).as("n_total"))
  }

  /** Mode enforcement for batch writes (S5): drop rows addressed to a
    * read-only metric before ingest — the reference hands `mode` to
    * HTA's open, and an RO metric cannot accept a data chunk. The RO
    * set is config-sized, so an isin hash probe beats a join.
    */
  def enforceWritable(points: DataFrame, readOnly: Set[String]): DataFrame =
    if (readOnly.isEmpty) points
    else points.filter(!col("metric").isin(readOnly.toSeq: _*))

  /** Quantize to the exact integer domain (see class doc). */
  def quantized(sanitized: DataFrame): DataFrame =
    sanitized.withColumn("value_c", round(col("value") * 100).cast("long"))

  /** A1 + A2: level-0 rollup of sanitized points into epoch-aligned
    * tumbling buckets of `intervalNs`.
    *
    * Two passes, both fully parallel after one shuffle on `metric`:
    *  1. point aggregates — `groupBy(metric, bucket)` over samples;
    *  2. segment aggregates — `lead(time)` pairs each sample with its
    *     successor into a zero-order-hold segment `[t, t_next)`, which is
    *     exploded pro-rata across every bucket it overlaps (A2, the
    *     aggregate-timelines-tile-time-exactly semantic; SURVEY §2.3).
    *
    * Output (internal exact schema): `(metric, interval_ns, bucket_start,
    * min_v, max_v, sum_c, cnt, integral_cus, active_us)`; buckets covered
    * only by a hold segment have `cnt = 0` and NULL min/max.
    *
    * Integer bucket math uses `time - time % I` — never `floor(time/I)`,
    * whose double intermediate loses precision above 2^53 ns.
    */
  def rollup(sanitized: DataFrame, intervalNs: Long): DataFrame = {
    val i = lit(intervalNs)
    val pts = quantized(sanitized)
    val bucket = (col("time") - col("time") % i).as("bucket_start")

    val pointAgg = pts.groupBy(col("metric"), bucket).agg(
      min("value").as("min_v"),
      max("value").as("max_v"),
      sum("value_c").as("sum_c"),
      count(lit(1)).as("cnt"))

    val w = Window.partitionBy("metric").orderBy("time")
    val segAgg = pts
      .withColumn("t_next", lead(col("time"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .select(col("metric"), col("time"), col("t_next"), col("value_c"),
        explode(sequence(
          col("time") - col("time") % i,
          (col("t_next") - 1) - (col("t_next") - 1) % i,
          i)).as("bucket_start"))
      .withColumn("seg_start", greatest(col("time"), col("bucket_start")))
      .withColumn("seg_end", least(col("t_next"), col("bucket_start") + i))
      // ns diff ≤ 30 d < 2^53 is double-exact and the quotient is an
      // integer (µs-aligned data), so divide-then-cast is exact
      .withColumn("dur_us",
        ((col("seg_end") - col("seg_start")) / 1000).cast("long"))
      .groupBy("metric", "bucket_start").agg(
        sum(col("value_c") * col("dur_us")).as("integral_cus"),
        sum(col("dur_us")).as("active_us"))

    pointAgg.join(segAgg, Seq("metric", "bucket_start"), "full_outer")
      .select(
        col("metric"),
        lit(intervalNs).as("interval_ns"),
        col("bucket_start"),
        col("min_v"), col("max_v"),
        coalesce(col("sum_c"), lit(0L)).as("sum_c"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("integral_cus"), lit(0L)).as("integral_cus"),
        coalesce(col("active_us"), lit(0L)).as("active_us"))
  }

  /** One level-0 partial bucket: a row of [[rollup]]'s output schema. */
  case class Partial(metric: String, interval_ns: Long, bucket_start: Long,
                     min_v: Option[Double], max_v: Option[Double],
                     sum_c: Long, cnt: Long, integral_cus: Long,
                     active_us: Long)

  /** A1 + A2 for ONE series in one linear pass — the reference's
    * per-insert level maintenance (`metric.insert(tv)`,
    * async_hta_service.hpp:283) applied to a micro-batch. `rows` are
    * `(time, value, anchor)` sorted by time; an anchor (the carried
    * previous point of an earlier batch) seeds the hold segment to its
    * successor and is never counted as a point. The result equals
    * [[rollup]]'s rows for the series, column for column, with the
    * engine's own arithmetic:
    *  - `value_c` rounds `value*100` HALF_UP on the double's shortest
    *    decimal (Spark's `round`), then casts with an overflow check;
    *  - sums and products raise on int64 overflow, as ANSI mode does;
    *  - min/max order doubles as Spark does (NaN greatest, −0.0 equal
    *    to 0.0, the first of equals kept).
    * Point buckets and hold segments arrive in bucket order, so one
    * open bucket accumulates at a time.
    */
  def rollupSeries(metric: String, rows: Iterator[(Long, Double, Boolean)],
                   intervalNs: Long): Iterator[Partial] = {
    val i = intervalNs
    val out = scala.collection.mutable.ArrayBuffer.empty[Partial]
    var open = false
    var b, sumC, cnt, integral, active = 0L
    var minV, maxV = 0.0
    def flush(): Unit = if (open) out += Partial(metric, i, b,
      if (cnt > 0) Some(minV) else None, if (cnt > 0) Some(maxV) else None,
      sumC, cnt, integral, active)
    def at(bucket: Long): Unit =
      if (!open || bucket != b) {
        flush()
        open = true
        b = bucket; sumC = 0L; cnt = 0L; integral = 0L; active = 0L
      }
    var prevT, prevC = 0L
    var first = true
    rows.foreach { case (t, v, anchor) =>
      val c = centi(v)
      if (!first) { // hold segment [prevT, t) at prevC, split per bucket
        val last = Math.subtractExact(t, 1L)
        val stop = last - last % i
        var bs = prevT - prevT % i
        while (bs <= stop) {
          val end = Math.addExact(bs, i)
          val dur = (Math.subtractExact(math.min(t, end), math.max(prevT, bs))
            .toDouble / 1000.0).toLong
          at(bs)
          integral = Math.addExact(integral, Math.multiplyExact(prevC, dur))
          active = Math.addExact(active, dur)
          bs = end
        }
      }
      if (!anchor) {
        at(t - t % i)
        if (cnt == 0L) { minV = v; maxV = v }
        else {
          if (compareDoubles(v, minV) < 0) minV = v
          if (compareDoubles(v, maxV) > 0) maxV = v
        }
        sumC = Math.addExact(sumC, c)
        cnt += 1L
      }
      prevT = t; prevC = c; first = false
    }
    flush()
    out.iterator
  }

  /** Spark's double order: NaN above everything, −0.0 equal to 0.0. */
  private[operators] def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** `round(value*100)` cast to int64 exactly as Spark evaluates it. */
  private[operators] def centi(v: Double): Long = {
    val x = v * 100.0
    val r =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    if (Math.floor(r) <= Long.MaxValue.toDouble &&
        Math.ceil(r) >= Long.MinValue.toDouble) r.toLong
    else throw new ArithmeticException(
      s"value*100 = $r overflows int64 (value $v)")
  }

  /** A3: merge a level into its parent (coarser) level — the Agg monoid.
    * Exact at every level because sums stay in the integer domain.
    * Identical plan shape to Spark's own partial→final aggregation.
    */
  def mergeToLevel(level: DataFrame, parentIntervalNs: Long): DataFrame = {
    val i = lit(parentIntervalNs)
    level.groupBy(
      col("metric"),
      (col("bucket_start") - col("bucket_start") % i).as("bucket_start"))
      .agg(
        min("min_v").as("min_v"),
        max("max_v").as("max_v"),
        sum("sum_c").as("sum_c"),
        sum("cnt").as("cnt"),
        sum("integral_cus").as("integral_cus"),
        sum("active_us").as("active_us"))
      .select(col("metric"), lit(parentIntervalNs).as("interval_ns"),
        col("bucket_start"), col("min_v"), col("max_v"), col("sum_c"),
        col("cnt"), col("integral_cus"), col("active_us"))
  }

  /** Build the whole hierarchy: level-0 from raw, each parent from its
    * child (one groupBy per level — exactly the reference's maintenance
    * cost shape, SURVEY §2.3 A3). Returns union of all levels.
    */
  def hierarchy(sanitized: DataFrame, levels: Seq[Long]): DataFrame = {
    require(levels.nonEmpty)
    val l0 = rollup(sanitized, levels.head)
    val all = levels.tail.scanLeft(l0)((child, i) => mergeToLevel(child, i))
    all.reduce(_ unionByName _)
  }

  /** The aggregate columns of every response, from the exact integer
    * domain: user-facing doubles (`sum_v`, `integral_vs` value·seconds)
    * and ns `active_ns`. The ONE copy of the formula — a scale change
    * edited in only one response shape would silently desynchronize
    * them. Each division is a single correctly-rounded IEEE op —
    * deterministic.
    */
  def presented: Seq[Column] = Seq(
    col("min_v"), col("max_v"),
    (col("sum_c").cast("double") / 100.0).as("sum_v"),
    col("cnt"),
    (col("integral_cus").cast("double") / 1e8).as("integral_vs"),
    (col("active_us") * 1000L).as("active_ns"))

  /** Presentation projection of a level: its keys, [[presented]], then
    * the `trailing` columns as they are.
    */
  def present(level: DataFrame, trailing: String*): DataFrame =
    level.select(Seq(col("metric"), col("interval_ns"), col("bucket_start")) ++
      presented ++ trailing.map(col): _*)
}
