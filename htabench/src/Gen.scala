package htabench

import java.util.SplittableRandom

/** One wire chunk: the reference's `DataChunk` (parallel arrays, time
  * delta-encoded, first delta absolute) — the frame `ChunkDecode.decode`
  * takes.
  */
final case class Chunk(metric: String, chunk_id: Long,
                       time_delta: Array[Long], value: Array[Double]) {
  /** Value equality over the array contents (NaN-safe, bit-exact). */
  def sameAs(o: Chunk): Boolean =
    metric == o.metric && chunk_id == o.chunk_id &&
      java.util.Arrays.equals(time_delta, o.time_delta) &&
      time_delta.indices.forall(i =>
        java.lang.Double.doubleToRawLongBits(value(i)) ==
          java.lang.Double.doubleToRawLongBits(o.value(i)))
}

/** Injection rates of the three point classes the gate drops. */
final case class Faults(nan: Double, inf: Double, nonmono: Double)

/** Seeded point source for `nMetrics` metrics sampled every `periodNs`.
  *
  * Every batch of every metric draws from its own generator, keyed by
  * (seed, metric, batch), so the same seed yields the same chunks.
  * Values are exact
  * centivalues (`value_c / 100.0`, `0 ≤ value_c ≤ 20000`) so every
  * aggregate the program returns has one exact expected value.
  *
  * Faults replace a regular sample's value with NaN or ±Inf, or insert a
  * finite point at or below the newest kept time (a redelivery or a
  * clock regression). Regular times only grow, so the gate drops exactly
  * the injected points and nothing else.
  */
final class Gen(seed: Long, val nMetrics: Int, val periodNs: Long,
                faults: Faults, chunkPoints: Int) {
  require(nMetrics > 0 && periodNs > 0 && chunkPoints > 0)
  val metrics: IndexedSeq[String] = (0 until nMetrics).map(j => f"m$j%04d")

  private val nextIdx = Array.fill(nMetrics)(0L)
  private val valueC = Array.fill(nMetrics)(10000L)
  private val maxKept = Array.fill(nMetrics)(0L)

  /** The next `n` regular samples of every metric (plus injected
    * faults), chunked; batch `b` must be requested in order b = 0, 1, ….
    * Each point is handed to `sink` in arrival order, the order the
    * gate sees it in.
    */
  def batch(b: Int, n: Int, sink: Oracle.Sink): Seq[Chunk] =
    (0 until nMetrics).flatMap { j =>
      val r = new SplittableRandom(Gen.mix(seed, j.toLong, b.toLong))
      val ts = new Array[Long](n * 2)
      val vs = new Array[Double](n * 2)
      var k = 0
      def emit(t: Long, v: Double): Unit = {
        ts(k) = t; vs(k) = v; k += 1
        sink(j, t, v)
      }
      var i = 0
      while (i < n) {
        val t = Gen.T0 + nextIdx(j) * periodNs
        nextIdx(j) += 1
        valueC(j) = math.max(0L, math.min(20000L, valueC(j) + r.nextLong(-50L, 51L)))
        val u = r.nextDouble()
        if (u < faults.nan) emit(t, Double.NaN)
        else if (u < faults.nan + faults.inf)
          emit(t, if (r.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity)
        else {
          emit(t, valueC(j) / 100.0)
          maxKept(j) = t
          if (r.nextDouble() < faults.nonmono)
            emit(maxKept(j) - r.nextLong(0L, 3L) * periodNs,
              r.nextLong(0L, 20001L) / 100.0)
        }
        i += 1
      }
      (0 until k by chunkPoints).zipWithIndex.map { case (from, c) =>
        val until = math.min(k, from + chunkPoints)
        val td = new Array[Long](until - from)
        var p = from
        while (p < until) {
          td(p - from) = if (p == from) ts(p) else ts(p) - ts(p - 1)
          p += 1
        }
        Chunk(metrics(j), b.toLong * Gen.ChunksPerBatch + c, td,
          java.util.Arrays.copyOfRange(vs, from, until))
      }
    }

  /** Time of the newest regular sample generated so far. */
  def endNs: Long = Gen.T0 + (nextIdx.max - 1) * periodNs
}

object Gen {
  /** 2026-01-01T00:00:00Z in ns. */
  val T0: Long = 1767225600L * 1000000000L
  val ChunksPerBatch: Long = 1L << 16
  val SecondNs: Long = 1000000000L

  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ b * 0xC2B2AE3D27D4EB4FL ^ c * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^ (h >>> 33)
  }
}
