package htabench

import java.util.SplittableRandom

import graft.core.HistoryRequest

/** Request ranges of the four shapes (ns). A span longer than the data
  * starts at the data's first sample.
  */
final case class Shapes(timelineSpanNs: Long, timelineMaxNs: Long,
                        flexSpanNs: Long, flexMaxNs: Long, aggregateSpanNs: Long)

/** One workload. A round is one batch of samples for every metric,
  * then the LAST_VALUE that must return the batch's newest point.
  *
  * Set-up runs `warmBatches` untimed rounds of `warmPoints` samples per
  * metric, `buildBatches` measured rounds of `buildPoints`, compacts when
  * `compact`, then `warmRequests` untimed requests. The timed phase is
  * rounds of `pointsPerBatch` or, with `clients > 0`, a closed loop of
  * read-only clients issuing the four `shapes` in turn.
  */
final case class Spec(name: String, metrics: Int, periodNs: Long,
                      warmBatches: Int, warmPoints: Int,
                      buildBatches: Int, buildPoints: Int, compact: Boolean,
                      warmRequests: Int, pointsPerBatch: Int,
                      clients: Int, shapes: Option[Shapes]) {
  /** The reference's default finest level: 40 sampling periods. */
  def intervalMinNs: Long = 40L * periodNs
}

object Workloads {
  private val S = Gen.SecondNs
  private val Day = 86400L * S
  /** Injected fault rates and chunk size, the same for every workload. */
  val faults: Faults = Faults(nan = 0.004, inf = 0.002, nonmono = 0.004)
  val chunkPoints = 1000

  val all: Map[String, Spec] = Seq(
    // writes: batches big enough that the fixed and the per-point costs
    // each take a visible share of a batch (at 16 metrics the per-metric
    // cost does not); the only reads are the freshness LAST_VALUEs on the
    // growing, uncompacted store. Batch time falls for the first five
    // batches of a JVM, so five small warm-up rounds come first
    Spec("ingest", metrics = 16, periodNs = S / 10,
      warmBatches = 5, warmPoints = 1000,
      buildBatches = 0, buildPoints = 0, compact = false,
      warmRequests = 0, pointsPerBatch = 4000, clients = 0, shapes = None),
    // reads of a compacted store by concurrent clients; every shape has a
    // fixed cost (only metric and offset are random). A small round pays
    // the query's first-batch costs; the one round that then writes three
    // days is the measured write
    Spec("history", metrics = 12, periodNs = 10 * S,
      warmBatches = 1, warmPoints = 360,
      buildBatches = 1, buildPoints = 25920, compact = true,
      warmRequests = 8, pointsPerBatch = 0, clients = 4,
      shapes = Some(Shapes(2 * Day, 4000L * S, 600L * S, 10L * S, Day))),
  ).map(s => s.name -> s).toMap
}

/** Seeded request source. Request `n` depends only on the seed, `n` and
  * the data span it is drawn over.
  */
final class Requests(seed: Long, metrics: IndexedSeq[String], shapes: Shapes) {
  import Requests._

  def make(shape: Int, n: Long, firstNs: Long, lastNs: Long): HistoryRequest = {
    val r = new SplittableRandom(Gen.mix(seed, 0x5EED5L, n))
    val m = metrics(r.nextInt(metrics.size))
    def start(span: Long): Long = {
      val room = (lastNs - firstNs - span) / Gen.SecondNs
      firstNs + (if (room > 0) r.nextLong(room + 1) * Gen.SecondNs else 0L)
    }
    Names(shape) match {
      case "aggregate_timeline" =>
        val s = start(shapes.timelineSpanNs)
        HistoryRequest.AggregateTimeline(m, s, s + shapes.timelineSpanNs, shapes.timelineMaxNs)
      case "flex_timeline" =>
        val s = start(shapes.flexSpanNs)
        HistoryRequest.FlexTimeline(m, s, s + shapes.flexSpanNs, shapes.flexMaxNs)
      case "aggregate" =>
        val s = start(shapes.aggregateSpanNs)
        HistoryRequest.Aggregate(m, s, s + shapes.aggregateSpanNs)
      case _ => HistoryRequest.LastValue(m)
    }
  }
}

object Requests {
  val Names: IndexedSeq[String] =
    IndexedSeq("aggregate_timeline", "flex_timeline", "aggregate", "last_value")

  def shapeOf(req: HistoryRequest): String = req match {
    case _: HistoryRequest.AggregateTimeline => "aggregate_timeline"
    case _: HistoryRequest.FlexTimeline => "flex_timeline"
    case _: HistoryRequest.Aggregate => "aggregate"
    case _: HistoryRequest.LastValue => "last_value"
  }
}
