package htabench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a layer: `id` names the batch or request
  * it belongs to, `parent` the span that caused it (0 = none).
  */
final case class Span(id: Long, parent: Long, name: String, owner: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing, so an untraced run pays one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, owner: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, owner, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  /** One JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""owner":"${s.owner}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark work attributed to the job group the benchmark sets around each
  * request (`req:<shape>:<n>`), plus executor time over all jobs.
  */
final class JobProbe extends SparkListener {
  final class Work { var jobs, tasks, taskMs, rowsRead, shuffleBytes = 0L }
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.Map.empty[String, Work]
  private val total = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      e.stageIds.foreach(stageGroup.put(_, group))
      synchronized(byGroup.getOrElseUpdate(group, new Work).jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    total.addAndGet(m.executorRunTime)
    Option(stageGroup.get(e.stageId)).foreach { group =>
      synchronized {
        val w = byGroup.getOrElseUpdate(group, new Work)
        w.tasks += 1
        w.taskMs += m.executorRunTime
        w.rowsRead += m.inputMetrics.recordsRead
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Executor run time of every task ended so far, ms. */
  def taskMs: Long = total.get
  def work(group: String): Option[Work] = synchronized(byGroup.get(group))
}

/** Parquet writes classified by output path: the raw and partials
  * halves of `HtaStore.writeBatch` (the raw half runs on a pool thread
  * that carries no job group) and the compaction rewrite.
  */
final class WriteProbe extends QueryExecutionListener {
  final case class Write(kind: String, batchKey: String, ms: Double,
                         files: Long, bytes: Long, rows: Long)
  private val writes = new ConcurrentLinkedQueue[Write]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.executedPlan.collectFirst {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] => w
    }.foreach { w =>
      val path = w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString
      val kind =
        if (path.contains("/raw/batch_id=")) "raw"
        else if (path.contains("/partials/batch_id=")) "partials"
        else "other"
      def metric(n: String) = w.cmd.metrics.get(n).map(_.value).getOrElse(0L)
      writes.add(Write(kind, path.substring(path.lastIndexOf("batch_id=") + 9),
        durationNs / 1e6, metric("numFiles"), metric("numOutputBytes"),
        metric("numOutputRows")))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[Write] = writes.asScala.toSeq
}

/** Per-batch streaming progress of the ingest query. */
final class ProgressProbe extends StreamingQueryListener {
  final case class Batch(batchId: Long, rows: Long, durations: Map[String, Long],
                         stateRows: Long, stateBytes: Long, stateCommitMs: Long)
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val st = p.stateOperators.headOption
      batches.add(Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L)))
    }
  }

  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.batchId)
}

/** Process-level counters: collector time and peak heap. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def resetPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
}
