package graft.operators

import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** Overlap of two independent Spark jobs from one caller: the
  * chunked backfill's sink beside its seed fold, `writeBatch`'s raw
  * write beside its partials write. The jobs back-fill each other's
  * stragglers instead of serializing.
  */
object SideJob {

  /** Run `side` on its own thread while `main` runs on the caller's,
    * and return `main`'s result. The side thread carries the caller's
    * Spark local properties (job group, description, scheduler pool,
    * SQL execution id), captured at the call, with `spark` active — a
    * shared pool's threads would carry whatever the thread that
    * created them had set. The side job is settled before any failure
    * propagates, so a caller's failure-path cleanup (a scratch delete)
    * never races an in-flight write; then the side job's own failure
    * surfaces.
    */
  def alongside[A](spark: SparkSession)(side: => Unit)(main: => A): A = {
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = SQLExecution.withThreadLocalCaptured(
        spark.asInstanceOf[classic.SparkSession], pool)(side)
      val result = try main finally f.handle((_, _) => ()).join()
      try f.get() catch { case e: ExecutionException => throw e.getCause }
      result
    } finally pool.shutdown()
  }
}
