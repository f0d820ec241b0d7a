package org.apache.spark.htabench

/** Wait until every posted listener event (job, task, streaming
  * progress) has been delivered, so the benchmark's probes see the
  * complete run before it reads them.
  */
object Drain {
  def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
