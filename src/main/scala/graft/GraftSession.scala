package graft

import org.apache.spark.sql.SparkSession

/** The one way the mains and the spec suites start the engine: a local
  * session on `cpus` cores with the settings every query relies on —
  * one shuffle partition per core, UTC session time (the oracle's
  * epoch arithmetic), nanosecond parquet timestamps read as Long ns
  * (`Tables.events`), no UI, WARN logging.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, checked; the machine's processor count when unset. */
  private lazy val envCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def apply(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
