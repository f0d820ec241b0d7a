package graft

/** Mirrors the driver's smoke check: run [[SparkEntry.entry]] on sf0.001
  * and print the row count (must be > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
