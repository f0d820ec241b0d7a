package graft

import org.apache.spark.sql.SparkSession

object SparkTestBase {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
  val sf: String = "/root/testdata/sf0.001"
}
