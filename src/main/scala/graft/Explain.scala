package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Plan inspector: `runMain graft.Explain <q1,q2,...> <sfDir> [<outDir> <suffix>]`.
  * Prepares the SF once, then per SparkEntry query prints the formatted
  * physical plan of the returned frame (the plan a count() executes) —
  * or writes it to `<outDir>/<query>_<suffix>.txt` — times two counts
  * and releases what the query persisted.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 4,
      "usage: Explain <q1,q2,...> <sfDir> [<outDir> <suffix>]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sfDir = args(1)
    val out = if (args.length == 4) Some((args(2), args(3))) else None
    out.foreach { case (dir, _) => new java.io.File(dir).mkdirs() }
    val spark = GraftSession()
    try SparkEntry.prepare(spark, sfDir) catch { case e: Throwable =>
      System.err.println(s"[explain] prepare failed: ${e.getMessage}")
    }
    names.foreach { name =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try {
        val tc = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(f"CONSTRUCT $name time=${(System.nanoTime() - tc) / 1e9}%.2fs")
        val plan = df.queryExecution.explainString(FormattedMode)
        out match {
          case Some((dir, suffix)) =>
            val file = Paths.get(dir, s"${name}_$suffix.txt")
            Files.writeString(file, plan)
            println(s"PLAN $name -> $file")
          case None => println(plan)
        }
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          val n = df.count()
          println(f"RUN$i $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      } finally SparkEntry.releaseNewlyPersisted(spark, before)
    }
    spark.stop()
  }
}
