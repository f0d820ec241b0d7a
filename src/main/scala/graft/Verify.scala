package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // prepare BEFORE the first release snapshot: the shared memoized
    // views persist lazily on first use, and the per-query release
    // below would otherwise evict them after the first query — every
    // later query would recompute the whole ingest pipeline per action
    try SparkEntry.prepare(spark, sfDir) catch { case e: Throwable =>
      System.err.println(s"[verify] prepare failed: ${e.getMessage}")
    }
    // optional comma-separated filter for fast single-query iteration
    // (unset = all queries, the driver's configuration — same contract
    // as Bench's SPARK_GRAFT_BENCH_ONLY)
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_ONLY") match {
      case Some(only) =>
        val want = only.split(",").map(_.trim).toSet
        val unknown = want -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(want).toMap
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // release anything a query persisted for itself (e.g. the eager
      // bloom-decontamination checkpoint) once its result is on disk —
      // otherwise block-manager storage accumulates across all queries
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally SparkEntry.releaseNewlyPersisted(spark, persistedBefore)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // under the iteration filter, dump only the selected oracles so
    // check_local compares exactly what was run (driver leaves the
    // filter unset and gets the full map)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
