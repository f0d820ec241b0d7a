package graft

import graft.streaming.{HtaStore, StreamingIngest}
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The store's on-disk encoding, read back from the parquet footers:
  * every store write goes through one v2-page writer, so raw `time` is
  * DELTA_BINARY_PACKED, and stores still holding v1 batch files (written
  * before that writer) answer exactly as all-v2 stores until `compact`
  * rewrites them.
  */
class StoreEncodingSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val H = 3600000000000L
  private val M = 60000000000L
  private val T0 = 1704067200000000000L

  // two batches of two metrics; together they cross a day boundary
  private def gated(batch: Int): DataFrame = (for {
    m <- Seq("m1", "m2")
    i <- 0 until 200
  } yield StreamingIngest.GatedPoint(m,
    T0 + (batch * 200 + i) * 7L * M + (if (m == "m2") 13L else 0L),
    (i % 17) * 0.25 + batch, anchor = false)).toDF()

  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
    finally s.close()
  }

  /** The column chunks of every footer under `dir`. */
  private def chunks(dir: String): Seq[ColumnChunkMetaData] =
    parquetFiles(dir).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.toList.flatMap(_.getColumns.asScala)
      finally r.close()
    }

  private def assertDeltaTime(dir: String): Unit = {
    val encs = chunks(dir).filter(_.getPath.toDotString == "time")
      .map(_.getEncodings.asScala.toSet)
    assert(encs.nonEmpty, s"no raw time chunks under $dir")
    assert(encs.forall(e =>
      e.contains(Encoding.DELTA_BINARY_PACKED) && !e.contains(Encoding.PLAIN)),
      s"raw time chunks not all DELTA_BINARY_PACKED: $encs")
  }

  /** Raw `time` is delta-encoded and every chunk of both sides is on v2 pages. */
  private def assertAllV2(root: String): Unit = {
    assertDeltaTime(s"$root/raw")
    val all = chunks(s"$root/raw") ++ chunks(s"$root/partials")
    assert(all.nonEmpty && all.forall(_.getEncodingStats.usesV2Pages),
      s"v1 pages left under $root")
  }

  /** Every answer a reader gets from the store, in a comparable form. */
  private def answers(store: HtaStore) = {
    val snap = store.snapshot(spark)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    (rows(store.raw(spark)), rows(store.level0(spark)),
      store.seedState(spark, "other", -1L).collect().toMap,
      rows(snap.raw(spark)), rows(snap.level0(spark)),
      rows(snap.rawRange(spark, T0 + H, T0 + 30 * H)))
  }

  test("writeBatch and compact write raw time as DELTA_BINARY_PACKED") {
    val store = new HtaStore(Files.createTempDirectory("hta-enc").toString, H)
    store.writeBatch(spark, gated(0), "t_0")
    store.writeBatch(spark, gated(1), "t_1")
    assertAllV2(store.root)
    store.compact(spark, None)
    assertAllV2(store.root)
  }

  test("a store mixing v1 and v2 batch files answers as an all-v2 store, " +
    "and compact leaves only v2 files") {
    val v2 = new HtaStore(Files.createTempDirectory("hta-allv2").toString, H)
    v2.writeBatch(spark, gated(0), "t_0")
    v2.writeBatch(spark, gated(1), "t_1")
    val expected = answers(v2)

    val mixed = new HtaStore(Files.createTempDirectory("hta-mixed").toString, H)
    mixed.writeBatch(spark, gated(0), "t_0")
    // rewrite batch 0's files in place with Spark's default (v1) writer
    def toV1(side: String, schema: String, partitionBy: String*): Unit = {
      val dir = s"${mixed.root}/$side/batch_id=t_0"
      val tmp = s"${mixed.root}/${side}_v1"
      spark.read.schema(schema).parquet(dir).write.partitionBy(partitionBy: _*).parquet(tmp)
      val hfs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(hfs.delete(new Path(dir), true) && hfs.rename(new Path(tmp), new Path(dir)))
    }
    toV1("raw", "time LONG, value DOUBLE, metric STRING, day LONG", "metric", "day")
    toV1("partials", "metric STRING, bucket_start LONG, min_v DOUBLE, max_v DOUBLE, " +
      "sum_c LONG, cnt LONG, integral_cus LONG, active_us LONG, interval_ns LONG",
      "interval_ns")
    val v1 = chunks(s"${mixed.root}/raw/batch_id=t_0") ++
      chunks(s"${mixed.root}/partials/batch_id=t_0")
    assert(v1.nonEmpty && v1.forall(c => !c.getEncodingStats.usesV2Pages),
      "batch 0 was not rewritten on v1 pages")
    mixed.writeBatch(spark, gated(1), "t_1")
    assertDeltaTime(s"${mixed.root}/raw/batch_id=t_1")
    assert(answers(mixed) == expected)

    mixed.compact(spark, None)
    assertAllV2(mixed.root)
    assert(answers(mixed) == expected)
  }
}
