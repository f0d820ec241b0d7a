package graft

import graft.operators.{Ingest, Salting}
import graft.sources.{ChunkDecode, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SaltingChunkSpec {
  /** One wire chunk row, as [[ChunkDecode.decode]] reads it. */
  final case class WireChunk(metric: String, chunk_id: Long,
                             time_delta: Seq[Long], value: Seq[Double])
}

class SaltingChunkSpec extends AnyFunSuite {
  import SaltingChunkSpec.WireChunk
  private val spark = SparkTestBase.spark
  import SparkTestBase.sf
  import spark.implicits._

  /** The messages of `e` and of all its causes, joined. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("salted two-phase aggregation equals direct aggregation") {
    val pts = Ingest.quantized(Ingest.sanitize(Tables.htaPoints(spark, sf)))
    val salted = Salting.saltedPointAgg(pts, Seq("metric"), "seq", 16)
      .as[(String, Double, Double, Long, Long)].collect().sortBy(_._1)
    val direct = pts.groupBy("metric").agg(
      min("value").as("min_v"), max("value").as("max_v"),
      sum("value_c").as("sum_c"), count(lit(1)).as("cnt"))
      .as[(String, Double, Double, Long, Long)].collect().sortBy(_._1)
    assert(salted.toSeq == direct.toSeq)
    // and the salt really splits keys (stage-1 cardinality > key count)
    val n1 = pts.withColumn("__salt", Salting.salt(col("seq"), 16))
      .select("metric", "__salt").distinct().count()
    assert(n1 > 5)
  }

  test("kafka wire adapter: JSON payload round-trips through fromKafkaPayload") {
    val chunks = ChunkDecode.encode(Tables.htaPoints(spark, sf), 100)
    // fake the Kafka frame shape: binary key/value, value = JSON chunk
    val kafkaShaped = chunks
      .select(col("metric").cast("binary").as("key"),
        to_json(struct(col("metric"), col("chunk_id"),
          col("time_delta"), col("value"))).cast("binary").as("value"))
      .withColumn("garbage", lit("{not json"))
    val withNoise = kafkaShaped.select(col("key"), col("value"))
      .unionByName(kafkaShaped.select(col("key"),
        col("garbage").cast("binary").as("value")))
    val decoded = ChunkDecode.decode(ChunkDecode.fromKafkaPayload(withNoise))
      .select("metric", "time", "value")
    val original = Tables.htaPoints(spark, sf).select("metric", "time", "value")
    assert(decoded.exceptAll(original).isEmpty &&
      original.exceptAll(decoded).isEmpty)
  }

  test("chunk encode is a real delta encoding; decode inverts it") {
    val chunks = ChunkDecode.encode(Tables.htaPoints(spark, sf), 100).cache()
    // wire shape: bounded chunks, deltas small except the first-absolute
    val sizes = chunks.select(size(col("time_delta"))).as[Int].collect()
    assert(sizes.max <= 100 && sizes.min >= 1)
    val firstDeltas = chunks.select(element_at(col("time_delta"), 1))
      .as[Long].collect()
    assert(firstDeltas.forall(_ > 1000000000000000000L)) // absolute epochs
    val decoded = ChunkDecode.decode(chunks)
      .select("metric", "time", "value")
    val original = Tables.htaPoints(spark, sf)
      .select("metric", "time", "value")
    assert(decoded.exceptAll(original).isEmpty &&
      original.exceptAll(decoded).isEmpty)
  }

  test("decode runs on a streaming frame and returns the batch decode's points") {
    val chunks = ChunkDecode.encode(Tables.htaPoints(spark, sf), 100)
      .as[WireChunk].collect().toSeq
    val ms = MemoryStream[WireChunk](spark)
    val q = ChunkDecode.decode(ms.toDF()).writeStream
      .format("memory").queryName("decoded_chunks").start()
    try {
      val (first, rest) = chunks.splitAt(chunks.length / 2)
      ms.addData(first)
      q.processAllAvailable()
      ms.addData(rest)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("decoded_chunks")
    val batch = ChunkDecode.decode(chunks.toDF())
    assert(streamed.count() == Tables.htaPoints(spark, sf).count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("decode raises on a seq it cannot reconstruct and on a malformed chunk") {
    def decodeError(posPerChunk: Long, c: WireChunk): String = messages(intercept[Exception](
      ChunkDecode.decode(Seq(c).toDF(), posPerChunk).collect()))
    // position 2 does not fit posPerChunk = 2
    assert(decodeError(2L, WireChunk("m", 0L, Seq(5L, 1L, 1L), Seq(1.0, 2.0, 3.0)))
      .contains("seq reconstruction out of range (posPerChunk=2): chunk_id=0 pos=2"))
    // chunk ids past Long.MaxValue / posPerChunk - 1, or negative, would wrap seq
    val tooBig = Long.MaxValue / 4
    assert(decodeError(4L, WireChunk("m", tooBig, Seq(5L), Seq(1.0)))
      .contains(s"seq reconstruction out of range (posPerChunk=4): chunk_id=$tooBig pos=0"))
    assert(decodeError(4L, WireChunk("m", -1L, Seq(5L), Seq(1.0)))
      .contains("seq reconstruction out of range (posPerChunk=4): chunk_id=-1 pos=0"))
    // parallel arrays of different lengths
    assert(decodeError(4L, WireChunk("m", 0L, Seq(5L, 1L), Seq(1.0)))
      .contains("malformed chunk (metric=m chunk_id=0)"))
  }
}
