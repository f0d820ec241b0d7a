package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S1 wire-format semantics: the reference's `DataChunk` carries
  * parallel arrays `time_delta[]` / `value[]` with timestamps
  * delta-encoded on the wire (first delta relative to epoch —
  * `/root/reference/src/db.cpp:116-122` call sites + public MetricQ
  * docs; same encoding the responses use, `async_hta_service.hpp:
  * 374-380`). These transforms are the encode/decode pair.
  *
  * Decode = per-chunk prefix sum, computed inside each chunk row — one
  * AMQP message, bounded size — so it needs no shuffle or sort and runs
  * on streaming frames as well as static ones.
  */
object ChunkDecode {

  /** `(metric, chunk_id, time_delta: array<long>, value: array<double>)`
    * → `(metric, time, value, seq)` points. `seq` reconstructs arrival
    * order as (chunk, position).
    *
    * `posPerChunk` must exceed any real chunk size (or seq values
    * collide across chunks and the monotonic gate drops valid points),
    * and `chunk_id` must stay below `Long.MaxValue / posPerChunk` (or
    * the multiplication wraps negative and scrambles arrival order).
    * The default of 2^20 dwarfs any AMQP message while leaving room for
    * ~8.8e12 chunks — 278k years at one chunk per second. Both bounds
    * are enforced: a violating row raises instead of silently
    * corrupting the gate's order. So does a malformed chunk (null
    * `chunk_id`, null array elements, arrays of different lengths) and
    * a prefix sum that overflows; a chunk with a null array yields no
    * points.
    */
  def decode(chunks: DataFrame, posPerChunk: Long = 1L << 20): DataFrame = {
    require(posPerChunk > 0, "posPerChunk must be positive")
    val maxChunk = Long.MaxValue / posPerChunk - 1
    import chunks.sparkSession.implicits._
    chunks
      .select(col("metric"), col("chunk_id").cast("long"),
        col("time_delta").cast("array<bigint>"), col("value").cast("array<double>"))
      .flatMap { r =>
        if (r.isNullAt(2) || r.isNullAt(3)) Iterator.empty
        else {
          val (ds, vs) = (r.getSeq[Any](2), r.getSeq[Any](3))
          require(!r.isNullAt(1) && ds.length == vs.length &&
            !ds.contains(null) && !vs.contains(null),
            s"malformed chunk (metric=${r.getString(0)} chunk_id=${r.get(1)}): " +
              "chunk_id must be set and time_delta/value must be equally long " +
              "arrays without nulls")
          val (metric, chunkId) = (r.getString(0), r.getLong(1))
          ds.iterator.scanLeft(0L)((t, d) => Math.addExact(t, d.asInstanceOf[Long]))
            .drop(1).zip(vs.iterator).zipWithIndex
            .map { case ((t, v), pos) =>
              (metric, chunkId, pos, t, v.asInstanceOf[Double]) }
        }
      }
      .toDF("metric", "chunk_id", "pos", "time", "value")
      .select(col("metric"), col("time"), col("value"),
        when(col("chunk_id").between(0L, maxChunk) && col("pos") < posPerChunk,
          col("chunk_id") * posPerChunk + col("pos"))
          .otherwise(raise_error(concat(
            lit(s"seq reconstruction out of range (posPerChunk=$posPerChunk): chunk_id="),
            col("chunk_id"), lit(" pos="), col("pos"))).cast("long"))
          .as("seq"))
  }

  /** Wire schema of a JSON-serialized DataChunk on a Kafka topic. */
  val chunkWireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "metric STRING, chunk_id BIGINT, time_delta ARRAY<BIGINT>, value ARRAY<DOUBLE>")

  /** Kafka wire adapter (S1 production wiring): a Kafka source frame —
    * `key`/`value` binary columns, as `spark.readStream.format("kafka")`
    * produces — whose value payload is a JSON DataChunk, mapped to the
    * chunk frame [[decode]] expects. Malformed payloads yield NULL
    * metric rows and are dropped (counted upstream by the observe
    * metrics, like NaN samples).
    */
  def fromKafkaPayload(kafka: DataFrame): DataFrame =
    kafka
      .select(from_json(col("value").cast("string"), chunkWireSchema).as("c"))
      .select(col("c.metric").as("metric"), col("c.chunk_id").as("chunk_id"),
        col("c.time_delta").as("time_delta"), col("c.value").as("value"))
      .filter(col("metric").isNotNull)

  /** Production source: subscribe to a Kafka topic of JSON DataChunks →
    * streaming points ready for [[graft.streaming.StreamingIngest.start]].
    * Untestable in this offline environment (no broker); the payload
    * path is [[fromKafkaPayload]]∘[[decode]], both covered by tests.
    */
  def kafkaPoints(spark: org.apache.spark.sql.SparkSession,
                  bootstrapServers: String, topic: String): DataFrame =
    decode(fromKafkaPayload(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .load()))

  /** Inverse of [[decode]]: group points into per-metric chunks of
    * `chunkRows`, delta-encoding times within each chunk (first delta
    * absolute). Points are chunked in `seq` (arrival) order.
    */
  def encode(points: DataFrame, chunkRows: Long): DataFrame = {
    val wSeq = Window.partitionBy("metric").orderBy("seq")
    val wChunk = Window.partitionBy("metric", "chunk_id").orderBy("seq")
    points
      .withColumn("rn", row_number().over(wSeq))
      .withColumn("chunk_id", ((col("rn") - 1) / chunkRows).cast("long"))
      .withColumn("d",
        col("time") - coalesce(lag("time", 1).over(wChunk), lit(0L)))
      .groupBy("metric", "chunk_id")
      .agg(
        collect_list(struct(col("rn"), col("d"))).as("ds"),
        collect_list(struct(col("rn"), col("value"))).as("vs"))
      .select(col("metric"), col("chunk_id"),
        transform(array_sort(col("ds")), e => e.getField("d")).as("time_delta"),
        transform(array_sort(col("vs")), e => e.getField("value")).as("value"))
  }
}
