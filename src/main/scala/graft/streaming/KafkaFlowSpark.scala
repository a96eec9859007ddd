package graft.streaming

import graft.model.Record
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import scala.concurrent.duration._

/** Top-level entry points ≅ reference `KafkaFlow` (core/.../KafkaFlow.scala:
  * 17-88) re-expressed on Structured Streaming:
  *
  *  - the poll loop, rebalance listener, commit staging and retry machinery
  *    (reference O19–O25) are Spark's microbatch scheduler + Kafka source +
  *    checkpoint — not user code;
  *  - `retryOnError`'s exponential backoff maps to task retries plus query
  *    restart-from-checkpoint;
  *  - offsets can never run ahead of durable state because Spark commits
  *    state and offsets atomically per microbatch (reference
  *    docs/persistence.md:7-27's invariant, guaranteed structurally).
  */
object KafkaFlowSpark {

  /** Kafka-source rows → Record envelope. The source schema matches Record
    * 1:1 except headers (array<struct<key,value>> → map<string,string>).
    * Factored out of [[fromKafka]] so the decode is testable without a
    * broker (any DataFrame with the Kafka source schema works). */
  def decodeKafka(df: DataFrame): Dataset[Record] = {
    import df.sparkSession.implicits._
    df.select(
      col("topic"),
      col("partition"),
      col("offset"),
      col("timestamp"),
      col("timestampType"),
      col("key").cast("string").as("key"),
      col("value"),
      map_from_entries(
        transform(coalesce(col("headers"), array()),
          h => struct(h.getField("key"), h.getField("value").cast("string"))))
        .as("headers"))
      .as[Record]
  }

  /** The full option map handed to the Kafka source — the reference
    * `KafkaModule`/consumer-config surface (O24) as ONE pure, testable
    * function (KafkaSurfaceSpec pins every key): subscription, offset
    * range (batch reads set `endingOffsets`), header decode, and a
    * passthrough for consumer tuning — `maxOffsetsPerTrigger`,
    * `failOnDataLoss`, `kafka.*` security/client settings — which the
    * reference exposes as raw consumer properties. Explicit arguments win
    * over `extra` so a stray `extra` key cannot silently unsubscribe. */
  def kafkaOptions(bootstrapServers: String, topics: String,
                   startingOffsets: String = "earliest",
                   endingOffsets: Option[String] = None,
                   extra: Map[String, String] = Map.empty): Map[String, String] =
    // endingOffsets is removed from extra even when None: the explicit
    // argument governs the key unconditionally, so a batch-tuning map
    // reused for a STREAMING read can't leak the batch-only option into
    // the source (which would reject it at stream start)
    (extra - "endingOffsets") ++
      Map(
        "kafka.bootstrap.servers" -> bootstrapServers,
        "subscribe" -> topics,
        "startingOffsets" -> startingOffsets,
        "includeHeaders" -> "true") ++
      endingOffsets.map("endingOffsets" -> _)

  def fromKafka(spark: SparkSession, bootstrapServers: String, topics: String,
                startingOffsets: String = "earliest",
                extra: Map[String, String] = Map.empty): Dataset[Record] =
    decodeKafka(
      spark.readStream
        .format("kafka")
        .options(kafkaOptions(bootstrapServers, topics, startingOffsets,
          endingOffsets = None, extra = extra))
        .load())

  /** Bounded batch read of a topic range — for backfills and journal
    * replays over Kafka itself (same decode as the stream). */
  def fromKafkaBatch(spark: SparkSession, bootstrapServers: String, topics: String,
                     startingOffsets: String = "earliest",
                     endingOffsets: String = "latest",
                     extra: Map[String, String] = Map.empty): Dataset[Record] =
    decodeKafka(
      spark.read
        .format("kafka")
        .options(kafkaOptions(bootstrapServers, topics, startingOffsets,
          endingOffsets = Some(endingOffsets), extra = extra))
        .load())

  /** Start a keyed fold's changelog ([[KeyFlowTws.flow]]) against a sink,
    * checkpointed. The trigger interval is
    * the analogue of the reference's timer-scan cadence (1 s default,
    * PartitionFlowConfig.scala:52-58): timeouts fire even on empty batches.
    */
  def start[S](
      out: Dataset[KeyOutput[S]],
      checkpointDir: String,
      sink: DataStreamWriter[KeyOutput[S]] => DataStreamWriter[KeyOutput[S]],
      trigger: Trigger = Trigger.ProcessingTime(1.second)): StreamingQuery =
    sink(
      out.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger))
      .start()
}
