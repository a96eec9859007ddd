package graft.state

import graft.model.KafkaKey
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.duration.FiniteDuration

/** External snapshot store for cross-job state sharing — the Spark
  * re-expression of the reference's Cassandra snapshot table (reference
  * persistence-cassandra/.../SnapshotSchema.scala:22-40,
  * CassandraSnapshots.scala:22-120): keyed by (application_id, group_id,
  * topic, partition, key), value is opaque bytes, upsert is last-write-wins
  * by offset.
  *
  * Inside one streaming job, Spark's checkpoint IS the durable state; this
  * sink exists for the reference's other use case — a different job (or a
  * batch query) reading the latest per-key state. Write path: call
  * `upsert` from `foreachBatch` with the changelog of a microbatch; the
  * store is an append-only parquet log partitioned by (application_id,
  * group_id) whose read path resolves last-write-wins via max_by(offset) —
  * append-only writes scale (no read-modify-write at 100 TB), compaction
  * is `compact()`.
  *
  * STORE FORMAT: values are [[Compressor]]-framed (1-byte marker +
  * passthrough or LZ4 block) since r10 — `upsert` writes frames,
  * `readLatest` decodes them, `compact` passes them through. The format
  * is SELF-PROVING, not doc-proving: every writer stamps a
  * `_graft_store_format` file (underscore-prefixed, so parquet readers
  * ignore it) and every reader/writer REQUIRES it on a non-empty store —
  * a directory written by a pre-framing `upsert` (raw value bytes) fails
  * loudly with a migration message instead of having its first value
  * byte silently stripped by the frame decoder.
  *
  * Reads use the declared [[SnapshotRow]] schema, never an inferred one, as
  * the reference's snapshot table has a declared schema: no inference job
  * per read, a stamped store with no data files reads as empty, and ids
  * are compared as strings — the partition values `group_id=007` and
  * `group_id=7` are two groups, not one int 7.
  */
object ExternalSnapshots {

  /** Format stamp: `_`-prefixed so Spark's parquet scan skips it. */
  private[state] val FormatFileName = "_graft_store_format"
  private[state] val FormatId = "framed-v1"

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Stamp `dir` as framed-v1 (idempotent; same bytes every time, so a
    * concurrent double-create is harmless). */
  private def writeFormatMarker(spark: SparkSession, dir: String): Unit = {
    val (fs, base) = hadoopFs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(base, FormatFileName)
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(FormatId.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Fail fast unless `dir` is fresh/empty or stamped framed-v1. Guards
    * BOTH directions of the r10 format change: reading a pre-framing
    * store through the frame decoder (corrupts values), and appending
    * frames into one (mixes encodings the reader cannot distinguish). */
  private def requireFramedStore(spark: SparkSession, dir: String): Unit = {
    val (fs, base) = hadoopFs(spark, dir)
    if (!fs.exists(base)) return
    val p = new org.apache.hadoop.fs.Path(base, FormatFileName)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val got =
        try { val b = new Array[Byte](64); val n = math.max(in.read(b), 0)
              new String(b, 0, n, "UTF-8") }
        finally in.close()
      require(got == FormatId, s"graft.ExternalSnapshots: store $dir has " +
        s"format '$got' but this build reads/writes '$FormatId'")
    } else if (fs.listStatus(base).nonEmpty) {
      throw new IllegalStateException(
        s"graft.ExternalSnapshots: store $dir has data but no " +
          s"$FormatFileName stamp — it predates Compressor framing. Its " +
          "values are RAW bytes the frame decoder would corrupt; migrate " +
          "by reading it with the pre-framing build (or spark.read.parquet " +
          "directly) and re-upserting through this writer")
    }
  }

  /** One snapshot row; `value = null` is a tombstone (deleted key) —
    * mirrors the compacted-topic convention (reference
    * KafkaPartitionPersistence.scala:115-122). `written_at_ms` is the
    * write timestamp powering record expiration (the analogue of
    * Cassandra's writetime/TTL, reference RecordExpiration /
    * CassandraKeys.scala:146). */
  final case class SnapshotRow(
      application_id: String,
      group_id: String,
      topic: String,
      partition: Int,
      key: String,
      offset: Long,
      metadata: String,
      value: Array[Byte],
      written_at_ms: Long)

  private lazy val RowSchema = Encoders.product[SnapshotRow].schema

  /** LZ4 threshold matching the reference's external-state compressor
    * (persistence/compression/Compressor.scala:27-96): values at or above
    * it are LZ4-block-compressed, smaller ones pass through — either way
    * the stored frame is self-describing (1-byte marker), so the read
    * path needs no side channel ("passthrough detection on read"). */
  val CompressionThresholdBytes = 10000

  /** Append a microbatch of snapshot rows (last-write-wins resolved at
    * read time — the write is a blind append, like a Cassandra upsert).
    * Values are framed by [[Compressor]] before landing: parquet's own
    * page compression does not help the consumer that reads ONE key's
    * bytes out of the store, and large states (the only ones the
    * threshold engages) cross systems here. Tombstones stay null. */
  def upsert(rows: Dataset[SnapshotRow], storeDir: String,
             compressionThreshold: Int = CompressionThresholdBytes): Unit = {
    import rows.sparkSession.implicits._
    requireFramedStore(rows.sparkSession, storeDir)
    // stamp BEFORE appending: a crash between the two must strand an
    // empty-but-stamped dir (readable as an empty store), never a framed
    // store that fails the stamp check as pseudo-legacy
    writeFormatMarker(rows.sparkSession, storeDir)
    rows.mapPartitions { it =>
      val c = new Compressor(compressionThreshold)
      it.map(r => if (r.value == null) r else r.copy(value = c.compress(r.value)))
    }.write
      .mode(SaveMode.Append)
      .partitionBy("application_id", "group_id")
      .parquet(storeDir)
  }

  /** Latest state per key (tombstones resolved away). This is the
    * recovery read (reference ReadState, Persistence.scala:194-198).
    *
    * `expiration` ≅ reference `RecordExpiration`: keys whose LATEST write
    * is older than the duration read as absent — the TTL analogue of
    * Cassandra's per-row TTL (reference CassandraKeys.scala:146,204-208),
    * enforced at read time (and purged physically by [[compact]]). */
  def readLatest(spark: SparkSession, storeDir: String,
                 applicationId: String, groupId: String,
                 expiration: Option[FiniteDuration] = None,
                 nowMs: Long = System.currentTimeMillis()): DataFrame = {
    requireFramedStore(spark, storeDir)
    val latest = spark.read.schema(RowSchema).parquet(storeDir)
      .filter(col("application_id") === applicationId && col("group_id") === groupId)
      .groupBy("topic", "partition", "key")
      .agg(
        max("offset").as("offset"),
        expr("max_by(metadata, offset)").as("metadata"),
        expr("max_by(value, offset)").as("value"),
        expr("max_by(written_at_ms, offset)").as("written_at_ms"))
      .filter(col("value").isNotNull)
    val live = expiration.fold(latest)(ttl =>
      latest.filter(col("written_at_ms") >= lit(nowMs - ttl.toMillis)))
    // decompress AFTER last-write-wins + TTL resolution: only surviving
    // rows pay the decode; the frame marker routes raw vs LZ4 per value.
    // The decode is a codegen'd Expression (FrameDecode) inside the
    // projection — r10 replaced the interpreted mapPartitions row-copy
    // loop, the only non-codegen stage this path had.
    live.withColumn("value", graft.functions.FrameDecode(col("value")))
  }

  /** Rewrite the log keeping only the latest row per key — bounded store
    * growth without giving up blind-append writes. With `expiration`,
    * expired keys are physically purged (the Cassandra-compaction
    * analogue of TTL'd-row removal). Values stay in their stored frames
    * (no decode+re-encode pass): the compacted store is read by
    * [[readLatest]], whose per-value frame marker does the routing. */
  def compact(spark: SparkSession, storeDir: String, outDir: String,
              expiration: Option[FiniteDuration] = None,
              nowMs: Long = System.currentTimeMillis()): Unit = {
    requireFramedStore(spark, storeDir)
    val latest = spark.read.schema(RowSchema).parquet(storeDir)
      .groupBy("application_id", "group_id", "topic", "partition", "key")
      .agg(
        max("offset").as("offset"),
        expr("max_by(metadata, offset)").as("metadata"),
        expr("max_by(value, offset)").as("value"),
        expr("max_by(written_at_ms, offset)").as("written_at_ms"))
    expiration.fold(latest)(ttl =>
        latest.filter(col("written_at_ms") >= lit(nowMs - ttl.toMillis)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("application_id", "group_id")
      .parquet(outDir)
    writeFormatMarker(spark, outDir)
  }

  def rowFor(key: KafkaKey, offset: Long, metadata: String, value: Array[Byte],
             writtenAtMs: Long = System.currentTimeMillis()): SnapshotRow =
    SnapshotRow(key.applicationId, key.groupId, key.topic, key.partition, key.key,
      offset, metadata, value, writtenAtMs)
}
