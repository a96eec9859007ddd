package graft.state

import graft.batch.OrderedFold
import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

import scala.reflect.runtime.universe.TypeTag

/** Explicit per-key event journal — the reference's Cassandra journal table
  * re-expressed as an append-only parquet log (reference
  * journal/JournalSchema.scala:22-41: rows keyed by (key, offset), read
  * back ordered by offset). Recovery-by-replay (reference
  * Persistence.scala:178-192) is [[OrderedFold]] over the journal: the
  * exact ordered re-fold semantics, one shuffle, spill-safe.
  *
  * Spark's checkpoint usually makes this unnecessary inside one job; the
  * journal exists for audit/replay across jobs and for rebuilding state
  * under a CHANGED fold (something a state snapshot cannot do).
  */
object ExternalJournal {

  /** Blind-append a batch of records (idempotent under replay because
    * `replay` dedups by (key, offset)). Each topic's rows go to one file:
    * the job commit renames its files into place one at a time, and a
    * [[stream]] listing between two renames would serve a key's later
    * offset a batch before its earlier one, which the flow's replay guard
    * then drops. One file per topic lands each append whole. */
  def append(records: Dataset[Record], journalDir: String): Unit =
    records.repartition(org.apache.spark.sql.functions.col("topic"))
      .write.mode(SaveMode.Append).partitionBy("topic").parquet(journalDir)

  /** Rebuild per-key state by re-folding the journal in offset order.
    * Duplicate (key, offset) rows from at-least-once appends fold once. */
  def replay[S: TypeTag](spark: SparkSession, journalDir: String, topic: String)(
      fold: FoldOption[S, Record]): Dataset[(String, S)] = {
    import org.apache.spark.sql.functions.col
    implicit val recEnc: Encoder[Record] = ExpressionEncoder[Record]()
    implicit val tripleEnc: Encoder[(String, Long, Record)] =
      ExpressionEncoder[(String, Long, Record)]()
    implicit val guardedEnc: Encoder[(String, (Long, Option[S]))] =
      ExpressionEncoder[(String, (Long, Option[S]))]()
    implicit val outEnc: Encoder[(String, S)] = ExpressionEncoder[(String, S)]()

    // null-key records are dropped to match the flow contract
    // (KeyFlowTws.flow filters them): a journal with null-key appends
    // must rebuild the SAME keyed state set batch-wise that the
    // streaming path produces — stream-vs-batch parity would otherwise
    // differ by a spurious (null, state) row. The declared Record schema
    // (as in `stream`) spares an inference job and keeps `topic`, the
    // partition dir column, a string
    val records = spark.read.schema(recEnc.schema).parquet(journalDir)
      .filter(col("topic") === topic && col("key").isNotNull)
      .select("topic", "partition", "offset", "timestamp", "timestampType",
        "key", "value", "headers")
      .as[Record]
    val guarded = FoldOption[(Long, Option[S]), Record] { (st, r) =>
      val (lastOffset, inner) = st.getOrElse((Long.MinValue, Option.empty[S]))
      if (r.offset > lastOffset) Some((r.offset, fold.run(inner, r)))
      else Some((lastOffset, inner))
    }
    OrderedFold.run(records)(_.key, _.offset)(guarded)
      .flatMap { case (k, (_, s)) => s.map(k -> _) }
  }

  /** The journal as a STREAMING source (round-7 stretch): Spark's file
    * source tails the append-only parquet log — every [[append]] lands new
    * files, each microbatch picks up the unseen ones (exactly-once file
    * tracking in the stream's own checkpoint) — so a journal written by
    * one job replays into a LIVE [[graft.streaming.KeyFlowTws]] flow in
    * another, the reference's journal-backed recovery
    * (Persistence.scala:178-192) running continuously instead of as a
    * batch rebuild. At-least-once appends are safe end to end: duplicate
    * (key, offset) rows are dropped by the flow's snapshot-offset guard
    * (P9) exactly as [[replay]] dedups them. The test-scope JournalStreamSmoke pins
    * stream-vs-batch parity on the same journal, duplicates included.
    *
    * The returned Dataset is unbounded; pair with `KeyFlowTws.flow` (or
    * any streaming sink). Appends must be producer-ordered per key (the
    * journal contract already required by [[replay]]): the file source
    * serves files in discovery order, so a LOWER offset appended after a
    * key already folded past it is dropped by the guard — that is the
    * replay semantic, not reordering tolerance. */
  def stream(spark: SparkSession, journalDir: String, topic: String): Dataset[Record] = {
    import org.apache.spark.sql.functions.col
    implicit val recEnc: Encoder[Record] = ExpressionEncoder[Record]()
    spark.readStream
      .schema(recEnc.schema) // topic is the partition dir column, filled by discovery
      .parquet(journalDir)
      .filter(col("topic") === topic)
      .select("topic", "partition", "offset", "timestamp", "timestampType",
        "key", "value", "headers")
      .as[Record]
  }
}
