package graft.streaming

import graft.SparkTestBase
import graft.fold.FoldOption
import graft.model.{KafkaKey, Record}
import graft.state.ExternalSnapshots
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** The reference's canonical pipeline end to end, composed from the same
  * building blocks a kafka-flow user wires together (reference README
  * "consume journal → fold events → persist snapshots"): kafka-journal
  * wire-format decode (J1, codegen'd `from_json`), seqNr-offset replay
  * dedup (J2/P9, the engine's snapshot-offset guard), a per-key money
  * fold (O1), external snapshot persistence from foreachBatch (P4), and a
  * checkpoint restart with an at-least-once replay overlap (K-invariant).
  * Final store must equal the batch truth computed independently over the
  * decoded events.
  */
class JournalPipelineSpec extends SparkTestBase {

  private def journalRec(key: String, seqNr: Long, amountCents: Long): Record = {
    val header =
      s"""{"append":{"range":{"from":$seqNr,"to":$seqNr},"payloadType":"json"}}"""
    val value =
      s"""{"events":[{"seqNr":$seqNr,"tags":[],"payload":{"payload":{"amount_cents":$amountCents}}}]}"""
    Record("journal", 0, seqNr, new Timestamp(seqNr * 1000), 0, key,
      value.getBytes("UTF-8"), Map(JournalParser.ActionHeaderKey -> header))
  }

  test("journal decode -> keyed fold -> external snapshots survives restart and replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tempDir("jp-store").toString
    val ckpt = tempDir("jp-ckpt").toString
    val payloadSchema = new StructType().add("amount_cents", LongType)

    val input = MemoryStream[Record]
    // decode stays relational/codegen'd; the decoded events re-envelope as
    // Records so the generic engine folds them (offset = seqNr -> the
    // snapshot-offset guard IS the reference's explicitSeqNr dedup)
    val events = JournalParser.toEvents(input.toDS().toDF(), payloadSchema)
      .select(col("key"), col("seq_nr"), col("payload.amount_cents"))
      .as[(String, Long, Long)]
      .map { case (k, seq, cents) =>
        Record("journal", 0, seq, new Timestamp(seq * 1000), 0, k,
          cents.toString.getBytes("UTF-8"), Map.empty)
      }
    val balanceFold = FoldOption.of[Long, Record] { r =>
      new String(r.value, "UTF-8").toLong
    } { (bal, r) => bal + new String(r.value, "UTF-8").toLong }
    val out = KeyFlowTws.flow(events, balanceFold)

    def start() = out.writeStream
      .outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyOutput[Long]], _: Long) =>
        val rows = batch.collect().toSeq.map { o =>
          ExternalSnapshots.rowFor(KafkaKey("bank", "g", "journal", 0, o.key), o.offset, "",
            o.state.map(_.toString.getBytes("UTF-8")).orNull)
        }
        import batch.sparkSession.implicits._
        ExternalSnapshots.upsert(rows.toDS(), store)
      }
      .start()

    // phase 1: k1 deposits seq 0..3, k2 seq 0..1
    val phase1 = (0L to 3L).map(s => journalRec("k1", s, 100 + s)) ++
      (0L to 1L).map(s => journalRec("k2", s, 1000 + s))
    val q1 = start()
    input.addData(phase1)
    q1.processAllAvailable()
    q1.stop()

    // phase 2 after restart: an at-least-once REPLAY of k1 seq 2..3 plus
    // genuinely new events k1 seq 4, k2 seq 2
    val phase2 = Seq(journalRec("k1", 2, 102), journalRec("k1", 3, 103),
      journalRec("k1", 4, 104), journalRec("k2", 2, 1002))
    val q2 = start()
    input.addData(phase2)
    q2.processAllAvailable()
    q2.stop()

    val storeState = ExternalSnapshots.readLatest(spark, store, "bank", "g").collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("value")).toLong))).toMap

    // batch truth: decode ALL fed records (replays included) through the
    // same parser, then sum one amount per DISTINCT seqNr per key
    val allFed = (phase1 ++ phase2).toDF()
    val truth = JournalParser.toEvents(allFed, payloadSchema)
      .select(col("key"), col("seq_nr"), col("payload.amount_cents").as("cents"))
      .dropDuplicates("key", "seq_nr")
      .groupBy("key")
      .agg(sum("cents").as("balance"), max("seq_nr").as("last_seq"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(1)))).toMap

    assert(storeState == truth)
    assert(storeState == Map("k1" -> ((4L, 100L + 101 + 102 + 103 + 104)),
      "k2" -> ((2L, 1000L + 1001 + 1002))))
  }
}
