package graft.streaming

import graft.fold.FoldOption
import graft.model.Record
import graft.state.ExternalJournal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** STREAM-vs-BATCH parity for the external-journal STREAMING source
  * (`ExternalJournal.stream` — the round-7 stretch item): the same
  * append-only parquet journal is consumed two ways and must agree
  * exactly:
  *
  *  - batch: `ExternalJournal.replay` (OrderedFold, (key, offset) dedup);
  *  - streaming: `ExternalJournal.stream` tailing the journal directory
  *    into a live `KeyFlowTws.flow`, across THREE append generations —
  *    the second of which REPLAYS the tail of the first (at-least-once
  *    appender) before adding new records, proving the P9 snapshot-offset
  *    guard drops journal duplicates in flight exactly as replay() does.
  *
  * Sum-fold over per-record payload values (exact integers) so any dropped,
  * duplicated, or reordered record changes the answer. Exits 0 iff the
  * per-key final states match exactly. Forked by ExternalSnapshotsSpec (see
  * SparkTestBase.forkSmoke).
  */
object JournalStreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val journal = java.nio.file.Files.createTempDirectory("journal-stream").toString
    def rec(key: String, offset: Long, v: Long): Record =
      Record("events", 0, offset, new Timestamp(1000 + offset), 0, key,
        BigInt(v).toByteArray, Map.empty)
    def payload(r: Record): Long = BigInt(r.value).toLong

    // generation 1: three keys interleaved
    val g1 = Seq(rec("a", 0, 5), rec("b", 1, 7), rec("a", 2, 11), rec("c", 3, 1))
    // generation 2: at-least-once appender REPLAYS offsets 2..3, then news
    val g2 = Seq(rec("a", 2, 11), rec("c", 3, 1), rec("b", 4, 13), rec("a", 5, 17))
    // generation 3: more news (b only)
    val g3 = Seq(rec("b", 6, 19), rec("b", 7, 23))

    val sumFold = FoldOption.of[Long, Record](r => payload(r))((s, r) => s + payload(r))

    ExternalJournal.append(g1.toDS(), journal)

    val golden = new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
    val out = KeyFlowTws.flow(
      ExternalJournal.stream(spark, journal, "events"), sumFold)
    val q = out.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(100))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("journal-stream-ckpt").toString)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[KeyOutput[Long]], _: Long) =>
        ds.collect().foreach(o => golden.put(o.key, o.state))
      }
      .start()
    q.processAllAvailable()
    ExternalJournal.append(g2.toDS(), journal)
    q.processAllAvailable()
    ExternalJournal.append(g3.toDS(), journal)
    q.processAllAvailable()
    q.stop()

    import scala.jdk.CollectionConverters._
    val streamed = golden.asScala.toMap.collect { case (k, Some(v)) => k -> v }
    val batch = ExternalJournal.replay[Long](spark, journal, "events")(sumFold)
      .collect().toMap
    val expect = Map("a" -> (5L + 11 + 17), "b" -> (7L + 13 + 19 + 23), "c" -> 1L)
    val ok = streamed == batch && batch == expect
    if (!ok) println(s"MISMATCH stream=$streamed batch=$batch expect=$expect")
    spark.stop()
    println(s"JOURNAL_STREAM_OK=$ok")
    sys.exit(if (ok) 0 else 1)
  }
}
