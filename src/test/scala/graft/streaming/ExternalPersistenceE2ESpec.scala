package graft.streaming

import graft.SparkTestBase
import graft.fold.FoldOption
import graft.model.{KafkaKey, Record}
import graft.state.ExternalSnapshots
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** The reference's core durability story end-to-end: the flow persists
  * per-key snapshots to an EXTERNAL store from foreachBatch, the job
  * restarts from its checkpoint, and at-least-once batch replay cannot
  * corrupt the store (last-write-wins by offset = the reference's
  * idempotent-replay invariant, docs/persistence.md:7-27).
  */
class ExternalPersistenceE2ESpec extends SparkTestBase {

  private def rec(key: String, offset: Long): Record =
    Record("t", 0, offset, new Timestamp(offset * 1000), 0, key, Array[Byte](), Map.empty)

  test("flow -> foreachBatch -> external snapshots survives restart and replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val store = tempDir("ext-store").toString
    val ckpt = tempDir("ext-ckpt").toString
    val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
    val input = MemoryStream[Record]
    val out = KeyFlowTws.flow(input.toDS(), countFold)

    def start() = out.writeStream
      .outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyOutput[Long]], _: Long) =>
        val rows = batch.collect().toSeq.map { o =>
          ExternalSnapshots.rowFor(KafkaKey("app", "g", "t", 0, o.key), o.offset, "",
            o.state.map(_.toString.getBytes("UTF-8")).orNull)
        }
        import batch.sparkSession.implicits._
        ExternalSnapshots.upsert(rows.toDS(), store)
      }
      .start()

    val q1 = start()
    input.addData(rec("k1", 0), rec("k1", 1), rec("k2", 2))
    q1.processAllAvailable()
    q1.stop()

    def storeState(): Map[String, String] =
      ExternalSnapshots.readLatest(spark, store, "app", "g").collect()
        .map(r => r.getAs[String]("key") -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(storeState() == Map("k1" -> "2", "k2" -> "1"))

    // simulate at-least-once: the same changelog rows written again
    // (e.g. foreachBatch retried after a sink failure) must be a no-op
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(KafkaKey("app", "g", "t", 0, "k1"), 1L, "", "2".getBytes),
      ExternalSnapshots.rowFor(KafkaKey("app", "g", "t", 0, "k1"), 0L, "", "1".getBytes)).toDS(), store)
    assert(storeState() == Map("k1" -> "2", "k2" -> "1"))

    // restart from checkpoint: engine state continues; store follows
    val q2 = start()
    input.addData(rec("k1", 3))
    q2.processAllAvailable()
    q2.stop()
    assert(storeState() == Map("k1" -> "3", "k2" -> "1"))
  }

  /** The invariant the reference's whole transactional module exists for
    * (KafkaSnapshotWriteDatabase.scala:49-186, GroupCommitSpec.scala:166
    * "offset never leads the writes"): a batch that dies AFTER the external
    * upsert but BEFORE the engine commits its offsets leaves the store
    * ahead of the checkpoint; on restart the batch replays, the upsert
    * re-appends, and offset-LWW resolves the duplicates — the final store
    * is byte-identical to a run that never failed. */
  test("sink failure after upsert, before batch commit: replay converges to the no-failure run") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // drive the SAME input sequence through a failing and a clean pipeline
    def runPipeline(failBatchWithOffset3: Boolean): Map[String, (Long, String)] = {
      val store = tempDir("ext-store-fi").toString
      val ckpt = tempDir("ext-ckpt-fi").toString
      val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
      val input = MemoryStream[Record]
      val out = KeyFlowTws.flow(input.toDS(), countFold)
      @volatile var armed = failBatchWithOffset3

      def start() = out.writeStream
        .outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyOutput[Long]], _: Long) =>
          val outs = batch.collect().toSeq
          val rows = outs.map { o =>
            ExternalSnapshots.rowFor(KafkaKey("app", "g", "t", 0, o.key), o.offset, "",
              o.state.map(_.toString.getBytes("UTF-8")).orNull)
          }
          import batch.sparkSession.implicits._
          ExternalSnapshots.upsert(rows.toDS(), store)
          // crash AFTER the durable append, BEFORE the engine can commit
          // this batch — the store now leads the checkpoint
          if (armed && outs.exists(_.offset == 3L)) {
            armed = false
            throw new RuntimeException("injected sink failure after upsert")
          }
        }
        .start()

      def storeState(): Map[String, (Long, String)] =
        ExternalSnapshots.readLatest(spark, store, "app", "g").collect()
          .map(r => r.getAs[String]("key") ->
            (r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("value")))).toMap

      val q1 = start()
      input.addData(rec("k1", 0), rec("k1", 1), rec("k2", 2))
      q1.processAllAvailable()
      input.addData(rec("k1", 3), rec("k2", 4))
      if (failBatchWithOffset3) {
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
        // the at-least-once window, observed: the upsert landed (store is
        // AHEAD of the uncommitted checkpoint) — allowed; the forbidden
        // direction is offsets ahead of durable state
        assert(storeState().get("k1").exists(_._1 >= 3L),
          "store must already hold the failed batch's writes")
        q1.stop()
        // restart from checkpoint: the failed batch REPLAYS (its offsets
        // never committed), the upsert re-appends the same rows
        val q2 = start()
        input.addData(rec("k1", 5))
        q2.processAllAvailable()
        q2.stop()
      } else {
        q1.processAllAvailable()
        input.addData(rec("k1", 5))
        q1.processAllAvailable()
        q1.stop()
      }
      storeState()
    }

    val failed = runPipeline(failBatchWithOffset3 = true)
    val clean = runPipeline(failBatchWithOffset3 = false)
    assert(failed == clean, "replayed store must equal the no-failure run")
    assert(clean == Map("k1" -> (5L, "4"), "k2" -> (4L, "2")))
  }
}
