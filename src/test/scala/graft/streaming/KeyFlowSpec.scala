package graft.streaming

import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Golden e2e of the streaming engine (reference persistence-kafka-it-tests/
  * .../StatefulProcessingWithKafkaSpec.scala:33-46,123-137 without a broker:
  * MemoryStream + file checkpoint): produce → fold → stop → produce more →
  * restart → state recovered, count continues. Plus delete/revive and
  * replay-dedup semantics.
  */
object KeyFlowSpec {
  /** Driver-side result buffer for the foreachBatch golden test. */
  val golden = new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
}

class KeyFlowSpec extends ForkedParity {
  import scala.jdk.CollectionConverters._

  private def rec(key: String, offset: Long, value: String = ""): Record =
    Record("t", 0, offset, new Timestamp(offset * 1000), 0, key,
      value.getBytes("UTF-8"), Map.empty)

  private val countFold: FoldOption[Long, Record] =
    FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)

  /** Latest state per key from the memory sink's update-mode changelog. */
  private def latest(table: String): Map[String, Option[Long]] = {
    import spark.implicits._
    spark.table(table).as[KeyOutput[Long]]
      .collect()
      .groupBy(_.key)
      .map { case (k, rows) => k -> rows.maxBy(_.offset).state }
  }

  test("golden e2e: per-key count survives restart from checkpoint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val out = KeyFlowTws.flow(input.toDS(), countFold)
    val ckpt = tempDir("graft-ckpt").toString
    // memory sink refuses checkpoint recovery; foreachBatch supports it
    KeyFlowSpec.golden.clear()
    def start() = out.writeStream
      .outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[KeyOutput[Long]], _: Long) =>
        ds.collect().foreach(o => KeyFlowSpec.golden.put(o.key, o.state))
      }
      .start()

    val q1 = start()
    input.addData(rec("k1", 0), rec("k1", 1), rec("k2", 2))
    q1.processAllAvailable()
    assert(KeyFlowSpec.golden.asScala.toMap == Map("k1" -> Some(2L), "k2" -> Some(1L)))
    q1.stop()

    // restart from the same checkpoint: state must be recovered, not rebuilt
    val q2 = start()
    input.addData(rec("k1", 3), rec("k3", 4))
    q2.processAllAvailable()
    assert(KeyFlowSpec.golden.asScala.toMap ==
      Map("k1" -> Some(3L), "k2" -> Some(1L), "k3" -> Some(1L)))
    q2.stop()
  }

  test("fold None deletes the key; a later record revives it from scratch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    // value "reset" deletes state (FoldOption None-out, O9)
    val fold = FoldOption[Long, Record] { (s, r) =>
      if (new String(r.value, "UTF-8") == "reset") None
      else Some(s.getOrElse(0L) + 1)
    }
    val out = KeyFlowTws.flow(input.toDS(), fold)
    val ckpt = tempDir("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("delrev")
      .outputMode("update").option("checkpointLocation", ckpt).start()

    input.addData(rec("k1", 0), rec("k1", 1))
    q.processAllAvailable()
    input.addData(rec("k1", 2, "reset"))
    q.processAllAvailable()
    assert(latest("delrev") == Map("k1" -> None)) // tombstone emitted
    input.addData(rec("k1", 3))
    q.processAllAvailable()
    assert(latest("delrev") == Map("k1" -> Some(1L))) // revived from scratch
    q.stop()
  }

  test("delete-then-revive within one batch only persists the final state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val fold = FoldOption[Long, Record] { (s, r) =>
      if (new String(r.value, "UTF-8") == "reset") None
      else Some(s.getOrElse(0L) + 1)
    }
    val out = KeyFlowTws.flow(input.toDS(), fold)
    val ckpt = tempDir("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("intra")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    // one batch: count, count, reset, count — final state 1 (revived)
    input.addData(rec("k1", 0), rec("k1", 1), rec("k1", 2, "reset"), rec("k1", 3))
    q.processAllAvailable()
    assert(latest("intra") == Map("k1" -> Some(1L)))
    q.stop()
  }

  test("replayed offsets are deduped (idempotent replay, P9)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val out = KeyFlowTws.flow(input.toDS(), countFold)
    val ckpt = tempDir("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    input.addData(rec("k1", 0), rec("k1", 1))
    q.processAllAvailable()
    // offsets 0/1 replayed (e.g. at-least-once upstream) plus a new one
    input.addData(rec("k1", 0), rec("k1", 1), rec("k1", 2))
    q.processAllAvailable()
    assert(latest("dedup") == Map("k1" -> Some(3L)))
    q.stop()
  }

  test("null-key records are dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val out = KeyFlowTws.flow(input.toDS(), countFold)
    val ckpt = tempDir("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("nullkey")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    input.addData(rec(null, 0), rec("k1", 1))
    q.processAllAvailable()
    assert(latest("nullkey") == Map("k1" -> Some(1L)))
    q.stop()
  }

  test("flowEnhanced runs an EnhancedFold with framework extras (O10)") {
    import graft.fold.EnhancedFold
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    // counts records and requests an additional persist every 2nd record
    val efold = EnhancedFold[Long, Record] { (extras, s, _) =>
      val n = s.getOrElse(0L) + 1
      if (n % 2 == 0) extras.requestAdditionalPersist()
      Some(n)
    }
    val out = KeyFlow.flowEnhanced(input.toDS(), efold)
    val ckpt = tempDir("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("enh")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    input.addData(rec("k1", 0), rec("k1", 1), rec("k1", 2))
    q.processAllAvailable()
    assert(latest("enh") == Map("k1" -> Some(3L)))
    q.stop()
  }

  test("maxOffsetDifference evicts keys lagging the partition offset clock") {
    import spark.implicits._
    import scala.concurrent.duration._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val config = KeyFlowConfig(maxOffsetDifference = Some(10L))
    // single input partition so the emulated partition clock is shared
    val out = KeyFlowTws.flow(input.toDS().repartition(1), countFold,
      graft.fold.TickOption.id[Long], config)
    val ckpt = tempDir("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("offlag")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    // same batch: k1 at offset 0, k2 at offset 100 -> k1 lags by 100 > 10
    input.addData(rec("k1", 0), rec("k2", 100))
    q.processAllAvailable()
    val latest1 = latest("offlag")
    assert(latest1("k2") == Some(1L))
    assert(latest1("k1") == None) // evicted: lag beyond maxOffsetDifference
    q.stop()
  }

  // the timer paths run in one forked child (see Parity)
  parityTests("timers")
}
