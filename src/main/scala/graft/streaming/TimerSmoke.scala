package graft.streaming

import graft.fold.{FoldOption, TickOption}
import graft.model.Record
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp
import scala.concurrent.duration._

/** Self-contained timer-path check (exits 0 iff a key is tombstoned by the
  * maxIdle timer): per-key count via [[KeyFlowTws]] (transformWithState +
  * RocksDB store + processing-time timers).
  *
  * Kept as a main rather than only a scalatest body: Spark 4.1's stateful
  * exec nodes read the classic active-session registry at construction and
  * NPE under the sbt test harness's thread context (PythonSQLMetrics);
  * in a plain JVM the engine is fine, so the spec forks this main.
  */
object TimerSmoke {
  def rec(key: String, offset: Long): Record =
    Record("t", 0, offset, new Timestamp(offset * 1000), 0, key, Array[Byte](), Map.empty)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val input = MemoryStream[Record]
    val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
    val config = KeyFlowConfig(maxIdle = Some(1.second), removeOnIdle = true)
    val out = KeyFlowTws.flow(input.toDS(), countFold, TickOption.id[Long], config)
    val q = out.writeStream.format("memory").queryName("timersmoke")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(200))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("timersmoke").toString)
      .start()

    input.addData(rec("k1", 0))
    Thread.sleep(400) // let the first batch commit and register its timer
    input.addData(rec("k1", 1)) // activity moves the deadline; the first timer re-arms at it
    val deadline = System.currentTimeMillis() + 60000
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      val rows = spark.table("timersmoke").as[KeyOutput[Long]].collect()
      // the tombstone must come from the SECOND batch's timer (offset 1)
      ok = rows.exists(o => o.key == "k1" && o.tombstone && o.offset == 1L)
    }
    q.stop()
    spark.stop()
    println(s"TIMER_SMOKE_OK=$ok")
    sys.exit(if (ok) 0 else 1)
  }
}
