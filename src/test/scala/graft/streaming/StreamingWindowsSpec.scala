package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming windows + watermark (SURVEY §2.8: tumbling/session windows are
  * Spark built-ins; the reference builds sessions from timers — T5).
  * Event-time watermark is the reference's `Timestamp.watermark` domain.
  */
class StreamingWindowsSpec extends SparkTestBase {

  private def ts(s: Int) = new Timestamp(s * 1000L)

  test("tumbling window aggregation with watermark finalizes on advance") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val agg = input.toDS().toDF("key", "ts", "value")
      .withWatermark("ts", "5 seconds")
      .groupBy(col("key"), window(col("ts"), "10 seconds"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    val q = agg.writeStream.format("memory").queryName("tumble")
      .outputMode("append")
      .option("checkpointLocation", tempDir("wm").toString)
      .start()
    input.addData(("k1", ts(1), 1.0), ("k1", ts(4), 2.0), ("k1", ts(12), 5.0))
    q.processAllAvailable()
    input.addData(("k2", ts(60), 1.0)) // advances watermark past window [0,10)
    q.processAllAvailable()
    val rows = spark.table("tumble")
      .select(col("key"), col("window.start").cast("long").as("start"), col("n"), col("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows.contains(("k1", 0L, 2L, 3.0)))  // [0,10) finalized with 2 events
    assert(rows.contains(("k1", 10L, 1L, 5.0))) // [10,20) finalized
    q.stop()
  }

  test("session_window groups by idle gap per key") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val agg = input.toDS().toDF("key", "ts", "value")
      .withWatermark("ts", "5 seconds")
      .groupBy(col("key"), session_window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess")
      .outputMode("append")
      .option("checkpointLocation", tempDir("wm").toString)
      .start()
    // one session (1s,3s gap<5s), then a separate session at 20s
    input.addData(("k1", ts(1), 1.0), ("k1", ts(3), 1.0), ("k1", ts(20), 1.0))
    q.processAllAvailable()
    input.addData(("k2", ts(60), 1.0)) // advance watermark to finalize
    q.processAllAvailable()
    val rows = spark.table("sess")
      .select(col("key"), col("session_window.start").cast("long").as("start"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains(("k1", 1L, 2L))) // session [1, 8) with 2 events
    assert(rows.contains(("k1", 20L, 1L)))
    q.stop()
  }
}
