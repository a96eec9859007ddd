package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Stream-stream interval join with watermarks on both sides (SURVEY §2.8 —
  * beyond reference parity): purchases join the clicks of the same user
  * within the preceding 10 seconds. */
class StreamStreamJoinSpec extends SparkTestBase {

  private def ts(s: Int) = new Timestamp(s * 1000L)

  test("purchases join prior clicks within the interval, late rows dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    val c = clicks.toDS().toDF("user_id", "cts", "click_id").withWatermark("cts", "20 seconds")
    val p = purchases.toDS().toDF("p_user_id", "pts", "purchase_id").withWatermark("pts", "20 seconds")
    val joined = p.join(c,
      col("user_id") === col("p_user_id") &&
        col("cts") <= col("pts") && col("cts") >= col("pts") - expr("INTERVAL 10 SECONDS"))
      .select("purchase_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .option("checkpointLocation", tempDir("ssj").toString)
      .start()

    clicks.addData((1L, ts(1), 100L), (1L, ts(8), 101L), (2L, ts(2), 200L))
    purchases.addData((1L, ts(10), 900L)) // joins clicks at 1s and 8s
    q.processAllAvailable()
    clicks.addData((1L, ts(100), 102L))   // advance both watermarks
    purchases.addData((1L, ts(100), 901L))
    q.processAllAvailable()

    val rows = spark.table("ssj").as[(Long, Long)].collect().toSet
    assert(rows.contains((900L, 100L)) && rows.contains((900L, 101L)))
    assert(!rows.exists(_._1 == 900L && rows.count(_._1 == 900L) > 2)) // no cross-user rows
    q.stop()
  }
}
