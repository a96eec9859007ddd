package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Stream-static enrichment join: a stream of events joins the static
  * customer dim (parquet). The static side is re-planned per microbatch and
  * broadcast when small — the standard dimension-enrichment shape for a
  * pipeline (no state, no watermark needed on the static side). */
class StreamStaticJoinSpec extends SparkTestBase {

  test("stream enriched against static parquet dim") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val customers = Tables(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val input = MemoryStream[(Long, Double)]
    val enriched = input.toDS().toDF("custkey", "amount")
      .join(broadcast(customers), col("custkey") === col("c_custkey"))
      .select("custkey", "c_mktsegment", "amount")
    val q = enriched.writeStream.format("memory").queryName("enrich")
      .outputMode("append")
      .option("checkpointLocation", tempDir("enrich").toString)
      .start()
    input.addData((0L, 10.0), (1L, 20.0), (99999999L, 5.0)) // last has no dim row
    q.processAllAvailable()
    val rows = spark.table("enrich").as[(Long, String, Double)].collect()
    assert(rows.length == 2) // inner join drops the unmatched key
    assert(rows.forall(_._2 != null))
    q.stop()
  }
}
