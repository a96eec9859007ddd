package graft.streaming

import graft.SparkTestBase
import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

class FlowMetricsSpec extends SparkTestBase {

  private def rec(key: String, offset: Long): Record =
    Record("t", 0, offset, new Timestamp(offset * 1000), 0, key, Array[Byte](), Map.empty)

  test("FlowMetrics exposes reference-shaped gauges; RecordOps remap/filter apply") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val metrics = new FlowMetrics
    spark.streams.addListener(metrics)
    try {
      val input = MemoryStream[Record]
      val preprocessed = RecordOps.filterRecord(
        RecordOps.remapKey(input.toDS(), r => "u-" + r.key),
        r => r.key != "u-drop")
      val foldMetrics = FoldMetrics(spark, "count")
      val fold = foldMetrics.decorate(
        FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1))
      val out = KeyFlow.flow(preprocessed, fold)
      val ckpt = tempDir("graft-ckpt").toString
      val q = out.writeStream.format("memory").queryName("metrics")
        .outputMode("update").option("checkpointLocation", ckpt).start()
      input.addData(rec("a", 0), rec("drop", 1), rec("a", 2))
      q.processAllAvailable()

      val latest = spark.table("metrics").as[KeyOutput[Long]].collect()
        .groupBy(_.key).map { case (k, rows) => k -> rows.maxBy(_.offset).state }
      assert(latest == Map("u-a" -> Some(2L))) // remapped; "drop" filtered

      // listener events are async; wait briefly for the progress callback
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.snapshot.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val snap = metrics.snapshot
      assert(snap.contains("key_state_rows_total"))
      assert(snap("key_state_rows_total") >= 1.0)
      assert(snap.keys.exists(_.startsWith("partition_flow_")))

      // per-fold decoration (reference FoldMetrics): the two kept records
      // were folded, each application timed via accumulators
      assert(foldMetrics.applyCount == 2L)
      assert(foldMetrics.totalDurationSeconds > 0.0)
      assert(foldMetrics.gauges("fold_count_apply_total") == 2.0)
      q.stop()

      // EntityRegistry parity: read the live state back from the checkpoint
      val states = EntityRegistry.getAll(spark, ckpt)
      assert(states.count() == 1) // one live key
    } finally spark.streams.removeListener(metrics)
  }
}
