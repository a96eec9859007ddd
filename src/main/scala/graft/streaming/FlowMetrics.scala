package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Engine observability (reference metrics module, §2.7): the reference
  * decorates each component with Prometheus timers
  * (`partition_flow_apply_duration_seconds` etc., docs/overview.md:198-294);
  * in Spark the same signals arrive via `StreamingQueryProgress`, so this
  * listener re-exposes them under reference-shaped names, pull-ready for
  * any metrics registry.
  */
final class FlowMetrics extends StreamingQueryListener {

  private val gauges = new ConcurrentHashMap[String, Double]()

  def snapshot: Map[String, Double] = gauges.asScala.toMap

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    // fold/apply durations (reference partition_flow_apply_duration_seconds)
    p.durationMs.asScala.foreach { case (phase, ms) =>
      gauges.put(s"partition_flow_${phase.toLowerCase}_duration_seconds", ms.toDouble / 1000.0)
    }
    gauges.put("topic_flow_input_rows_per_second", p.inputRowsPerSecond)
    gauges.put("topic_flow_processed_rows_per_second", p.processedRowsPerSecond)
    // state-store signals (reference key/journal/snapshot database metrics)
    p.stateOperators.foreach { so =>
      gauges.put("key_state_rows_total", so.numRowsTotal.toDouble)
      gauges.put("key_state_rows_updated", so.numRowsUpdated.toDouble)
      gauges.put("key_state_rows_removed", so.numRowsRemoved.toDouble)
      gauges.put("key_state_memory_used_bytes", so.memoryUsedBytes.toDouble)
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

/** Live-state introspection ≅ reference `EntityRegistry` (reference
  * registry/EntityRegistry.scala:23-120): query the current per-key state
  * of a running/checkpointed flow. Spark ships this as the `statestore`
  * read format — no registry bookkeeping needed. */
object EntityRegistry {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** All live keys + state of a checkpointed keyed flow
    * ([[KeyFlowTws.flow]]): its per-key `FlowState` variable. */
  def getAll(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("statestore").option("stateVarName", KeyFlowTws.StateVar)
      .load(checkpointDir)
}
