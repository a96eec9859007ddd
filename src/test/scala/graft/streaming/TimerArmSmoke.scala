package graft.streaming

import graft.fold.{FoldOption, TickOption}
import graft.model.Record
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.{Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `KeyFlowTws`'s idle timer: armed once per key, re-armed lazily. Forked by
  * KeyFlowTwsStateSpec, because timer batches do not plan under sbt's test threads
  * (see TimerSmoke). No-data microbatches are off, so batch `i` is the
  * `i`-th `addData`.
  *
  * Usage: `TimerArmSmoke count|jump <dir>`; exits 0 on a pass.
  *  - `count`: a processing-time `maxIdle` over 20 keys. The first batch
  *    registers one timer per key; later batches of the same keys register
  *    and delete none (`numRegisteredTimers`, `numDeletedTimers`). A key
  *    removed by a `None` fold and one removed by `maxOffsetDifference` lag
  *    each delete their timer, and the state reader then lists exactly one
  *    timer for every other key and none for the two.
  *  - `jump`: event time, `maxIdle` 10 s, a marking tick (+100). A key
  *    active at 10 s and 15 s, whose watermark jumps from 15 s to 100 s,
  *    ticks once, in batch 3, at offset 1. A key active at the same times
  *    whose watermark passes its first timer (20 s) but not its deadline
  *    (25 s) emits nothing then, and ticks once, in batch 5, at offset 1.
  *    Both are what a timer moved to the deadline on every active batch
  *    gives.
  */
object TimerArmSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = args.toSeq match {
      case Seq("count", dir) => count(spark, Paths.get(dir))
      case Seq("jump", dir) => jump(spark, Paths.get(dir))
      case _ => sys.error("usage: TimerArmSmoke count|jump <dir>")
    }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def rec(key: String, offset: Long, eventMs: Long, value: String = "1"): Record =
    Record("t", 0, offset, new Timestamp(eventMs), 0, key, value.getBytes("UTF-8"), Map.empty)

  private def report(checks: (String, Boolean)*): Boolean = {
    checks.foreach { case (what, pass) => println(s"[timerarm] $what ${if (pass) "OK" else "FAIL"}") }
    checks.forall(_._2)
  }

  /** Runs `batches` through `flow` on a fresh checkpoint; returns every
    * output with its batch id, and the query's per-batch progress. */
  private def run[S](spark: SparkSession, ckpt: Path, batches: Seq[Seq[Record]])(
      flow: Dataset[Record] => Dataset[KeyOutput[S]]) = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Record]
    val out = new ConcurrentLinkedQueue[(Long, KeyOutput[S])]()
    val q = flow(input.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (ds: Dataset[KeyOutput[S]], id: Long) =>
        ds.collect().foreach(o => out.add(id -> o))
      }.start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    (out.asScala.toVector, q.recentProgress.toVector)
  }

  private def count(spark: SparkSession, dir: Path): Boolean = {
    import spark.implicits._
    val keys = (0 until 20).map(i => s"k$i")
    // a steady batch: 5 records per key, then "gone" and "lag" last, so no
    // key trails the partition's newest offset by more than 50
    def steady(b: Int) = {
      val base = b * 1000L
      val body = (0 until 100).map(i => rec(keys(i % 20), base + i, 0L))
      body :+ rec("gone", base + 100, 0L) :+ rec("lag", base + 101, 0L)
    }
    // "lag" first, 100 records behind the newest offset; "gone" folds to None
    val removal = {
      val base = 3000L
      rec("lag", base, 0L) +: (1 to 100).map(i => rec(keys(i % 20), base + i, 0L)) :+
        rec("gone", base + 101, 0L, "drop")
    }
    val fold = FoldOption[Long, Record] { (s, r) =>
      if (new String(r.value, "UTF-8") == "drop") None else Some(s.getOrElse(0L) + 1)
    }
    val ckpt = dir.resolve("count")
    val (out, progress) = run[Long](spark, ckpt, (0 until 3).map(steady) :+ removal) { ds =>
      KeyFlowTws.flow(ds, fold, TickOption.id[Long],
        KeyFlowConfig(maxIdle = Some(10.minutes), maxOffsetDifference = Some(50)))
    }
    // idle triggers also report progress, with no state operators
    def timerMetric(batch: Long, name: String): Long =
      progress.find(p => p.batchId == batch && p.stateOperators.nonEmpty)
        .map(_.stateOperators.head.customMetrics.get(name).longValue).getOrElse(-1L)
    val counts = (0L until 4L).map(b => (timerMetric(b, "numRegisteredTimers"), timerMetric(b, "numDeletedTimers")))
    println(s"[timerarm] (registered, deleted) per batch: ${counts.mkString(" ")}")
    val timers = spark.read.format("statestore").option("path", ckpt.toString)
      .option("readRegisteredTimers", "true").load()
      .selectExpr("key.value").as[String].collect().toSeq
    val tombstoned = out.collect { case (3L, o) if o.tombstone => o.key }.toSet
    report(
      "first batch arms one timer per key" -> (counts(0) == ((22L, 0L))),
      "steady batches register and delete none" -> counts.slice(1, 3).forall(_ == ((0L, 0L))),
      "removal batch deletes the two removed keys' timers" -> (counts(3) == ((0L, 2L))),
      "None fold and lag tombstone their keys" -> (tombstoned == Set("gone", "lag")),
      s"one pending timer per live key, none for removed keys (${timers.size} timers)" ->
        (timers.sorted == keys.sorted))
  }

  private def jump(spark: SparkSession, dir: Path): Boolean = {
    import spark.implicits._
    val countFold = FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)
    val markTick = TickOption[Long](_.map(_ + 100L))
    val config = KeyFlowConfig(maxIdle = Some(10.seconds), removeOnIdle = false,
      timerDomain = TimerDomain.Watermark)
    def ticks(name: String, key: String, events: Seq[(String, Long)]) = {
      val batches = events.zipWithIndex.map { case ((k, ms), off) => Seq(rec(k, off, ms)) }
      val (out, _) = run[Long](spark, dir.resolve(name), batches) { ds =>
        KeyFlowTws.flow(ds.withWatermark("timestamp", "0 seconds"), countFold, markTick, config)
      }
      val t = out.collect { case (b, o) if o.key == key && o.state.exists(_ >= 100) => (b, o.offset, o.state.get) }
      println(s"[timerarm] $name: ticks (batch, offset, state) ${t.mkString(" ")}")
      t
    }
    // the watermark a batch evicts with is the max event time before it
    val jumped = ticks("jump", "j",
      Seq("j" -> 10000L, "j" -> 15000L, "z" -> 100000L, "z" -> 101000L, "z" -> 102000L))
    val stepped = ticks("step", "s",
      Seq("s" -> 10000L, "s" -> 15000L, "z" -> 22000L, "z" -> 23000L, "z" -> 26000L, "z" -> 27000L))
    report(
      "watermark jump ticks once, in batch 3, at offset 1" -> (jumped == Seq((3L, 1L, 102L))),
      "early timer re-arms silently; tick in batch 5, at offset 1" -> (stepped == Seq((5L, 1L, 102L))))
  }
}
