package perfbench

import graft.fold.FoldOption
import graft.model.Record
import graft.streaming.{FoldMetrics, KafkaFlowSpark, KeyFlowConfig, KeyFlowTws, KeyOutput}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** `fold_stream`: the paper's hot path. Kafka-shaped rows go through
  * `KafkaFlowSpark.decodeKafka` into `KeyFlowTws.flow` on RocksDB; the fold
  * keeps a per-key count and exact cent sum. One op adds one microbatch and
  * waits for `processAllAvailable`. */
object FoldStream {
  final case class KHeader(key: String, value: Array[Byte])
  final case class KRow(key: Array[Byte], value: Array[Byte], topic: String,
      partition: Int, offset: Long, timestamp: java.sql.Timestamp,
      timestampType: Int, headers: Array[KHeader])

  val BatchRecords = 10000
  val Keys = 20000
  val Partitions = 16
  /** Batch times keep falling for about eight batches (JIT and RocksDB
    * warm-up); timing from the fourth batch left a 30% drift inside a run. */
  val WarmupBatches = 8
  /** Steady batch time on a 4-core host; sets the op count from `--seconds`. */
  val NominalOpS = 0.75

  def run(spark: SparkSession, run: Run, tracer: Tracer): Outcome = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val nOps = math.max(11, math.round(run.seconds / NominalOpS).toInt)
    val nBatches = WarmupBatches + nOps
    // inputs: Zipf(1.0) keys, a key's partition fixed by its hash, offsets
    // dense per partition, values cents strings
    val rng = new java.util.SplittableRandom(run.seed)
    val zipf = new Zipf(Keys, 1.0)
    val nextOffset = new Array[Long](Partitions)
    val truthN = new Array[Long](Keys)
    val truthC = new Array[Long](Keys)
    val t0 = 1700000000000L
    val batches = Array.tabulate(nBatches) { b =>
      Array.tabulate(BatchRecords) { i =>
        val k = zipf.sample(rng)
        val cents = rng.nextLong(1L, 1000000L)
        truthN(k) += 1; truthC(k) += cents
        val key = s"user-$k"
        val p = (key.hashCode & 0x7fffffff) % Partitions
        val off = nextOffset(p); nextOffset(p) += 1
        KRow(key.getBytes(UTF_8), cents.toString.getBytes(UTF_8), "events", p, off,
          new java.sql.Timestamp(t0 + b.toLong * BatchRecords + i), 0, Array.empty)
      }
    }

    Log(s"$nBatches batches generated")
    val plain = FoldOption.of[(Long, Long), Record] { r =>
      (1L, new String(r.value, UTF_8).toLong)
    } { (st, r) => (st._1 + 1, st._2 + new String(r.value, UTF_8).toLong) }
    val foldMetrics = if (run.trace) Some(FoldMetrics(spark, "perfbench")) else None
    val fold = foldMetrics.fold(plain)(_.decorate(plain))

    // Processing-time timers make every trigger run a batch even without
    // data, so the stream would never idle and `processAllAvailable` never
    // return. No timer fires within a run (maxIdle is 10 min), so batches
    // run only when an op adds data: the loop stays closed.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // the sink keeps each key's last emitted state: bounded by the key count
    val sink = new java.util.concurrent.ConcurrentHashMap[String, Option[(Long, Long)]]()
    val input = MemoryStream[KRow]
    val out = KeyFlowTws.flow(KafkaFlowSpark.decodeKafka(input.toDF()), fold,
      config = KeyFlowConfig(maxIdle = Some(10.minutes)))
    val q = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", run.sub("checkpoint"))
      .foreachBatch { (ds: Dataset[KeyOutput[(Long, Long)]], _: Long) =>
        ds.collect().foreach(o => sink.put(o.key, o.state))
      }
      .start()

    val listener = new LayerListener(spark, tracer)
    val loop = new OpLoop(tracer)
    var warmFold = (0L, 0.0) // fold applies and seconds spent in warm-up
    try {
      (0 until WarmupBatches).foreach { b =>
        input.addData(batches(b).toSeq)
        q.processAllAvailable()
      }
      Log(s"$WarmupBatches warm-up batches done")
      if (run.trace) listener.install()
      foldMetrics.foreach(m => warmFold = (m.applyCount, m.totalDurationSeconds))
      (WarmupBatches until nBatches).foreach { b =>
        loop.op("graft.streaming.microbatch") {
          if (!q.isActive) throw new IllegalStateException("stream terminated")
          input.addData(batches(b).toSeq)
          q.processAllAvailable()
        }
      }
    } finally {
      if (run.trace) listener.uninstall()
    }
    val progress = q.recentProgress.filter(_.numInputRows > 0).drop(WarmupBatches).toSeq
    q.stop()

    // check: each key's last emitted (count, cents) is the driver's truth
    val emitted = sink.asScala
    val fed = (0 until Keys).filter(truthN(_) > 0)
    val wrong = fed.count { k =>
      !emitted.get(s"user-$k").contains(Some((truthN(k), truthC(k))))
    } + (emitted.size - fed.size).abs
    // a wrong final state cannot be pinned on one batch: every op failed
    val failed = if (wrong > 0) loop.attempted else loop.failed

    val layers =
      if (!run.trace) Map.empty[String, Double]
      else {
        val perOp = loop.windows.toSeq.map { case (a, b) => listener.window(a, b) }
        Stats.medians(perOp) ++ Stats.medians(progress.map(progressLayers)) ++
          foldMetrics.map { m =>
            val ops = math.max(loop.latMs.size, 1)
            Map("fold.applies" -> (m.applyCount - warmFold._1).toDouble / ops,
              "fold.apply_ms" -> (m.totalDurationSeconds - warmFold._2) * 1000 / ops)
          }.getOrElse(Map.empty) ++
          Map("jvm.gc_ms" -> Stats.median(loop.gcMs.toSeq))
      }
    Outcome(loop.attempted, failed, failed == 0, loop.firstOpEpochMs, loop.workS,
      loop.latMs.toSeq, layers,
      Map("check" -> s"$wrong of ${fed.size} keys wrong",
        "batches" -> s"${progress.size} steady batches of $BatchRecords records") ++
        loop.errors.headOption.map("first_error" -> _))
  }

  /** The microbatch phases and the state-store numbers of one batch. */
  private def progressLayers(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Map[String, Double] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    val op = p.stateOperators.headOption
    def cm(name: String): Double =
      op.flatMap(o => Option(o.customMetrics.get(name))).map(_.toDouble).getOrElse(0.0)
    Map(
      "stream.plan_ms" -> d.getOrElse("queryPlanning", 0.0),
      "stream.add_batch_ms" -> d.getOrElse("addBatch", 0.0),
      "stream.offset_log_ms" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
      "state.stores" -> op.map(_.numStateStoreInstances.toDouble).getOrElse(0.0),
      "state.commit_ms" -> op.map(_.commitTimeMs.toDouble).getOrElse(0.0),
      "state.sync_ms" -> cm("rocksdbCommitFileSyncLatencyMs"),
      "state.zip_ms" -> cm("rocksdbSaveZipFilesLatencyMs"),
      "state.flush_ms" -> cm("rocksdbCommitFlushLatency"),
      "state.checkpoint_ms" -> cm("rocksdbCommitCheckpointLatency"),
      "state.gets" -> cm("rocksdbGetCount"),
      "state.puts" -> cm("rocksdbPutCount"),
      "state.rows" -> op.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.bytes_copied" -> cm("rocksdbBytesCopied"),
      "timers.registered" -> cm("numRegisteredTimers"),
      "timers.deleted" -> cm("numDeletedTimers"))
  }
}

/** Zipf(s) over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: java.util.SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}
