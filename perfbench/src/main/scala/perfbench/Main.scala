package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}
import scala.collection.mutable

/** What one workload run hands back to `run.py`.
  *
  * `opMs` are the latencies of the timed ops, in order; `workS` is the wall
  * time of all of them together. `firstOpEpochMs` marks the end of set-up.
  * `layers` are the per-layer numbers (traced runs only). */
final case class Outcome(
    attempted: Int,
    failed: Int,
    correct: Boolean,
    firstOpEpochMs: Long,
    workS: Double,
    opMs: Seq[Double],
    layers: Map[String, Double],
    notes: Map[String, String])

/** Settings of one run, shared by every workload. */
final case class Run(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dir: Path,
    cores: Int,
    traceOut: Option[Path]) {
  /** A fresh directory for one part of the run, inside the run directory. */
  def sub(name: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --dir RUN_DIR --cores C [--trace-out FILE]`. Prints one line starting
  * with `PERFBENCH ` that `run.py` turns into the benchmark's result. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = Run(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toInt,
      trace = kv.get("trace").contains("1"),
      dir = Paths.get(kv("dir")).toAbsolutePath,
      cores = kv("cores").toInt,
      traceOut = kv.get("trace-out").map(Paths.get(_).toAbsolutePath))
    val body: (SparkSession, Run, Tracer) => Outcome = run.workload match {
      case "fold_stream" => FoldStream.run
      case "flush_recover" => FlushRecover.run
      case "query_suite" => QuerySuite.run
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val spark = session(run)
    Log("session ready")
    val tracer = new Tracer(run.trace)
    val out =
      try body(spark, run, tracer)
      finally {
        spark.sparkContext.setLogLevel("OFF")
        spark.stop()
      }
    run.traceOut.foreach { p => tracer.write(p); Log(s"${tracer.count} spans written to $p") }
    println("PERFBENCH " + json(out))
    System.out.flush()
  }

  /** `local[cores]` with `cores` shuffle partitions, the rule the engine's
    * own driver benchmark uses; every file Spark writes lands in the run
    * directory. */
  def session(run: Run): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${run.cores}]")
      .appName(s"perfbench-${run.workload}")
      .config("spark.sql.shuffle.partitions", run.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", run.sub("spark-local"))
      .config("spark.sql.warehouse.dir", run.sub("warehouse"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def json(o: Outcome): String =
    Json.obj(Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "correct" -> o.correct.toString,
      "first_op_epoch_ms" -> o.firstOpEpochMs.toString,
      "work_s" -> Json.num(o.workS),
      "op_ms" -> o.opMs.map(Json.num).mkString("[", ",", "]"),
      "layers" -> Json.obj(o.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "notes" -> Json.obj(o.notes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })))
}

object Log {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Small statistics over per-op samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Per-op medians of per-op maps (a key missing from an op counts 0). */
  def medians(perOp: Seq[Map[String, Double]]): Map[String, Double] = {
    val keys = perOp.flatMap(_.keys).distinct
    keys.map(k => k -> median(perOp.map(_.getOrElse(k, 0.0)))).toMap
  }
}

/** Runs the timed ops of a workload in a closed loop and keeps their
  * latencies. An op that throws is counted failed and its latency is not
  * kept. */
final class OpLoop(tracer: Tracer) {
  val latMs = mutable.ArrayBuffer.empty[Double]
  val gcMs = mutable.ArrayBuffer.empty[Double]
  val windows = mutable.ArrayBuffer.empty[(Double, Double)]
  var attempted = 0
  var failed = 0
  var firstOpEpochMs = 0L
  private var workNs = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def op(name: String)(body: => Unit): Boolean = {
    if (attempted == 0) firstOpEpochMs = System.currentTimeMillis()
    attempted += 1
    val w0 = tracer.nowMs
    val gc0 = Layers.gcMs
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(name)(body); true }
      catch { case e: Throwable =>
        failed += 1
        errors += s"$name: $e"
        System.err.println(s"[perfbench] op $name failed: $e")
        false
      }
    val ns = System.nanoTime() - t0
    workNs += ns
    if (ok) {
      latMs += ns / 1e6
      windows += ((w0, tracer.nowMs))
      gcMs += (Layers.gcMs - gc0).toDouble
    }
    ok
  }

  /** An op that returned but whose output check failed. */
  def markFailed(msg: String): Unit = {
    failed = math.min(failed + 1, attempted)
    errors += msg
    System.err.println(s"[perfbench] check failed: $msg")
  }

  def workS: Double = workNs / 1e9
}
