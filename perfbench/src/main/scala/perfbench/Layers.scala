package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One call into a layer. Times are epoch milliseconds; `parent` is the id
  * of the span that caused it, or 0 at the top. `driver` marks the spans the
  * harness opened on its own thread. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
    driver: Boolean)

/** Spans kept in memory for the whole run and written once at exit.
  *
  * The driver thread opens nested spans around each call the benchmark
  * makes into a layer ([[span]]). Spans observed from the outside (Spark
  * jobs, stages and Catalyst phases, which arrive on the listener thread)
  * are added with [[add]] and get their parent at [[write]] time: the
  * innermost driver span whose interval holds their start. */
final class Tracer(val enabled: Boolean) {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        (id, open.headOption.getOrElse(0))
      }
      open = id :: open
      val t0 = nowMs
      try body
      finally {
        open = open.tail
        val t1 = nowMs
        synchronized { spans += Span(id, parent, name, t0, t1, driver = true) }
      }
    }

  /** A span seen from outside the driver thread; `parent` < 0 means "the
    * driver span that holds its start". Returns its id. */
  def add(name: String, startMs: Double, endMs: Double, parent: Int = -1): Int =
    if (!enabled) 0
    else synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, name, startMs, endMs, driver = false)
      id
    }

  def count: Int = synchronized(spans.size)

  def write(path: java.nio.file.Path): Unit = synchronized {
    val driver = spans.filter(_.driver)
    def holder(t: Double): Int = // innermost = shortest enclosing driver span
      driver.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
    val resolved = spans.map(s => if (s.parent < 0) s.copy(parent = holder(s.startMs)) else s)
    val sb = new StringBuilder("{\"spans\":[\n")
    resolved.sortBy(_.startMs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    }
    sb.append("\n]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark's driver and scheduler, seen through its listener buses: one
  * [[SparkListener]] for jobs, stages and task metrics, one
  * [[QueryExecutionListener]] for the Catalyst phases of each action.
  * Self-contained: it needs only a session and a [[Tracer]], and reports
  * per-window numbers through [[window]]. */
final class LayerListener(spark: SparkSession, tracer: Tracer)
    extends SparkListener with QueryExecutionListener {

  private final class StageAgg {
    var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var inBytes = 0L; var inRows = 0L
  }
  private final case class JobRec(startMs: Double, stages: Seq[Int], var endMs: Double)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val stageTimes = mutable.Map.empty[Int, (Double, Double)]
  private val phases = mutable.ArrayBuffer.empty[(Double, Double)]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.time.toDouble, e.stageIds, Double.NaN)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time.toDouble
      val id = tracer.add("spark.job", j.startMs, j.endMs)
      j.stages.flatMap(s => stageTimes.get(s)).foreach { case (a, b) =>
        tracer.add("spark.stage", a, b, parent = id)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageTimes(i.stageId) = (s.toDouble, c.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
    }
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      tracer.add(s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  /** Scheduler numbers for the jobs that started inside [startMs, endMs]. */
  def window(startMs: Double, endMs: Double): Map[String, Double] = synchronized {
    val js = jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
    def clip(iv: Seq[(Double, Double)]) =
      iv.map { case (a, b) => (math.max(a, startMs), math.min(if (b.isNaN) endMs else b, endMs)) }
        .filter { case (a, b) => b > a }
    val jobIv = clip(js.map(j => (j.startMs, j.endMs)))
    val catIv = clip(phases.toSeq)
    val inJob = Layers.unionMs(jobIv)
    val wall = endMs - startMs
    val taskMs = ss.map(_.taskMs).sum.toDouble
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.catalyst_ms" -> catIv.map { case (a, b) => b - a }.sum,
      "spark.in_job_ms" -> inJob,
      "spark.outside_job_ms" -> math.max(0.0, wall - Layers.unionMs(jobIv ++ catIv)),
      "spark.slot_busy" ->
        (if (inJob > 0) taskMs / (inJob * spark.sparkContext.defaultParallelism) else 0.0),
      "spark.task_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6,
      "spark.task_gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "spark.shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
      "scan.bytes" -> ss.map(_.inBytes).sum.toDouble,
      "scan.rows" -> ss.map(_.inRows).sum.toDouble)
  }
}

object Layers {
  /** Total length covered by a set of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Total collection time of every JVM collector so far, in ms. */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }
}
