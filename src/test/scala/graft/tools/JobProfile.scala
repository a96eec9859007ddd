package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.graft.ListenerDrain
import scala.collection.mutable

/** Per-job wall-time profile of one query (test scope — never ships).
  *
  * Usage: sbt "Test/runMain graft.tools.JobProfile <sfDir> <query> [runs]"
  * Warms with one untimed pass, then times `runs` passes (default 1) and
  * prints every Spark job of the LAST pass with its duration, stage count,
  * task count, and its call site (its result stage's name; an adaptive
  * query stage's job names the thread pool that submitted it) — the
  * stage-level view WarmBench's single number hides. Same session as
  * WarmBench ([[ProfileSession]], SPARK_GRAFT_CONF extras included).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    // both args required (the StageProfile convention): a missing arg must
    // print usage, not an ArrayIndexOutOfBoundsException (r15 advice)
    if (args.length < 2) {
      System.err.println("usage: JobProfile <sfDir> <query> [runs]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val q = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = ProfileSession()

    case class Job(id: Int, desc: String, start: Long,
                   var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap[Int, Job]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        // the result stage (the job's last) is named after the job's call site
        val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, site, e.time,
            stages = e.stageInfos.size,
            tasks = e.stageInfos.map(_.numTasks).sum)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    }
    spark.sparkContext.addSparkListener(listener)

    def run(): Unit = graft.SparkEntry.queries(q)(spark, sfDir).count()
    run() // warm
    var lastSec = 0.0
    for (i <- 1 to runs) {
      jobs.synchronized(jobs.clear())
      recording = true
      val t0 = System.nanoTime()
      run()
      lastSec = (System.nanoTime() - t0) / 1e9
      recording = false
      println(f"JOBPROFILE $q run$i ${lastSec}%.3f s")
    }
    ListenerDrain.drain(spark.sparkContext) // let late listener events land
    spark.sparkContext.removeSparkListener(listener)
    val all = jobs.synchronized(jobs.values.toSeq)
    val acct = all.map(j => (j.end - j.start) / 1e3).sum
    println(f"JOBPROFILE jobs=${all.size} accounted=${acct}%.3f s (wall $lastSec%.3f)")
    all.foreach { j =>
      println(f"  job ${j.id}%3d ${(j.end - j.start) / 1e3}%7.3f s  " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc}")
    }
    spark.stop()
  }
}
