package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.graft.ListenerDrain
import scala.collection.mutable

/** Per-STAGE wall/cpu profile of one query (test scope — never ships).
  *
  * Usage: Test/runMain graft.tools.StageProfile <sfDir> <query> [minSec]
  * Warms once, runs once recording, prints every stage of the recorded
  * pass with wall time, summed task run time, task count, and the stage
  * name (callsite) — the "which operator is the single-threaded wall"
  * view that job-level numbers hide. Same session as WarmBench
  * ([[ProfileSession]], SPARK_GRAFT_CONF extras included).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: StageProfile <sfDir> <query> [minSec]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val q = args(1)
    val minSec = args.lift(2).map(_.toDouble).getOrElse(0.1)
    val spark = ProfileSession()

    case class St(id: Int, name: String, submitted: Long,
                  var completed: Long = 0L, var taskMs: Long = 0L,
                  var cpuMs: Long = 0L, var tasks: Int = 0, var maxTaskMs: Long = 0L)
    val stages = mutable.LinkedHashMap[Int, St]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (recording) stages.synchronized {
          val scopes = e.stageInfo.rddInfos
            .flatMap(_.scope).map(_.name).distinct.mkString("|")
          stages(e.stageInfo.stageId) =
            St(e.stageInfo.stageId, scopes, System.currentTimeMillis())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.get(e.stageInfo.stageId).foreach { s =>
            s.completed = System.currentTimeMillis()
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          stages.get(e.stageId).foreach { s =>
            s.tasks += 1
            if (e.taskMetrics != null) {
              val ms = e.taskMetrics.executorRunTime
              s.taskMs += ms
              s.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
              if (ms > s.maxTaskMs) s.maxTaskMs = ms
            }
          }
        }
    })

    def run(): Unit = graft.SparkEntry.queries(q)(spark, sfDir).count()
    run() // warm
    recording = true
    val t0 = System.nanoTime()
    run()
    val wall = (System.nanoTime() - t0) / 1e9
    recording = false
    ListenerDrain.drain(spark.sparkContext) // let late listener events land
    println(f"STAGEPROFILE $q wall $wall%.3f s")
    val all = stages.synchronized(stages.values.toSeq)
    all.filter(s => (s.completed - s.submitted) / 1e3 >= minSec)
      .foreach { s =>
        println(f"  stage ${s.id}%4d wall=${(s.completed - s.submitted) / 1e3}%7.3f " +
          f"taskSum=${s.taskMs / 1e3}%7.3f cpu=${s.cpuMs / 1e3}%7.3f " +
          f"maxTask=${s.maxTaskMs / 1e3}%6.3f n=${s.tasks}%3d  ${s.name.take(110)}")
      }
    spark.stop()
  }
}
