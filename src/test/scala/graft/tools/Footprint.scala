package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query executor-memory footprint probe (test scope) — the
  * cluster-relevant numbers obtainable on a single host: total shuffle
  * bytes written/read, memory/disk spill bytes, and the MAX per-task
  * peakExecutionMemory, summed over every task a query runs (collected
  * from SparkListener task-end events, drained via the listener-bus shim
  * before attribution). A query whose peak task memory or shuffle volume
  * grows super-linearly with the corpus is a cluster OOM/network
  * bottleneck in the making even when its single-host wall time looks
  * sub-linear — SCALING.md records these at x1 and x30 alongside the
  * wall-time slopes.
  *
  * Usage: sbt "Test/runMain graft.tools.Footprint <sfDir> [query ...]"
  * (no query names = every declared query). Writes FOOTPRINT.json in the
  * working directory and prints one row per query.
  */
object Footprint {

  private class Acc extends SparkListener {
    var shufWrite = 0L; var shufRead = 0L
    var memSpill = 0L; var diskSpill = 0L
    var peak = 0L; var tasks = 0L
    // skew axis: the HOTTEST single task's shuffle read and wall. Totals
    // can scale perfectly while one key concentrates — on a cluster that
    // one task IS the straggler wall, invisible in sums and in local wall
    // time (31 other cores hide it). Reported as maxima; the companion
    // ratio in SCALING.md is maxTaskShufRead / (shufRead / tasks).
    var maxTaskShufRead = 0L; var maxTaskMs = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      if (m != null) {
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        shufRead += m.shuffleReadMetrics.totalBytesRead
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        peak = math.max(peak, m.peakExecutionMemory)
        maxTaskShufRead = math.max(maxTaskShufRead, m.shuffleReadMetrics.totalBytesRead)
        maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
        tasks += 1
      }
    }
    def reset(): Unit = synchronized {
      shufWrite = 0L; shufRead = 0L; memSpill = 0L; diskSpill = 0L
      peak = 0L; tasks = 0L; maxTaskShufRead = 0L; maxTaskMs = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).toSet
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    require(!master.startsWith("local-cluster") ||
      sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at the Spark distro for local-cluster " +
        "masters (executor launch) — without it every query stalls and " +
        "fails opaquely inside the per-query catch")
    val b = SparkSession.builder()
      .master(master)
      // overridable so xN runs can hold BYTES-PER-PARTITION constant
      // instead of partition COUNT — the knob that distinguishes "a hot
      // key grows per-task state" (real hazard) from "corpus/32 grows
      // because 32 is pinned" (local artifact a cluster's AQE target
      // size removes)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_MASTER=local-cluster[n,c,m] measures per-task metrics
    // on REAL forked executor JVMs (needs SPARK_HOME + the heap the
    // workers were sized for; see LocalClusterParity). The TaskEnd
    // metrics the Acc listener reads arrive identically — they ride the
    // driver's listener bus regardless of where the task ran.
    val spark = (if (!master.startsWith("local-cluster")) b
      else b
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
        .config("spark.executor.extraClassPath",
          graft.LocalClusterEnv.absoluteClasspath)
        .config("spark.executor.extraJavaOptions",
          graft.LocalClusterEnv.executorJavaOptions)
      ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // r14 (judge #1): the runtime plan sweep runs here too — the x30/x90
    // scale corpora execute cap-gated legs (hot-bucket guards, engaged
    // pre-cuts) that never engage at Verify's sf0.01, so their executed
    // plans were the sweep's remaining blind spot. Labels = query names,
    // so the SAME allowlists govern (one contract, every enforcement
    // point); the artifact path carries the corpus name for the merged
    // RUNTIME_SWEEP_x30.json close-out step.
    graft.RuntimeSweep.install(spark)
    // same amortized prebuilds as Bench, so footprints measure the query.
    // The IVF prebuild is q_ann_ivf's construction-time subplan (its
    // bounded sample-cap sort is the allowlisted q_ann_ivf pattern), so
    // it sweeps under that label; the other prebuilds are clean scans.
    // drain BETWEEN the label switches too: listener callbacks are
    // asynchronous, so without a drain the IVF prebuild's allowlisted
    // window subplan can be delivered under the NEXT label (which has
    // no matching allowlist entry) and fail the scale gate spuriously
    graft.RuntimeSweep.label = "q_topk"
    try SparkEntry.queries.get("q_topk").foreach(_(spark, dir).count())
    catch { case _: Throwable => () }
    graft.RuntimeSweep.drain(spark)
    graft.RuntimeSweep.label = "q_ann_ivf"
    try graft.operators.IvfIndex.getOrBuild(dir,
      Tables(spark, dir, "embeddings"), "embedding", nlist = 16, seed = 42L)
    catch { case _: Throwable => () }
    graft.RuntimeSweep.drain(spark)
    graft.RuntimeSweep.label = "q_journal_decode"
    try graft.queries.JournalFixture.encoded(spark, dir).count()
    catch { case _: Throwable => () }
    graft.RuntimeSweep.drain(spark)

    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    val out = new StringBuilder
    println(f"${"query"}%-28s ${"shuf_write"}%12s ${"shuf_read"}%12s " +
      f"${"spill_mem"}%12s ${"spill_disk"}%12s ${"peak_task_mem"}%14s ${"tasks"}%7s " +
      f"${"max_task_read"}%13s ${"max_task_ms"}%11s")
    names.foreach { name =>
      // drain pending events from the previous query, then reset — the
      // eager checkpoints some queries run during CONSTRUCTION belong to
      // the query being measured, so reset happens before construction
      ListenerDrain.drain(spark.sparkContext)
      graft.RuntimeSweep.label = name
      acc.reset()
      val ok =
        try { SparkEntry.queries(name)(spark, dir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[footprint] $name FAILED: ${e.getMessage}"); false
        }
      ListenerDrain.drain(spark.sparkContext)
      if (ok) {
        println(f"$name%-28s ${acc.shufWrite}%12d ${acc.shufRead}%12d " +
          f"${acc.memSpill}%12d ${acc.diskSpill}%12d ${acc.peak}%14d ${acc.tasks}%7d " +
          f"${acc.maxTaskShufRead}%13d ${acc.maxTaskMs}%11d")
        if (out.nonEmpty) out.append(",")
        out.append(s""""$name":{"shuffle_write":${acc.shufWrite},"shuffle_read":${acc.shufRead},"spill_mem":${acc.memSpill},"spill_disk":${acc.diskSpill},"peak_task_mem":${acc.peak},"tasks":${acc.tasks},"max_task_shuffle_read":${acc.maxTaskShufRead},"max_task_ms":${acc.maxTaskMs}}""")
      }
    }
    val json = s"""{"sf":"$dir","queries":{${out.toString}}}"""
    // cluster-mode runs write FOOTPRINT_cluster.json: peak_task_mem
    // carries the executor-heap page quantum (CLAUDE.md's -Xmx8g rule),
    // so a small-heap cluster probe must never become the ratchet basis
    // that tools/ratchet.py's footprint row records — the same clobber
    // class as the sweep artifact below
    val fpPath =
      if (master.startsWith("local-cluster")) "FOOTPRINT_cluster.json"
      else "FOOTPRINT.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fpPath), json + "\n")
    println(s"$fpPath written (${names.size} queries, sf=$dir)")
    // scale-mode sweep artifact: one file per Footprint invocation,
    // named by the corpus, merged into RUNTIME_SWEEP_x30.json by
    // tools/merge_sweeps.py at close-out
    graft.RuntimeSweep.drain(spark)
    // getFileName, not a regex over the raw string: a trailing slash
    // (tab completion) would otherwise name the artifact
    // RUNTIME_SWEEP_footprint_.json and the close-out merge would read
    // the previous round's committed file instead
    val corpus = java.nio.file.Paths.get(dir).getFileName.toString
    // cluster-mode runs get their own artifact name: a 2-query
    // local-cluster probe must never clobber the committed full-set
    // sweep file the close-out merge reads
    val modeSuffix = if (master.startsWith("local-cluster")) "_cluster" else ""
    val sweepPath = s"RUNTIME_SWEEP_footprint_$corpus$modeSuffix.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sweepPath), graft.RuntimeSweep.reportJson())
    println(s"[footprint] runtime sweep: ${graft.RuntimeSweep.executionsTotal} " +
      s"executed subplans, ${graft.RuntimeSweep.unexplainedTotal} unexplained, " +
      s"${graft.RuntimeSweep.detectorErrorsTotal} detector errors -> $sweepPath")
    spark.stop()
  }
}
