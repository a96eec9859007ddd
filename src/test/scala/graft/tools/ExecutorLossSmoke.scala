package graft.tools

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import java.util.concurrent.atomic.AtomicInteger

/** Executor-LOSS recovery gate (test scope) — the third leg of the
  * multi-executor evidence (LocalClusterParity = batch parity,
  * LocalClusterStreamSmoke = streaming parity, this = fault tolerance).
  *
  * On a `local-cluster[2,4,3072]` (two REAL executor JVMs), a
  * shuffle-heavy declared query runs to a baseline checksum; then the
  * same query is re-run while this process `kill -9`s one executor JVM
  * mid-flight. Losing an executor without an external shuffle service
  * loses its shuffle files too, so the scheduler must both retry the
  * dead tasks AND resubmit parent stages on FetchFailed — the exact
  * recovery path a 1000-executor job exercises weekly. The smoke
  * asserts:
  *
  *   1. the interrupted run completes and its checksum is BIT-EXACT
  *      equal to the baseline (no lost or double-counted partition);
  *   2. an executor was genuinely removed mid-job (listener-counted) —
  *      if the kill landed after completion the attempt is VOID and
  *      retried, so the pass cannot be vacuous;
  *   3. the standalone Worker replaced the dead executor (the cluster
  *      heals back to 2).
  *
  * Run via java -cp with SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  * (see LocalClusterParity's scaladoc for why sbt's fork env is not
  * enough). Executor pids are found as this JVM's direct children
  * running CoarseGrainedExecutorBackend (the in-process Workers fork
  * them), so the kill targets exactly one victim process.
  */
object ExecutorLossSmoke {

  private def executorPids(): Seq[Long] = graft.LocalClusterEnv.executorPids()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queryName = args.lift(1).getOrElse("q_minhash_lsh")
    // optional 3rd arg: reliable checkpoint dir (Lineage.ConfKey). With
    // it, iterative queries (connected components, BPE) survive the
    // kill even when the victim held mid-iteration checkpoint blocks —
    // the executor-loss story for the lineage-cut seam; without it,
    // local-checkpoint blocks on the victim are unrecoverable by
    // design (Spark's documented localCheckpoint caveat).
    val ckptDir = args.lift(2)
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at the Spark distro (executor launch)")
    val b0 = SparkSession.builder()
      .master("local-cluster[2,4,3072]")
    val spark = ckptDir.fold(b0)(d =>
        b0.config(graft.operators.Lineage.ConfKey, d))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.default.parallelism", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", "2g")
      .config("spark.executor.extraClassPath",
        graft.LocalClusterEnv.absoluteClasspath)
      .config("spark.executor.extraJavaOptions",
        graft.LocalClusterEnv.executorJavaOptions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val removed = new AtomicInteger(0)
    val failedTasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.reason != Success) { failedTasks.incrementAndGet() }; ()
      }
    })

    def checksum(): String = {
      val df = graft.SparkEntry.queries(queryName)(spark, sfDir)
      // canonicalize float/double columns to 9 significant digits before
      // hashing (same slack as LocalClusterParity.fmtDouble): a kill
      // reorders shuffle-fetch arrival, so a float aggregate's last-ulp
      // reassociation difference must not read as "recovery broken".
      // Top-level and array<float/double> are handled; a float nested
      // deeper (struct/map) is hashed raw — warn so a MISMATCH on such
      // a query is read as possible reassociation, not broken recovery.
      import org.apache.spark.sql.types._
      // `+ 0.0` before formatting: IEEE -0.0 + 0.0 = +0.0 (NaN/Inf pass
      // through), so negative zero canonicalizes to "0.000000000e+00" —
      // matching LocalClusterParity.fmtDouble; without it a -0.0 vs 0.0
      // divergence between baseline and kill run would read as a
      // recovery MISMATCH (r15 ADVICE)
      val cols = df.schema.fields.toIndexedSeq.map { f =>
        f.dataType match {
          case DoubleType | FloatType =>
            org.apache.spark.sql.functions.format_string(
              "%.9e", col(f.name).cast("double") +
                org.apache.spark.sql.functions.lit(0.0))
          case ArrayType(DoubleType | FloatType, _) =>
            org.apache.spark.sql.functions.transform(col(f.name),
              x => org.apache.spark.sql.functions.format_string(
                "%.9e", x.cast("double") +
                  org.apache.spark.sql.functions.lit(0.0)))
          case dt =>
            // exact type-tree walk, not a dt.sql substring grep (a field
            // NAMED float_ratio must not trip the warning)
            def hasFloat(t: DataType): Boolean = t match {
              case DoubleType | FloatType => true
              case ArrayType(e, _) => hasFloat(e)
              case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
              case s: StructType => s.fields.exists(x => hasFloat(x.dataType))
              case _ => false
            }
            if (hasFloat(dt))
              System.err.println(s"[execloss] WARN: column ${f.name} " +
                s"(${dt.sql}) nests floats beyond canonicalization — a " +
                "MISMATCH here may be float reassociation, not recovery")
            col(f.name)
        }
      }
      val r = df.select(xxhash64(cols: _*).as("__h"))
        .agg(expr("count(*)").as("n"), expr("bit_xor(__h)").as("x")).head()
      s"${r.get(0)}:${r.get(1)}"
    }

    // warm + baseline (also waits out executor registration)
    val baseline = checksum()
    println(s"[execloss] baseline $queryName = $baseline " +
      s"(executor pids: ${executorPids().mkString(",")})")

    var verdict: Option[Boolean] = None
    var attempt = 0
    while (verdict.isEmpty && attempt < 5) {
      attempt += 1
      // the Worker respawns a replacement after a kill; wait for 2 live
      // executor JVMs so every attempt starts from the healed cluster
      var waited = 0
      while (executorPids().size < 2 && waited < 120) {
        Thread.sleep(1000); waited += 1
      }
      val pids = executorPids()
      require(pids.size >= 2, s"cluster did not heal: executors=$pids")
      // drain the async listener bus before AND after the attempt: a
      // straggler event from the previous kill otherwise lands inside
      // this attempt's delta (validating a post-completion kill), and a
      // just-finished attempt's events may not have been delivered yet
      // (voiding a genuinely valid one)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val removedBefore = removed.get()
      val failedBefore = failedTasks.get()

      @volatile var result: Option[String] = None
      @volatile var error: Option[Throwable] = None
      val t = new Thread(() =>
        try result = Some(checksum())
        catch { case e: Throwable => error = Some(e) })
      t.start()
      // kill one executor only while tasks are ACTUALLY RUNNING — an
      // idle-victim kill proves nothing about task retry / FetchFailed
      val tracker = spark.sparkContext.statusTracker
      var polls = 0
      def runningTasks(): Int =
        tracker.getExecutorInfos.map(_.numRunningTasks()).sum
      while (runningTasks() < 4 && polls < 600 && t.isAlive) {
        Thread.sleep(10); polls += 1
      }
      val victim = pids.head
      Runtime.getRuntime.exec(Array("kill", "-9", victim.toString)).waitFor()
      t.join(300000)
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      val removedDuring = removed.get() - removedBefore
      val failedDuring = failedTasks.get() - failedBefore

      (result, error) match {
        case (Some(r), _) if removedDuring > 0 && failedDuring > 0 =>
          val ok = r == baseline
          println(s"[execloss] attempt $attempt: killed pid $victim mid-job " +
            s"(executors removed: $removedDuring, tasks failed+retried: " +
            s"$failedDuring); checksum ${if (ok) "MATCHES" else
              s"MISMATCH got $r want $baseline"}")
          verdict = Some(ok)
        case (Some(_), _) =>
          println(s"[execloss] attempt $attempt: kill landed " +
            s"${if (removedDuring == 0) "after completion"
              else "on an idle victim (no in-flight tasks lost)"} — " +
            "void, retrying")
        case (None, Some(e)) =>
          println(s"[execloss] attempt $attempt: query FAILED after kill — " +
            s"recovery broken: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
          verdict = Some(false)
        case (None, None) =>
          println(s"[execloss] attempt $attempt: query hung after kill")
          verdict = Some(false)
      }
    }

    // healing check: the Worker must have replaced the victim
    var waited = 0
    while (executorPids().size < 2 && waited < 60) { Thread.sleep(1000); waited += 1 }
    val healed = executorPids().size >= 2
    if (verdict.isEmpty) {
      // every attempt was void (kill never landed on in-flight tasks) —
      // NOTHING WAS TESTED. Exit 2, not 1: automation must distinguish
      // "recovery broken" from "query too fast for the kill to land;
      // rerun with a heavier query or bigger sfDir"
      println("EXECUTOR_LOSS_OK=void (all attempts void — no mid-job " +
        "kill landed; use a longer-running query)")
      spark.stop()
      sys.exit(2)
    }
    val ok = verdict.contains(true) && healed
    println(s"EXECUTOR_LOSS_OK=$ok (verdict=${verdict.get}, " +
      s"healed=$healed, totalExecutorsRemoved=${removed.get()}, " +
      s"failedTasks=${failedTasks.get()})")
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
