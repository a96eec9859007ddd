package graft

import org.apache.spark.sql.functions._

/** Pins the r13 runtime-sweep plumbing end-to-end on the live listener
  * bus: a planted checkpoint-broadcast hazard in a CONSTRUCTION-TIME
  * style action is recorded under the current label, a clean action is
  * counted but not flagged, and the pre-AQE tree is the one swept (the
  * planted broadcast is an explicit `broadcast()` hint, visible in
  * sparkPlan regardless of AQE's runtime choices). r14 adds the failure
  * channel: a THROWING detector is counted in the label's `errors`
  * bucket and flips the report status to FAIL (ADVICE — a silent
  * swallow degraded the sweep to a clean-looking pass). The spec
  * uninstalls the listener and clears sweep state in a finally block so
  * later suites on the shared session don't accumulate under a stale
  * label (ADVICE). The full-surface proof is Verify's own run
  * (RUNTIME_SWEEP.json); this spec keeps the listener honest at unit
  * grain. */
class RuntimeSweepSpec extends SparkTestBase {

  test("planted checkpoint-broadcast hazard is recorded under the active label; clean actions are counted, not flagged") {
    val s = spark
    import s.implicits._
    try {
      RuntimeSweep.install(s)
      RuntimeSweep.install(s) // idempotent: a double install must not double-count

      val ckpt = s.range(500)
        .select($"id".as("k"), concat(lit("v"), $"id").as("v"))
        .localCheckpoint(true)
      val big = s.range(2000).select(($"id" % 500).as("k"), $"id".as("x"))

      RuntimeSweep.label = "rs_spec_hazard"
      // broadcast build directly over the raw checkpointed scan — the
      // q_lm_score class, planted deliberately
      big.join(broadcast(ckpt), Seq("k")).count()
      RuntimeSweep.drain(s)

      RuntimeSweep.label = "rs_spec_clean"
      // same join hash-built: the approved shape, must not flag
      big.join(ckpt.hint("shuffle_hash"), Seq("k")).count()
      RuntimeSweep.drain(s)

      RuntimeSweep.label = "(rs_spec_done)"
      val json = RuntimeSweep.reportJson()
      assert(json.contains("\"rs_spec_hazard\""), json)
      val hazard = json.split("\"rs_spec_hazard\"")(1).takeWhile(_ != '}')
      assert(hazard.contains("bcast-rdd: BroadcastHashJoin builds over"),
        s"hazard not recorded: $hazard")
      val clean = json.split("\"rs_spec_clean\"")(1).takeWhile(_ != '}')
      assert(clean.contains("\"executions\": 1"),
        s"clean action not counted EXACTLY once (double install?): $clean")
      assert(!clean.contains("bcast-rdd"), s"clean action flagged: $clean")
    } finally RuntimeSweep.uninstall(s)
  }

  test("a throwing detector is counted as a detector error and fails the report status") {
    val s = spark
    import s.implicits._
    try {
      RuntimeSweep.label = "rs_spec_throwing"
      val df = s.range(10).select($"id")
      df.count()
      // drive recordWith directly with one healthy and one throwing
      // detector — the seam record() itself delegates through
      RuntimeSweep.recordWith(df.queryExecution,
        smjFn = _ => throw new IllegalStateException("planted detector crash"),
        bcFn = PlanAudit.broadcastOverRddScan,
        winFn = PlanAudit.windowOverSinglePartitionNodes)
      val json = RuntimeSweep.reportJson()
      assert(json.contains("\"status\": \"FAIL\""), json)
      assert(json.contains("\"detector_errors\": 1"), json)
      val row = json.split("\"rs_spec_throwing\"")(1).takeWhile(_ != '}')
      assert(row.contains("detector smjArrayCols: IllegalStateException"),
        s"error not attributed to the detector: $row")
      // the execution is still counted — an erroring sweep must not
      // silently shrink executions_total
      assert(row.contains("\"executions\": 1"), row)
    } finally RuntimeSweep.uninstall(s)
  }

  test("install on a SECOND session registers there too — no vacuous-pass no-op (r15 ADVICE)") {
    // ExecutionListenerManager is per-SparkSession: with the old JVM-global
    // install guard, the second session's install was a silent no-op, its
    // actions were never swept, and reportJson() showed PASS with ~0
    // executions. The per-session registry must sweep both.
    val s1 = spark
    val s2 = spark.newSession()
    try {
      RuntimeSweep.install(s1)
      RuntimeSweep.install(s2)
      RuntimeSweep.install(s2) // still idempotent per session
      // an earlier suite's action on the shared context can still be on
      // the listener bus; delivered now, it would count under this label
      RuntimeSweep.drain(s1)

      RuntimeSweep.label = "rs_spec_second_session"
      s2.range(100).count()
      RuntimeSweep.drain(s2)
      val json = RuntimeSweep.reportJson()
      val row = json.split("\"rs_spec_second_session\"")
      assert(row.length > 1, s"second session's action not swept: $json")
      assert(row(1).takeWhile(_ != '}').contains("\"executions\": 1"),
        s"second session's action not counted exactly once: $json")
    } finally {
      RuntimeSweep.uninstall(s2)
      RuntimeSweep.uninstall(s1)
    }
  }

  test("label (off) suppresses recording — the deliberate-baseline seam for A/B tools") {
    val s = spark
    import s.implicits._
    try {
      RuntimeSweep.label = "(off)"
      val df = s.range(10).select($"id")
      RuntimeSweep.recordWith(df.queryExecution,
        PlanAudit.smjArrayCols, PlanAudit.broadcastOverRddScan,
        PlanAudit.windowOverSinglePartitionNodes)
      assert(!RuntimeSweep.reportJson().contains("(off)"),
        RuntimeSweep.reportJson())
    } finally RuntimeSweep.uninstall(s)
  }
}
