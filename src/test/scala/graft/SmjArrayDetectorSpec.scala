package graft

import org.apache.spark.sql.functions._

/** [[PlanAudit.smjArrayCols]] underpins the 193-row global payload-sort
  * sweep — it must flag a SortMergeJoin that would sort array columns,
  * stay silent when the join is hash-built or broadcast (the r11
  * discipline's approved shapes), and stay silent when column pruning
  * already keeps the arrays out of the join's output. Exercised on real
  * planned trees, not plan strings. */
class SmjArrayDetectorSpec extends SparkTestBase {

  private def sides = {
    import spark.implicits._
    val a = (1 to 50).map(i => (i.toLong, Array.fill(8)(i.toLong))).toDF("id", "arr_a")
    val b = (1 to 50).map(i => (i.toLong, Array.fill(8)(i * 2L))).toDF("id", "arr_b")
    (a, b)
  }

  private def cols(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanAudit.smjArrayCols(df.queryExecution.sparkPlan)

  test("merge-hinted join carrying arrays through the sort is flagged with the column names") {
    val (a, b) = sides
    val joined = a.hint("merge").join(b.hint("merge"), "id")
    val flagged = cols(joined)
    assert(flagged.contains("arr_a") && flagged.contains("arr_b"),
      s"expected both array payloads flagged, got $flagged")
  }

  test("shuffle_hash build (the approved re-attach shape) is clean") {
    val (a, b) = sides
    assert(cols(a.join(b.hint("shuffle_hash"), "id")).isEmpty)
  }

  test("broadcast build is clean") {
    val (a, b) = sides
    assert(cols(a.join(broadcast(b), "id")).isEmpty)
  }

  test("merge join whose output prunes the arrays is clean (nothing array-typed is sorted above the join)") {
    val (a, b) = sides
    val pruned = a.hint("merge").join(b.hint("merge"), "id").select("id")
    assert(cols(pruned).isEmpty)
  }

  // ---- broadcastOverRddScan (the r12 checkpoint-broadcast sweep) ----

  private def bcast(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanAudit.broadcastOverRddScan(df.queryExecution.sparkPlan)

  /** A checkpointed table whose LogicalRDD carries a size-only ESTIMATE
    * (no rowCount) — the production shape: corpus checkpoints descend
    * from parquet scans / joins / aggregates, whose size-only stats
    * visitor never sets rowCount. A bare LocalRelation checkpoint would
    * carry an exact rowCount (driver literals know their size) and
    * correctly read as measured under the r15 refinement — useless as a
    * planted unmeasured-stats hazard. */
  private def estCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ck = df.distinct().localCheckpoint(true)
    assert(ck.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
      "fixture must model estimate-only checkpoint stats")
    ck
  }

  test("broadcast build over a raw checkpointed table is flagged") {
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val ck = estCheckpoint(
      (1 to 500).map(i => (i.toLong, s"w$i")).toDF("id", "w"))
    val flagged = bcast(big.join(broadcast(ck), "id"))
    assert(flagged.nonEmpty, "a broadcast build whose subtree is a bare " +
      "ExistingRDD scan (unreliable stats, corpus-sized in house usage) must flag")
  }

  test("a broadcast build over an EXACT-stats checkpoint scan is measured-size adaptivity (clean, r15)") {
    // the reliable Lineage.cut path (persist -> checkpoint) stamps the
    // LogicalRDD with the cache's measured statistics — rowCount
    // included, which nothing else sets with CBO off. A broadcast the
    // planner picks from a MEASURED size re-makes itself correctly at
    // any scale (a 100 TB table measures big and shuffles), so the
    // detector must not flag it; the localCheckpoint twin above (size
    // estimate only, no rowCount) must still flag.
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dir = tempDir("bcast-exact").toString
    spark.conf.set(graft.operators.Lineage.ConfKey, dir)
    try {
      val ck = graft.operators.Lineage.cut(
        (1 to 500).map(i => (i.toLong, s"w$i")).toDF("id", "w"))
      assert(ck.queryExecution.optimizedPlan.stats.rowCount.isDefined,
        "precondition: reliable cut must carry measured rowCount stats")
      assert(bcast(big.join(broadcast(ck), "id")).isEmpty,
        "a broadcast over measured-exact checkpoint stats is scale-safe " +
          "adaptivity and must not flag")
    } finally spark.conf.unset(graft.operators.Lineage.ConfKey)
  }

  test("a GLOBAL aggregate or a limit between the build and the checkpointed scan bounds it (clean)") {
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val ck = (1 to 500).map(i => (i.toLong, s"w$i")).toDF("id", "w")
      .localCheckpoint(true)
    val globalAgg = ck.agg(max("id").as("id")) // 1 row by construction
    assert(bcast(big.join(broadcast(globalAgg), "id")).isEmpty)
    val limited = ck.limit(5)
    assert(bcast(big.join(broadcast(limited), "id")).isEmpty)
  }

  test("a KEYED aggregate does NOT bound the build (as big as its key cardinality)") {
    // the r12 review's false-negative: lmScore's own c1 = groupBy(__w1)
    // is vocabulary-sized and grows with the corpus — 'any aggregate
    // bounds' would have blessed the exact hazard the sweep exists for
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val ck = estCheckpoint(
      (1 to 500).map(i => (i.toLong, s"w$i")).toDF("id", "w"))
    val keyed = ck.groupBy("id").agg(count(lit(1)).as("n"))
    assert(bcast(big.join(broadcast(keyed), "id")).nonEmpty)
  }

  test("flag descriptions carry the build's output columns — the allowlist patterns match on them") {
    // PlanAudit.main's allowlists bless ONLY the documented build (r12
    // ADVICE: a bare nonEmpty check masked new hazards); that only works
    // while the description stays `kind builds over node[col,col,...]`.
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val ck = estCheckpoint(
      (1 to 500).map(i => (i.toLong, s"w$i")).toDF("id", "w"))
    val flagged = bcast(big.join(broadcast(ck), "id"))
    assert(flagged.nonEmpty &&
      flagged.forall(_.matches("""BroadcastHashJoin builds over .*\[id,w\]""")),
      s"description format drifted — allowlist patterns would stop matching: $flagged")
  }

  test("hash-built and plain-shuffled joins over checkpointed tables are clean") {
    import spark.implicits._
    val big = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val ck = (1 to 500).map(i => (i.toLong, s"w$i")).toDF("id", "w")
      .localCheckpoint(true)
    assert(bcast(big.join(ck.hint("shuffle_hash"), "id")).isEmpty)
    assert(bcast(big.join(ck.hint("merge"), "id")).isEmpty)
  }
}
