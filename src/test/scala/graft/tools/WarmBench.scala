package graft.tools

/** Warm A/B timing probe (test scope — never ships in the artifact).
  *
  * Usage: sbt "Test/runMain graft.tools.WarmBench <sfDir> <runs> <query>..."
  * Warms the JVM + file cache with one untimed pass of each query, then
  * times `runs` passes each on the SAME session — isolating plan cost from
  * cold-JIT / cold-page-cache noise, which on this shared host inflates
  * single cold runs 1.5-3x (see tools/bench_history.md). Session and
  * SPARK_GRAFT_CONF extras: [[ProfileSession]].
  */
object WarmBench {
  def main(args: Array[String]): Unit = {
    // strip the flag wherever it appears BEFORE positional parsing, so
    // `-force` between sfDir and runs cannot reach `.toInt`
    val force = args.contains("-force")
    val pos = args.filterNot(_ == "-force")
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = pos.lift(1).map(_.toInt).getOrElse(2)
    // -force: time a checksum over ALL output columns instead of count().
    // count() lets the optimizer PRUNE pure projections (a kernel-only
    // query then times the scan, not the kernel — q_repetition measured
    // 0.33 s counted vs 1.6 s forced at sf0.1 pre-fast-path); forced mode
    // is the honest timing for projection queries. Driver Bench counts,
    // so cross-round comparisons stay on count(); use -force when tuning
    // kernels.
    val queries = {
      val qs = pos.drop(2).toSeq
      if (qs.nonEmpty) qs else Seq("q_offset_dedup", "q_simhash", "q_minhash_lsh")
    }
    val spark = ProfileSession()
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    def evaluate(q: String): Unit = {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      // bit_xor, not sum: summing 64-bit hashes overflows under ANSI
      if (force) df.select(xxhash64(df.columns.map(col): _*).as("__h"))
        .agg(expr("bit_xor(__h)")).head()
      else df.count()
    }
    try {
      for (q <- queries) evaluate(q) // warm
      for (q <- queries; i <- 1 to runs) {
        val t0 = System.nanoTime()
        evaluate(q)
        println(f"WARMBENCH $q${if (force) " (forced)" else ""} run$i " +
          f"${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    } finally spark.stop()
  }
}
