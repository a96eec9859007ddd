package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-executor parity gate (test scope — never ships in the artifact).
  *
  * Every other measurement in this repo runs `local[N]`: ONE JVM, where
  * "broadcast" is a reference hand-off, "shuffle" is a memcpy, and task
  * closures / custom Catalyst expressions are never actually serialized to
  * a different process. That leaves a documented evidence gap (VERDICT r13
  * "What's missing #2"): a `@transient`-field bug, a non-serializable
  * closure capture, or codegen state that only materializes on a REMOTE
  * executor would pass every local gate and first fail on a real cluster.
  *
  * This tool closes the portion of that gap the sandbox can close. It runs
  * the FULL declared query set twice in one JVM —
  *
  *   phase A: `local[8]`             (the single-JVM baseline)
  *   phase B: `local-cluster[2,4,4096]` — Spark's standalone-ish test
  *            master that forks two REAL executor JVMs (separate
  *            processes; task binaries serialized over the wire, shuffle
  *            blocks fetched through netty, broadcasts torrent-replicated)
  *
  * — and requires a canonical order-insensitive result hash to match
  * per query. Phase B asserts `getExecutorMemoryStatus.size >= 3`
  * (driver + 2 executor processes) after the first action, so a silent
  * fallback to in-process execution cannot vacuously pass.
  *
  * Determinism across the two masters is pinned, not hoped for: both
  * sessions fix `spark.sql.shuffle.partitions=32` and
  * `spark.default.parallelism=8` (local[8] and 2x4 cores both yield 8,
  * and file-split sizing + seeded per-partition rand streams derive from
  * it), so every query that hash-matches DuckDB under Verify is bit-stable
  * here too. Doubles are canonicalized to 9 significant digits purely as
  * slack against float-sum reassociation if AQE coalesces differently; a
  * genuine serialization bug does not survive 9 digits.
  *
  * Usage (SPARK_HOME must be in the env — the cluster Worker forks
  * executor JVMs from it; executor classpath is this JVM's own,
  * absolutized, so class directories and jars both work and can never
  * be stale):
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 java -Xmx8g \
  *     $ADD_OPENS -cp "<classes or jars>:<spark jars glob>" \
  *     graft.tools.LocalClusterParity /root/testdata/sf0.01 [query ...]
  *
  * Writes LOCAL_CLUSTER_PARITY.json (per-query status) and exits 1 on any
  * mismatch or phase-B-only error.
  */
object LocalClusterParity {

  private def fmtDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) d.toString
    else {
      val r = "%.9e".format(d)
      if (r == "-0.000000000e+00") "0.000000000e+00" else r
    }

  /** Stable, type-aware rendering; container types recurse, maps sort. */
  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: java.lang.Double => fmtDouble(d)
    case f: java.lang.Float => fmtDouble(f.toDouble)
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, w) => render(k) + "\u0002" + render(w) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private final case class Res(
      rows: Long, hash: String, schema: String, err: Option[String])

  private def canonical(df: org.apache.spark.sql.DataFrame): Res = {
    val schema = df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
    val lines = df.collect().map(_.toSeq.map(render).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    Res(lines.length.toLong, md.digest().map("%02x".format(_)).mkString,
      schema, None)
  }

  /** Negative control for the gate itself: a JVM static the driver sets
    * before the phases run. A query whose executors READ this static is
    * the canonical single-JVM-only bug (driver-populated singleton state
    * consumed at execution time): under `local[8]` the tasks share the
    * driver's JVM and see "driver-set"; under `local-cluster` the
    * executor JVMs see the default. `--negative-control` plants exactly
    * that query and INVERTS the verdict — the run passes only if the
    * gate catches the divergence. */
  object NegativeControl {
    @volatile var value: String = "unset"
  }

  private def runPhase(
      master: String, names: Seq[String],
      queryFns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      sfDir: String): (Map[String, Res], Int) = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val cluster = master.startsWith("local-cluster")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.default.parallelism", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val b2 =
      if (!cluster) b
      else b
        .config("spark.executor.memory", "3g")
        .config("spark.executor.extraClassPath",
          graft.LocalClusterEnv.absoluteClasspath)
        .config("spark.executor.extraJavaOptions", graft.LocalClusterEnv.executorJavaOptions)
    val spark = b2.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var executors = 0
    try {
      val out = names.map { n =>
        val r =
          try canonical(queryFns(n)(spark, sfDir))
          catch {
            case e: Throwable =>
              Res(-1L, "", "", Some(s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200)))
          }
        // sampled after each action so a mid-run executor loss shows up
        // as a LOWER max, not a lucky early peak
        executors = math.max(executors,
          spark.sparkContext.getExecutorMemoryStatus.size)
        println(s"[parity:$master] $n rows=${r.rows} " +
          r.err.map("ERR " + _).getOrElse(r.hash.take(12)))
        n -> r
      }.toMap
      (out, executors)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val negativeControl = args.contains("--negative-control")
    val pos = args.filterNot(_ == "--negative-control")
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    val only = pos.drop(1).toSet
    val queryFns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      if (!negativeControl) graft.SparkEntry.queries
      else {
        NegativeControl.value = "driver-set"
        Map("nc_jvm_static" -> { (s, _) =>
          import s.implicits._
          // 8 tasks each read the JVM static AT EXECUTION TIME — the
          // planted single-JVM-only bug the gate must catch
          s.range(0, 8, 1, 8).map(_ => NegativeControl.value).toDF("v")
        })
      }
    val names = queryFns.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // input-validity checks BEFORE the phases: a typo'd query filter
    // must not first spin up two sessions (and two executor JVMs) over
    // zero queries
    require(names.nonEmpty, s"no queries matched the filter $only")
    require(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME must point at the Spark distro — the local-cluster " +
        "Worker forks executor JVMs from it")

    val (base, _) = runPhase("local[8]", names, queryFns, sfDir)
    val (clus, executors) =
      runPhase("local-cluster[2,4,4096]", names, queryFns, sfDir)

    val statuses = names.map { n =>
      val (b, c) = (base(n), clus(n))
      val status =
        if (b.err.isDefined && c.err.isDefined) "both_error"
        else if (c.err.isDefined) "cluster_error"
        else if (b.err.isDefined) "local_error"
        else if (b.rows == c.rows && b.hash == c.hash && b.schema == c.schema) "ok"
        else "MISMATCH"
      if (status != "ok")
        System.err.println(s"[parity] $n $status local=(${b.rows},${b.hash.take(12)}," +
          s"${b.err.getOrElse("")}) cluster=(${c.rows},${c.hash.take(12)}," +
          s"${c.err.getOrElse("")})")
      n -> status
    }
    // ANY non-ok status fails: a query that errors in either phase (or
    // both) established no parity, and a gate that greens on shrunken
    // coverage is the vacuous-pass failure mode this tool exists to
    // avoid.
    val bad = statuses.filterNot(_._2 == "ok")
    val multiProc = executors >= 3 // driver + 2 executor JVMs

    // full escaper (same contract as Verify.q): a multi-line Spark
    // exception message in an error field would otherwise make the
    // committed artifact unparseable JSON
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = new StringBuilder()
    json ++= "{\n"
    json ++= s"""  "sf_dir": ${q(sfDir)},\n"""
    json ++= s"""  "masters": ["local[8]", "local-cluster[2,4,4096]"],\n"""
    json ++= s"""  "cluster_executors_seen": $executors,\n"""
    json ++= s"""  "multi_process_proven": $multiProc,\n"""
    json ++= s"""  "queries_total": ${names.size},\n"""
    json ++= s"""  "ok": ${statuses.count(_._2 == "ok")},\n"""
    json ++= s"""  "both_error": ${statuses.count(_._2 == "both_error")},\n"""
    json ++= s"""  "local_error": ${statuses.count(_._2 == "local_error")},\n"""
    json ++= s"""  "cluster_error": ${statuses.count(_._2 == "cluster_error")},\n"""
    json ++= s"""  "not_ok": ${bad.size},\n"""
    json ++= s"""  "queries": {\n"""
    json ++= statuses.map { case (n, s) =>
      val c = clus(n)
      s"""    ${q(n)}: {"status": ${q(s)}, "rows": ${c.rows}${
        c.err.map(e => s""", "error": ${q(e)}""").getOrElse("")}}"""
    }.mkString(",\n")
    json ++= "\n  }\n}\n"
    // only the FULL default run may write the committed gate artifact: a
    // quick subset re-validation or the planted control would otherwise
    // silently downgrade the round's headline 195-query evidence (this
    // exact clobber happened once — caught by the r14 self-review)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      if (negativeControl) "LOCAL_CLUSTER_PARITY_negative.json"
      else if (only.nonEmpty) "LOCAL_CLUSTER_PARITY_partial.json"
      else "LOCAL_CLUSTER_PARITY.json"), json.toString)

    println(s"[parity] ${names.size} queries | ok=${statuses.count(_._2 == "ok")} " +
      s"| both_error=${statuses.count(_._2 == "both_error")} " +
      s"| bad=${bad.size} | cluster executors seen=$executors " +
      s"(multi-process ${if (multiProc) "PROVEN" else "NOT PROVEN"})")
    if (negativeControl) {
      // inverted verdict: the gate passes its control only by CATCHING
      // the planted JVM-singleton divergence
      val caught = statuses.toMap.get("nc_jvm_static").contains("MISMATCH")
      println(s"NEGATIVE_CONTROL_OK=${caught && multiProc} " +
        s"(planted jvm-static divergence ${if (caught) "CAUGHT" else "MISSED"})")
      sys.exit(if (caught && multiProc) 0 else 1)
    }
    if (bad.nonEmpty || !multiProc) {
      System.err.println(s"[parity] FAIL: ${bad.map(_._1).mkString(", ")}" +
        (if (!multiProc) " (and/or executor count < 3)" else ""))
      sys.exit(1)
    }
  }
}
