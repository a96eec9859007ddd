package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `query_suite`: the batch surface. One op is one pass over the suite's
  * queries, each run with `.count()` as the engine's driver benchmark does,
  * in an order the seed shuffles. Each query's count is checked against the
  * value pinned in [[Pinned]]. */
object QuerySuite {
  /** The batch twin of the fold: FoldAggregator, OrderedFold, and the
    * SnapshotFold replay guard over a log with duplicated deliveries. */
  val Names: Seq[String] = Seq("q_fold_count", "q_fold_ordered", "q_offset_dedup")
  /** Passes keep getting faster for many passes as the driver's planning
    * code is compiled; warm passes in set-up take the steepest part out. */
  val WarmPasses = 4
  /** One pass on a 4-core host; sets the op count from `--seconds`. */
  val NominalOpS = 1.0

  def run(spark: SparkSession, run: Run, tracer: Tracer): Outcome = {
    val dir = run.sub("tables")
    SuiteTables.write(spark, dir)
    Log("tables written")
    val queries = graft.SparkEntry.queries
    (1 to 1 + WarmPasses).foreach(_ => Names.foreach(n => queries(n)(spark, dir).count()))
    Log("warm-up passes done")

    val rng = new scala.util.Random(run.seed)
    val nOps = math.max(11, math.round(run.seconds / NominalOpS).toInt)
    val listener = new LayerListener(spark, tracer)
    if (run.trace) listener.install()
    val loop = new OpLoop(tracer)
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    val wrong = mutable.ArrayBuffer.empty[String]
    (1 to nOps).foreach { _ =>
      val got = mutable.Map.empty[String, Long]
      loop.op("pass") {
        rng.shuffle(Names).foreach { n =>
          attempted += 1
          val t0 = System.nanoTime()
          try got(n) = tracer.span(s"graft.queries.$n")(queries(n)(spark, dir).count())
          catch { case e: Exception =>
            failed += 1
            wrong += s"$n threw $e"
          }
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        }
      }
      got.foreach { case (n, c) =>
        if (c != Pinned.counts(n)) { failed += 1; wrong += s"$n counted $c, pinned ${Pinned.counts(n)}" }
      }
    }
    if (run.trace) listener.uninstall()
    // the rows themselves, once per run: a hash of every column of every row
    Names.foreach { n =>
      val df = queries(n)(spark, dir)
      val got = df.select(bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head().getLong(0)
      if (got != Pinned.hashes(n)) { failed += 1; wrong += s"$n rows hash to $got, pinned ${Pinned.hashes(n)}" }
    }

    val layers =
      if (!run.trace) Map.empty[String, Double]
      else
        Stats.medians(loop.windows.toSeq.map { case (a, b) => listener.window(a, b) }) ++
          perQuery.map { case (n, ms) => s"query.${n}_ms" -> Stats.median(ms.toSeq) } ++
          Map("jvm.gc_ms" -> Stats.median(loop.gcMs.toSeq))
    wrong.take(5).foreach(w => System.err.println(s"[perfbench] check failed: $w"))
    Outcome(attempted, math.min(failed, attempted), failed == 0, loop.firstOpEpochMs, loop.workS,
      loop.latMs.toSeq, layers,
      Map("check" -> s"${wrong.size} wrong of $attempted query runs",
        "queries" -> Names.mkString(",")) ++ wrong.headOption.map("first_error" -> _))
  }
}

/** The result of each suite query over [[SuiteTables]], pinned from a run
  * of the engine. Each query yields one row per user, and DuckDB counts the
  * same 150 users in the generated table. */
object Pinned {
  val counts: Map[String, Long] = Map(
    "q_fold_count" -> 150L,
    "q_fold_ordered" -> 150L,
    "q_offset_dedup" -> 150L)
  /** XOR over result rows of `xxhash64` of all columns. */
  val hashes: Map[String, Long] = Map(
    "q_fold_count" -> -1518535055846893185L,
    "q_fold_ordered" -> 7695005405628751489L,
    "q_offset_dedup" -> 7208513766392922427L)
}

/** The `events` table the suite reads, generated from a fixed seed so the
  * pinned counts hold: shaped like the engine's test data (TESTDATA.md) at
  * scale factor 0.1 (100,000 events over 1,500 users in 30 days), one
  * parquet file with one row group. */
object SuiteTables {
  val Events = 10000L
  val Users = 150L

  def write(spark: SparkSession, dir: String): Unit = {
    val id = col("id")
    def h(salt: Int) = pmod(xxhash64(id, lit(salt)), lit(Long.MaxValue))
    spark.range(Events).select(
      id.as("event_id"),
      // nanoseconds since epoch from 2024-01-01, in event_id order
      (lit(1704067200000000000L) + id * (30L * 86400 * 1000000000L / Events) +
        pmod(h(1), lit(1000000000L))).as("ts"),
      (pmod(h(2), lit(Users)) + 1).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "error", "signup").map(lit): _*),
        (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(h(4), lit(50000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
  }
}
