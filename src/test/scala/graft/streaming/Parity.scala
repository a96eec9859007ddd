package graft.streaming

import graft.model.Record
import org.apache.spark.sql.{Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** One stream↔batch check: its `body` runs in a fresh session and returns
  * its mismatch lines, empty on a pass. `name` is the test name a spec
  * reports it under. */
final case class ParityCase(name: String)(val body: ParityCtx => Seq[String])

object ParityCase {
  /** The common shape: a replay whose projected final states must equal
    * the batch truth (see [[Replay]]). */
  def replay(name: String)(setup: ParityCtx => Replay[_, _, _]): ParityCase =
    ParityCase(name)(ctx => setup(ctx).check(ctx))
}

/** `batches` fed through `flow` one microbatch each; the latest state per
  * key, through `project`, must equal `truth` (first 5 differences
  * reported), and `checks` may add mismatch lines of its own. */
final case class Replay[S, K, V](
    batches: Seq[Seq[Record]],
    flow: Dataset[Record] => Dataset[KeyOutput[S]],
    truth: Map[K, V],
    project: Map[String, S] => Map[K, V],
    checks: Map[K, V] => Seq[String] = (_: Map[K, V]) => Nil)(
    implicit enc: Encoder[KeyOutput[S]]) {
  def check(ctx: ParityCtx): Seq[String] = {
    val streamed = project(Parity.latest(ctx.replay("replay", batches)(flow)))
    Parity.diff(streamed, truth) ++ checks(streamed)
  }
}

/** What a case body gets: its own session (SQL confs set here stay in the
  * case) and its own checkpoint directory. */
final class ParityCtx(val spark: SparkSession, dir: Path) {
  val data = "/root/testdata/sf0.001"
  implicit def sqlContext: SQLContext = spark.sqlContext

  def checkpoint(label: String): String = dir.resolve(label).toString

  /** Starts `out` into a memory sink queried as `label`. */
  def memory[T](out: Dataset[T], label: String,
                trigger: Option[Trigger] = None): StreamingQuery = {
    val w = out.writeStream.format("memory").queryName(label)
      .outputMode("update").option("checkpointLocation", checkpoint(label))
    trigger.fold(w)(w.trigger).start()
  }

  def table[T: Encoder](label: String): Array[T] = spark.table(label).as[T].collect()

  /** Feeds `batches` through `flow`, one `processAllAvailable` each, and
    * returns every row the sink got. */
  def replay[T: Encoder](label: String, batches: Seq[Seq[Record]])(
      flow: Dataset[Record] => Dataset[T]): Array[T] = {
    import spark.implicits._
    val input = MemoryStream[Record]
    val q = memory(flow(input.toDS()), label)
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    table[T](label)
  }
}

/** The parity harness. A group of [[ParityCase]]s runs in one child JVM
  * ([[main]]) on one `local[4]` context; each case gets a
  * `spark.newSession()`. [[ForkedParity]] registers the cases as tests and
  * forks the child (see `SparkTestBase.forkSmoke` for what the fork
  * isolates). The cases do not need the fork to run: every `parity` and
  * `timers` case also passed when run in the sbt test JVM on a
  * `newSession()` of the test session, with and without an active
  * session set (Spark 4.1.2).
  *
  * Usage: `Parity <group> <resultFile> [<name part>...]` runs the cases
  * of `group` (those whose name contains a given part, if any) and
  * appends one line per case to `resultFile`: `PASS\t<name>` or
  * `FAIL\t<name>\t<detail>`, the detail's newlines escaped. Exits 0 iff
  * every case passed.
  */
object Parity {
  val groups: Map[String, Seq[ParityCase]] = Map(
    "parity" -> ParityCases.all,
    "timers" -> TimerCases.all,
    "planted" -> PlantedCases.all)

  def rec(topic: String, offset: Long, key: String, value: String, eventMs: Long = 0L): Record =
    Record(topic, 0, offset, new Timestamp(eventMs), 0, key, value.getBytes(UTF_8), Map.empty)

  /** `feed` cut into `parts` equal microbatches; the second re-sends the
    * last `overlap` records of the first (at-least-once delivery). */
  def split(feed: IndexedSeq[Record], parts: Int, overlap: Int = 0): Seq[Seq[Record]] = {
    val bs = (0 to parts).map(i => feed.length * i / parts).sliding(2)
      .map { case Seq(a, b) => feed.slice(a, b) }.toSeq
    bs.updated(1, bs.head.takeRight(overlap) ++ bs(1))
  }

  /** Event-time microbatches: `n` cuts, each moved forward until the
    * timestamp changes, so equal timestamps never straddle a watermark
    * update. */
  def eventTimeSpans(feed: IndexedSeq[Record], n: Int): Seq[(Int, Int)] = {
    val cuts = (1 until n).map(i => feed.length * i / n).map { c0 =>
      var c = c0
      while (c < feed.length && c > 0 &&
        feed(c).timestamp.getTime == feed(c - 1).timestamp.getTime) c += 1
      c
    }.distinct.filter(c => c > 0 && c < feed.length)
    (Seq(0) ++ cuts ++ Seq(feed.length)).sliding(2).map { case Seq(a, b) => (a, b) }
      .filter { case (a, b) => b > a }.toSeq
  }

  /** The latest state per key in an update-mode changelog. */
  def latest[S](rows: Array[KeyOutput[S]]): Map[String, S] =
    rows.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.offset).state.get }

  /** Empty iff `streamed == truth` and the truth is not empty; else the
    * first 5 differing keys and the key counts. */
  def diff[K, V](streamed: Map[K, V], truth: Map[K, V]): Seq[String] =
    if (truth.isEmpty) Seq("MISMATCH the batch truth is empty")
    else if (streamed == truth) Nil
    else {
      val bad = (streamed.keySet ++ truth.keySet).toSeq.sortBy(_.toString)
        .filter(k => streamed.get(k) != truth.get(k))
      bad.take(5).map(k => s"MISMATCH $k stream=${show(streamed.get(k))} " +
        s"batch=${show(truth.get(k))}") :+
        s"keys stream=${streamed.size} batch=${truth.size}, ${bad.size} differ"
    }

  private def show(v: Any): String = String.valueOf(v).take(200)

  /** Polls `p` every 200 ms until it holds or `timeoutMs` passes. */
  def waitFor(timeoutMs: Long)(p: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      ok = p
    }
    ok
  }

  def main(args: Array[String]): Unit = {
    val (group, out, parts) = args.toSeq match {
      case Seq(g, o, ps @ _*) if groups.contains(g) => (g, Paths.get(o), ps)
      case _ => sys.error(s"usage: Parity <${groups.keys.mkString("|")}> <resultFile> [<name part>...]")
    }
    val cases = groups(group).filter(c => parts.isEmpty || parts.exists(c.name.contains(_)))
    val root = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    root.sparkContext.setLogLevel("ERROR")
    val failed = cases.count { c =>
      val t0 = System.nanoTime()
      val lines = run(root, c)
      println(s"[parity] ${if (lines.isEmpty) "PASS" else "FAIL"} " +
        s"(${(System.nanoTime() - t0) / 1000000} ms) ${c.name}")
      lines.foreach(l => println(s"[parity]   $l"))
      val detail = lines.mkString("\n").replace("\\", "\\\\").replace("\n", "\\n")
      Files.write(out,
        ((if (lines.isEmpty) s"PASS\t${c.name}" else s"FAIL\t${c.name}\t$detail") + "\n")
          .getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      lines.nonEmpty
    }
    root.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** Runs one case in a new session and its own directory; a throw is
    * that case's failure. */
  private def run(root: SparkSession, c: ParityCase): Seq[String] = {
    val spark = root.newSession()
    val dir = Files.createTempDirectory("parity")
    SparkSession.setActiveSession(spark)
    try c.body(new ParityCtx(spark, dir))
    catch {
      case t: Throwable =>
        val sw = new java.io.StringWriter
        t.printStackTrace(new java.io.PrintWriter(sw))
        Seq(s"THREW $t") ++ sw.toString.linesIterator.slice(1, 16).map(_.trim)
    } finally {
      spark.streams.active.foreach(_.stop())
      SparkSession.clearActiveSession()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  /** Parses a result file: case name → None on a pass, Some(detail) on a
    * failure. */
  def results(file: Path): Map[String, Option[String]] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file, UTF_8).asScala.map { line =>
      line.split("\t", 3) match {
        case Array("PASS", name) => name -> None
        case Array(_, name, detail) =>
          name -> Some("\\\\(.)".r.replaceAllIn(detail, m =>
            Regex.quoteReplacement(if (m.group(1) == "n") "\n" else m.group(1))))
      }
    }.toMap
}

/** A spec that reports the cases of a [[Parity]] group as its own tests.
  * The test names come from the case list; the group runs once, in one
  * forked child, when the first of them runs. */
trait ForkedParity extends graft.SparkTestBase {

  /** Forks the child on `group` and returns its exit code and results. */
  protected def forkGroup(group: String): (Int, Map[String, Option[String]]) = {
    val file = tempDir("parity").resolve("results.tsv")
    val exit = forkSmoke("graft.streaming.Parity", Nil, args = Seq(group, file.toString))
    (exit, Parity.results(file))
  }

  protected def parityTests(group: String): Unit = {
    lazy val (exit, results) = forkGroup(group)
    Parity.groups(group).foreach { c =>
      test(c.name) {
        results.get(c.name) match {
          case Some(None) =>
          case Some(Some(detail)) => fail(detail)
          case None => fail(s"no result: the parity child exited with code $exit first")
        }
      }
    }
  }
}
