package graft.streaming

import graft.fold.FoldOption
import graft.model.Record
import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import java.util.zip.ZipInputStream
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Streaming checkpoints through [[LocalCheckpointFileManager]], end to end
  * on a `KeyFlowTws` query over RocksDB with a `maxIdle` timer (the
  * benchmark's shape). Forked by LocalCheckpointFileManagerSpec and
  * KeyFlowTwsStateSpec, because timer batches do not plan under sbt's test
  * threads (see TimerSmoke).
  *
  * Usage: `CheckpointIoSmoke restart|forks|commitmode <dir>` or
  * `CheckpointIoSmoke resume <checkpoint.zip> <dir>`; exits 0 on a pass.
  *  - `restart`: one checkpoint is run under Spark's
  *    `FileContextBasedCheckpointFileManager` named by the user, then under
  *    the default the flow installs, then under Spark's again; every leg
  *    must resume with exact per-key state, and `flow` must leave the
  *    user's setting as it found it.
  *  - `forks`: 3 microbatches inside a JFR `jdk.ProcessStart` recording; no
  *    process start may come from a `CheckpointFileManager` or
  *    `HDFSMetadataLog` frame. A control leg under Spark's manager must
  *    show such starts where Hadoop has no native code, so the recording
  *    is known to see them.
  *  - `commitmode`: one checkpoint is run with changelog checkpointing set
  *    to `false` by the user, then with the flow's default (on), then with
  *    `false` again; every leg must resume with exact per-key state, write
  *    its batches in the leg's commit mode, and leave the user's `false`
  *    as set.
  *  - `resume`: a zipped checkpoint of [[Query]] after batches 0–2 is
  *    resumed for batches 3–5 with the flow's defaults. The state must be
  *    exact, and every key must hold one pending timer, at or before its
  *    deadline.
  */
object CheckpointIoSmoke {
  private val SparkManager = classOf[FileContextBasedCheckpointFileManager].getName
  private val Keys = 23
  private val BatchRecords = 400
  private val MaxIdle = 10.minutes

  private val fold = FoldOption.of[(Long, Long), Record](r => (1L, value(r))) {
    (s, r) => (s._1 + 1, s._2 + value(r))
  }
  private def value(r: Record): Long = new String(r.value, "UTF-8").toLong

  private def batch(b: Int): Seq[Record] = (0 until BatchRecords).map { i =>
    val off = b.toLong * BatchRecords + i
    Record("t", 0, off, new Timestamp(off), 0, s"k${off % Keys}",
      (off * 7919 % 1000).toString.getBytes("UTF-8"), Map.empty)
  }

  private def truth(batches: Int): Map[String, (Long, Long)] =
    (0 until batches).flatMap(batch).groupBy(_.key).map { case (k, rs) =>
      k -> ((rs.size.toLong, rs.map(value).sum))
    }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // timers never fire here (maxIdle 10 min); without this every trigger
      // would run a batch and processAllAvailable would not return
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = args.toSeq match {
      case Seq("restart", dir) => restart(spark, Paths.get(dir))
      case Seq("forks", dir) => forks(spark, Paths.get(dir))
      case Seq("commitmode", dir) => commitMode(spark, Paths.get(dir))
      case Seq("resume", zip, dir) => resume(spark, Paths.get(zip), Paths.get(dir))
      case _ => sys.error("usage: CheckpointIoSmoke restart|forks|commitmode <dir> | resume <zip> <dir>")
    }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  /** One query on `ckpt`, restartable; `last` holds each key's last emitted state. */
  private final class Query(spark: SparkSession, ckpt: Path) {
    import spark.implicits._
    private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val input = MemoryStream[Record]
    val last = new ConcurrentHashMap[String, (Long, Long)]()

    /** Feed `batches` with no query running: the offsets a checkpoint
      * written by another process has already committed. */
    def committed(batches: Range): Unit = batches.foreach(b => input.addData(batch(b)))

    def run(batches: Range): Unit = {
      val q = KeyFlowTws.flow(input.toDS(), fold, config = KeyFlowConfig(maxIdle = Some(MaxIdle)))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: Dataset[KeyOutput[(Long, Long)]], _: Long) =>
          ds.collect().foreach(o => o.state.foreach(s => last.put(o.key, s)))
        }.start()
      try batches.foreach { b => input.addData(batch(b)); q.processAllAvailable() }
      finally q.stop()
    }
  }

  /** Prints each check of a leg and passes when the state is exact and every check holds. */
  private def check(query: Query, leg: String, batches: Int, cond: (String, Boolean)*): Boolean = {
    val got = query.last.asScala.toMap
    val checks = ("exact per-key state", got == truth(batches)) +: cond
    checks.foreach { case (what, pass) => println(s"[ckptio] $leg: $what ${if (pass) "OK" else "FAIL"}") }
    checks.forall(_._2)
  }

  private def restart(spark: SparkSession, dir: Path): Boolean = {
    val ckpt = dir.resolve("restart")
    val query = new Query(spark, ckpt)
    def offsetFile(b: Int, crc: Boolean) =
      Files.exists(ckpt.resolve("offsets").resolve(if (crc) s".$b.crc" else b.toString))

    spark.conf.set(LocalCheckpointFileManager.ConfKey, SparkManager)
    query.run(0 until 2)
    val leg1 = check(query, "Spark's manager", 2,
      "user setting kept" -> (spark.conf.get(LocalCheckpointFileManager.ConfKey) == SparkManager),
      "Hadoop .crc sidecars written" -> offsetFile(1, crc = true))

    spark.conf.unset(LocalCheckpointFileManager.ConfKey)
    query.run(2 until 4)
    val leg2 = check(query, "default after Spark's", 4,
      "default installed" -> (spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
        classOf[LocalCheckpointFileManager].getName),
      "batch 3 written without a sidecar" -> (offsetFile(3, crc = false) && !offsetFile(3, crc = true)))

    spark.conf.set(LocalCheckpointFileManager.ConfKey, SparkManager)
    query.run(4 until 6)
    val leg3 = check(query, "Spark's after the default", 6,
      "batch 5 written by Spark's manager" -> offsetFile(5, crc = true))
    leg1 && leg2 && leg3
  }

  /** Names of the state store files a checkpoint holds for `batch`: its
    * store version is `batch + 1`, committed as `<v>.changelog` or `<v>.zip`. */
  private def storeFiles(ckpt: Path, batch: Int): Set[String] = {
    val v = batch + 1
    Using.resource(Files.walk(ckpt.resolve("state")))(_.iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n == s"$v.changelog" || n == s"$v.zip")
      .map(_.dropWhile(_ != '.')).toSet)
  }

  private def changelogs(ckpt: Path, batches: Range): Boolean =
    batches.forall(b => storeFiles(ckpt, b).contains(".changelog"))

  private def commitMode(spark: SparkSession, dir: Path): Boolean = {
    val ckpt = dir.resolve("commitmode")
    val query = new Query(spark, ckpt)
    val key = KeyFlow.ChangelogConfKey
    // a changelog store may also upload a snapshot of a version; a
    // snapshot store writes nothing else
    def snapshots(batches: Range) = batches.forall(b => storeFiles(ckpt, b) == Set(".zip"))

    spark.conf.set(key, "false")
    query.run(0 until 2)
    val leg1 = check(query, "changelog off", 2,
      "user's false kept" -> (spark.conf.get(key) == "false"),
      "snapshot commits" -> snapshots(0 until 2))

    spark.conf.unset(key)
    query.run(2 until 4)
    val leg2 = check(query, "default after off", 4,
      "default installed" -> (spark.conf.get(key) == "true"),
      "changelog commits" -> changelogs(ckpt, 2 until 4))

    spark.conf.set(key, "false")
    query.run(4 until 6)
    val leg3 = check(query, "off after the default", 6,
      "user's false kept" -> (spark.conf.get(key) == "false"),
      "snapshot commits" -> snapshots(4 until 6))
    leg1 && leg2 && leg3
  }

  private def resume(spark: SparkSession, zip: Path, dir: Path): Boolean = {
    val ckpt = dir.resolve("resume")
    Using.resource(new ZipInputStream(Files.newInputStream(zip))) { in =>
      Iterator.continually(in.getNextEntry).takeWhile(_ != null).filterNot(_.isDirectory).foreach { e =>
        val f = ckpt.resolve(e.getName)
        Files.createDirectories(f.getParent)
        Files.copy(in, f)
      }
    }
    val query = new Query(spark, ckpt)
    query.committed(0 until 3)
    query.run(3 until 6)
    // one pending timer per key, at or before processedAtMs + maxIdle
    val state = spark.read.format("statestore").option("path", ckpt.toString)
      .option("stateVarName", "flowState").load()
      .selectExpr("key.value AS key", "value.processedAtMs AS at").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val timers = spark.read.format("statestore").option("path", ckpt.toString)
      .option("readRegisteredTimers", "true").load()
      .selectExpr("key.value AS key", "expiration_timestamp_ms AS at").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val byKey = timers.groupBy(_._1)
    val timersOk = byKey.keySet == state.keySet && byKey.forall { case (k, ts) =>
      ts.size == 1 && ts.head._2 <= state(k) + MaxIdle.toMillis
    }
    check(query, "resumed", 6,
      "changelog commits" -> changelogs(ckpt, 3 until 6),
      s"one timer per key at or before its deadline (${timers.size} timers, ${state.size} keys)" -> timersOk)
  }

  private def forks(spark: SparkSession, dir: Path): Boolean = {
    val starts = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val sentinel = new ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart").withStackTrace()
    rs.onEvent("jdk.ProcessStart", e => {
      val cmd = e.getString("command")
      if (cmd.contains("fork-guard-sentinel")) sentinel.add(cmd)
      else starts.add(cmd -> Option(e.getStackTrace).toSeq
        .flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName)))
    })
    rs.startAsync()

    /** Process starts from checkpoint I/O during 3 microbatches. */
    def leg(name: String): Int = {
      val query = new Query(spark, dir.resolve(name))
      query.run(0 until 3)
      require(query.last.asScala.toMap == truth(3), s"$name: wrong per-key state")
      // a later process start is delivered after every earlier one
      val marker = s"fork-guard-sentinel-$name"
      new ProcessBuilder("sh", "-c", s": $marker").start().waitFor()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!sentinel.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      require(sentinel.asScala.exists(_.contains(marker)), s"$name: the recording saw no process start")
      val all = Iterator.continually(starts.poll()).takeWhile(_ != null).toVector
      val fromCheckpointIo = all.filter(_._2.exists(c =>
        c.contains("CheckpointFileManager") || c.contains("HDFSMetadataLog")))
      val byCommand = fromCheckpointIo.groupBy(_._1.takeWhile(_ != ' ')).map { case (c, v) => s"$c=${v.size}" }
      println(s"[ckptio] $name: ${all.size} process starts, ${fromCheckpointIo.size} from " +
        s"checkpoint I/O ${byCommand.mkString(" ")}")
      fromCheckpointIo.size
    }

    try {
      spark.conf.set(LocalCheckpointFileManager.ConfKey, SparkManager)
      val control = leg("spark-manager")
      spark.conf.unset(LocalCheckpointFileManager.ConfKey)
      val guarded = leg("default")
      val native = org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded
      val controlOk = native || control > 0
      println(s"[ckptio] control leg ${if (controlOk) "OK" else "FAIL: no fork seen without libhadoop"}; " +
        s"default leg ${if (guarded == 0) "OK" else "FAIL"}")
      controlOk && guarded == 0
    } finally rs.close()
  }
}
