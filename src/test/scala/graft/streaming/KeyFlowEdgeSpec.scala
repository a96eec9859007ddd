package graft.streaming

import graft.SparkTestBase
import graft.fold.FoldOption
import graft.model.Record
import org.apache.spark.SparkConf
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

/** Edge semantics: topic-namespaced state, poison-record resilience via
  * handleErrorWith, and built-in streaming dedup within watermark. */
class KeyFlowEdgeSpec extends SparkTestBase {

  private def rec(topic: String, key: String, offset: Long, value: String = ""): Record =
    Record(topic, 0, offset, new Timestamp(offset * 1000), 0, key,
      value.getBytes("UTF-8"), Map.empty)

  private val countFold: FoldOption[Long, Record] =
    FoldOption.of[Long, Record](_ => 1L)((n, _) => n + 1)

  test("namespaceByTopic keeps equal keys on different topics separate") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val out = KeyFlow.flow(input.toDS(), countFold,
      config = KeyFlowConfig(namespaceByTopic = true))
    val q = out.writeStream.format("memory").queryName("ns")
      .outputMode("update")
      .option("checkpointLocation", tempDir("ns").toString)
      .start()
    input.addData(rec("t1", "k", 0), rec("t1", "k", 1), rec("t2", "k", 0))
    q.processAllAvailable()
    val latest = spark.table("ns").as[KeyOutput[Long]].collect()
      .groupBy(_.key).map { case (k, rows) => k -> rows.maxBy(_.offset).state }
    assert(latest == Map("t1\u0001k" -> Some(2L), "t2\u0001k" -> Some(1L)))
    q.stop()
  }

  test("watermark-domain retroactive expiry: one batch spanning two gaps emits " +
    "closing-state/tombstone pairs per expired session (batch mode, no timers needed)") {
    import spark.implicits._
    import scala.concurrent.duration._
    // key k: events at t=0, t=10h, t=20h with a 6h event-time maxIdle — the
    // 2nd and 3rd records each PROVE idleness, so the fold must close the
    // prior session inline: [state@0, tomb@0, state@1, tomb@1, state@2]
    def at(offset: Long, hours: Long): Record =
      Record("t", 0, offset, new Timestamp(hours * 3600 * 1000), 0, "k",
        Array[Byte](), Map.empty)
    val config = KeyFlowConfig(maxIdle = Some(6.hours), removeOnIdle = true,
      timerDomain = TimerDomain.Watermark)
    val out = KeyFlow.flow(
      Seq(at(0, 0), at(1, 10), at(2, 20)).toDS(), countFold, config = config)
      .collect()
    val expected = Seq(
      (0L, Some(1L), false), (0L, None, true),
      (1L, Some(1L), false), (1L, None, true),
      (2L, Some(1L), false))
    assert(out.map(o => (o.offset, o.state, o.tombstone)).toSeq.sorted(
      Ordering.by((t: (Long, Option[Long], Boolean)) => (t._1, t._3))) ==
      expected.sorted(Ordering.by((t: (Long, Option[Long], Boolean)) => (t._1, t._3))))
  }

  test("watermark-domain retroactive tick with removeOnIdle=false emits the ticked state " +
    "(changelog equal to the timer path)") {
    import spark.implicits._
    import scala.concurrent.duration._
    import graft.fold.TickOption
    def at(offset: Long, hours: Long): Record =
      Record("t", 0, offset, new Timestamp(hours * 3600 * 1000), 0, "k",
        Array[Byte](), Map.empty)
    val config = KeyFlowConfig(maxIdle = Some(6.hours), removeOnIdle = false,
      timerDomain = TimerDomain.Watermark)
    val markTick = TickOption[Long](n => n.map(_ + 100L)) // visible transform
    val out = KeyFlow.flow(
      Seq(at(0, 0), at(1, 10)).toDS(), countFold, markTick, config)
      .collect().map(o => (o.offset, o.state, o.tombstone)).toSeq.sortBy(_._1)
    // r1 proves the gap: tick fires retroactively (101 emitted), then r1
    // folds into the ticked state (102) — same changelog the timer path
    // would produce across separate batches
    assert(out == Seq((0L, Some(101L), false), (1L, Some(102L), false)))
  }

  test("offset-lag eviction uses each record's own (topic, partition) clock") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    // coalesce(1): both topics share ONE Spark partition — under a
    // Spark-partition-wide clock, big-topic offsets (1e6) would make the
    // small-topic key look 999 998 offsets behind and wrongly tombstone it
    val out = KeyFlow.flow(input.toDS().coalesce(1), countFold,
      config = KeyFlowConfig(maxOffsetDifference = Some(100L)))
    val q = out.writeStream.format("memory").queryName("clk")
      .outputMode("update")
      .option("checkpointLocation", tempDir("clk").toString)
      .start()
    input.addData(rec("small", "a", 0), rec("small", "a", 1),
      rec("big", "b", 1000000L))
    q.processAllAvailable()
    val latest = spark.table("clk").as[KeyOutput[Long]].collect()
      .groupBy(_.key).map { case (k, rows) => k -> rows.maxBy(_.offset) }
    assert(latest("a").state == Some(2L) && !latest("a").tombstone)
    assert(latest("b").state == Some(1L))
    q.stop()
  }

  test("null-timestamp records fold as TIMELESS rows (no NPE, no basis advance)") {
    // the journal and the spill codec both accept null timestamps; the
    // fold loop must too — offset order is the only folding contract, and
    // before the r10 guard this NPE'd in .getTime even in Clock mode
    // where the timestamp is semantically unused
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val out = KeyFlow.flow(input.toDS(), countFold)
    val q = out.writeStream.format("memory").queryName("nullts")
      .outputMode("update")
      .option("checkpointLocation", tempDir("nullts").toString)
      .start()
    input.addData(
      Record("t", 0, 0, null, 0, "k", Array.empty[Byte], Map.empty),
      rec("t", "k", 1),
      Record("t", 0, 2, null, 0, "k", Array.empty[Byte], Map.empty))
    q.processAllAvailable()
    val fin = spark.table("nullts").as[KeyOutput[Long]].collect().maxBy(_.offset)
    q.stop()
    assert(fin.state == Some(3L) && fin.offset == 2L && !fin.tombstone)
  }

  test("poison records recover through handleErrorWith without killing the query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Record]
    val risky = FoldOption.of[Long, Record] { r =>
      if (new String(r.value, "UTF-8") == "poison") throw new IllegalStateException("boom")
      1L
    } { (n, r) =>
      if (new String(r.value, "UTF-8") == "poison") throw new IllegalStateException("boom")
      n + 1
    }
    val fold = risky.handleErrorWith((st, _) => st) // skip the poison record
    val out = KeyFlow.flow(input.toDS(), fold)
    val q = out.writeStream.format("memory").queryName("poison")
      .outputMode("update")
      .option("checkpointLocation", tempDir("poison").toString)
      .start()
    input.addData(rec("t", "k1", 0), rec("t", "k1", 1, "poison"), rec("t", "k1", 2))
    q.processAllAvailable()
    val latest = spark.table("poison").as[KeyOutput[Long]].collect().maxBy(_.offset)
    assert(latest.state == Some(2L)) // poison skipped, stream alive
    assert(latest.offset == 2L)      // offset still advanced past the poison
    q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups an at-least-once stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val deduped = input.toDS().toDF("id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("ddw")
      .outputMode("append")
      .option("checkpointLocation", tempDir("ddw").toString)
      .start()
    val t0 = new Timestamp(1000L)
    input.addData(("a", t0), ("a", t0), ("b", t0))
    q.processAllAvailable()
    input.addData(("a", new Timestamp(2000L))) // duplicate within watermark
    q.processAllAvailable()
    assert(spark.table("ddw").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    q.stop()
  }

  test("clockIterator: spill path is record-exact and clock-exact — " +
    "heap+spill output equals the all-in-heap output, spill file deleted") {
    def rec(topic: String, part: Int, off: Long, key: String): Record =
      Record(topic, part, off, new Timestamp(1000L + off), 0, key,
        if (off % 3 == 0) null else Array[Byte](off.toByte, (off + 1).toByte),
        if (off % 4 == 0) null else Map("h" -> s"v$off", "nul" -> null))
    // interleaved source partitions; max offsets per source planted at
    // positions both BEFORE and AFTER the spill threshold
    val records = (1L to 500L).map { i =>
      val (t, p) = if (i % 2 == 0) ("a", 0) else if (i % 5 == 0) ("a", 1) else ("b", 7)
      rec(t, p, if (i == 3) 9999L else i, s"k${i % 11}") // source ("b",7) max lands in-heap
    }
    // dedicated spill dir: the leak assertion below must only ever see
    // files THIS test created (a stale spill from a killed JVM or a
    // concurrently forked smoke in the shared tmpdir is not our leak)
    val spillHome = java.nio.file.Files.createTempDirectory("graft-clock-spec")
    def run(spillAfter: Int) =
      KeyFlow.clockIterator(records.iterator, spillAfter, Some(spillHome)).toSeq
    val inHeap = run(Int.MaxValue)
    val spilled = run(16) // 500 records, threshold 16 → ~484 spill
    assert(spilled.size == 500 && inHeap.size == 500)
    // field-exact round trip through the spill codec, clocks identical
    spilled.zip(inHeap).foreach { case (s, h) =>
      assert(s.partitionMaxOffset == h.partitionMaxOffset)
      val (a, b) = (s.record, h.record)
      assert(a.topic == b.topic && a.partition == b.partition &&
        a.offset == b.offset && a.timestamp == b.timestamp &&
        a.timestampType == b.timestampType && a.key == b.key &&
        java.util.Arrays.equals(a.value, b.value) && a.headers == b.headers)
    }
    // the clock is the per-SOURCE max, not the Spark-partition-wide max
    val bySource = records.groupBy(r => (r.topic, r.partition))
      .map { case (k, rs) => k -> rs.map(_.offset).max }
    spilled.foreach(e => assert(
      e.partitionMaxOffset == bySource((e.record.topic, e.record.partition))))
    // sub-ms timestamp nanos survive the codec (record placed PAST the
    // threshold so it provably round-trips through the spill file)
    val withNanos = rec("n", 0, 1L, "k")
    withNanos.timestamp.setNanos(123456789)
    val rt = KeyFlow.clockIterator(
      (records.take(40) ++ Seq(withNanos)).iterator, 8, Some(spillHome)).toSeq
    assert(rt.last.record.timestamp.getNanos == 123456789)
    // no spill files left behind IN OUR dedicated dir
    val leftovers = Option(spillHome.toFile.listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("graft-clock-spill"))
    assert(leftovers.isEmpty, s"spill files leaked: ${leftovers.mkString(",")}")
    java.nio.file.Files.deleteIfExists(spillHome)
  }

  test("spillDirFor honors spark.local.dir over the JVM tmpdir and " +
    "spreads by partition id") {
    // through the resolver with an explicit empty env and a fresh conf, so
    // the result does not depend on (and the test never writes) the
    // process env or the shared SparkEnv conf
    val tmp = System.getProperty("java.io.tmpdir")
    assert(KeyFlow.resolveSpillDir(Map.empty, new SparkConf(false), tmp, 0) ==
      java.nio.file.Paths.get(tmp))
    // a comma list in spark.local.dir is picked by partition id, and a
    // dir that does not exist yet is created
    val d1 = java.nio.file.Files.createTempDirectory("graft-ld1")
    val d2 = d1.resolveSibling(d1.getFileName.toString + "-b") // not yet created
    val conf = new SparkConf(false).set("spark.local.dir", s"$d1,$d2")
    def pick(pid: Int) = KeyFlow.resolveSpillDir(Map.empty, conf, tmp, pid)
    try {
      assert(pick(0) == d1)
      assert(pick(1) == d2 && java.nio.file.Files.isDirectory(d2))
      assert(pick(2) == d1)
      assert(pick(-1) == d2) // floorMod, never negative index
    } finally {
      java.nio.file.Files.deleteIfExists(d2)
      java.nio.file.Files.deleteIfExists(d1)
    }
  }

  test("resolveSpillDir follows Spark's local-dir precedence, dropping " +
    "blank entries") {
    val base = java.nio.file.Files.createTempDirectory("graft-prec")
    val Seq(yarn, exec1, exec2, envDir, confDir, tmp) =
      Seq("yarn", "exec1", "exec2", "env", "conf", "tmp").map(base.resolve)
    val sep = java.io.File.pathSeparator
    val all = Map("CONTAINER_ID" -> "c_1", "LOCAL_DIRS" -> s"$yarn",
      "SPARK_EXECUTOR_DIRS" -> s"$exec1$sep$exec2",
      "SPARK_LOCAL_DIRS" -> s"$envDir")
    def resolve(env: Map[String, String], localDir: Option[String] = Some(s"$confDir"),
                pid: Int = 0) = {
      val conf = new SparkConf(false)
      localDir.foreach(conf.set("spark.local.dir", _))
      KeyFlow.resolveSpillDir(env, conf, s"$tmp", pid)
    }
    try {
      // 1. YARN container dirs win over everything
      assert(resolve(all) == yarn)
      // ... but only inside a container: LOCAL_DIRS alone is not YARN's
      assert(resolve(all - "CONTAINER_ID") == exec1)
      // ... and a container without them is refused, as Spark refuses it
      intercept[Exception](resolve(Map("CONTAINER_ID" -> "c_1")))
      // 2. the standalone worker's executor dirs, split on pathSeparator
      assert(resolve(all - "CONTAINER_ID", pid = 1) == exec2)
      // 3. env over conf
      assert(resolve(Map("SPARK_LOCAL_DIRS" -> s"$envDir")) == envDir)
      // 4. conf over tmpdir
      assert(resolve(Map.empty) == confDir)
      // 5. the JVM default when nothing is configured
      assert(resolve(Map.empty, localDir = None) == tmp)
      // blank and whitespace entries are dropped, not picked as ""
      assert(Seq(0, 1, 2).map(p => resolve(
        Map("SPARK_LOCAL_DIRS" -> s" , $envDir ,,"), pid = p)).toSet == Set(envDir))
      // the first source that is set decides, as in Spark; if it names no
      // non-blank dir the spill goes to tmpdir, not to a later source
      assert(resolve(all ++ Map("LOCAL_DIRS" -> " , ")) == tmp)
      assert(resolve(Map("SPARK_EXECUTOR_DIRS" -> s" $sep ")) == tmp)
      assert(resolve(Map("SPARK_LOCAL_DIRS" -> " ,")) == tmp)
      assert(resolve(Map.empty, localDir = Some(" , ")) == tmp)
    } finally {
      Seq(yarn, exec1, exec2, envDir, confDir, tmp, base)
        .foreach(java.nio.file.Files.deleteIfExists)
    }
  }

  test("spillDirFor resolves from the process env, the live SparkEnv conf " +
    "and java.io.tmpdir") {
    // holds whether or not SPARK_LOCAL_DIRS (or any other source) is set
    spark.sparkContext // the shared session's context makes SparkEnv live
    val liveConf = org.apache.spark.SparkEnv.get.conf
    val tmp = System.getProperty("java.io.tmpdir")
    for (pid <- Seq(0, 1, 7, -1))
      assert(KeyFlow.spillDirFor(pid) ==
        KeyFlow.resolveSpillDir(sys.env, liveConf, tmp, pid))
  }
}
