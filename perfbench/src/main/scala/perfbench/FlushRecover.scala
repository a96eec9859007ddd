package perfbench

import graft.state.ExternalSnapshots
import graft.state.ExternalSnapshots.SnapshotRow
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `flush_recover`: the persistence layer on its own. One op is a flush
  * (`ExternalSnapshots.upsert` of a 2,000-key x 10 KiB wave into a fresh
  * store) followed by a recovery read (`readLatest` over a 3-generation
  * store, forced by a checksum of every decoded value). The two halves are
  * timed separately too, as the layer metrics `snap.upsert_ms` and
  * `snap.read_ms`. */
object FlushRecover {
  val Keys = 2000
  val ValueBytes = 10 * 1024
  val Generations = 3
  val WarmupOps = 3
  /** Flush plus read on a 4-core host; sets the op count from `--seconds`. */
  val NominalOpS = 0.8
  val App = "perfbench"
  val Group = "g1"

  /** Key `k`'s value in wave `g`: even keys carry repetitive text that LZ4
    * shrinks, odd keys carry xorshift noise that it cannot. */
  def payload(seed: Long, g: Int, k: Long): Array[Byte] = {
    val b = new Array[Byte](ValueBytes)
    var x = (seed * 0x9e3779b97f4a7c15L) ^ (g * 0xbf58476d1ce4e5b9L) ^ (k + 1) * 0x94d049bb133111ebL
    if (x == 0) x = 1
    if (k % 2 == 0) {
      val text = s"key=$k gen=$g seed=$seed state={count:${x & 0xffff},cents:${(x >>> 16) & 0xffffff}} "
        .getBytes("UTF-8")
      var j = 0
      while (j < ValueBytes) { b(j) = text(j % text.length); j += 1 }
    } else {
      var j = 0
      while (j < ValueBytes) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        b(j) = x.toByte; j += 1
      }
    }
    b
  }

  /** Sum over keys of CRC32(value): what Spark's `sum(crc32(value))` gives. */
  def checksum(seed: Long, g: Int): Long =
    (0L until Keys).map { k =>
      val c = new java.util.zip.CRC32
      c.update(payload(seed, g, k))
      c.getValue
    }.sum

  def run(spark: SparkSession, run: Run, tracer: Tracer): Outcome = {
    import spark.implicits._
    val seed = run.seed
    val parts = run.cores
    def wave(g: Int): Dataset[SnapshotRow] =
      spark.range(0, Keys, 1, parts).map { i =>
        SnapshotRow(App, Group, "events", (i % 16).toInt, s"key-$i",
          offset = g.toLong * Keys + i, metadata = "", value = payload(seed, g, i),
          written_at_ms = 0L)
      }.localCheckpoint(true)

    val nOps = math.max(11, math.round(run.seconds / NominalOpS).toInt)
    val recoverStore = run.sub("recover-store")
    (1 to Generations).foreach(g => ExternalSnapshots.upsert(wave(g), recoverStore))
    val flushWave = wave(Generations + 1)
    val wantRead = checksum(seed, Generations)
    val wantFlush = checksum(seed, Generations + 1)
    Log(s"recover store built ($Generations generations), flush wave ready")

    def recoverRead(store: String): (Long, Long) = {
      val r = ExternalSnapshots.readLatest(spark, store, App, Group)
        .agg(count(lit(1)), sum(crc32(col("value")))).head()
      (r.getLong(0), r.getLong(1))
    }
    var n = 0
    def flushStore(): String = { n += 1; run.dir.resolve(s"flush-store-$n").toString }
    def drop(dir: String): Unit =
      scala.reflect.io.Path(new java.io.File(dir)).deleteRecursively()

    (1 to WarmupOps).foreach { _ =>
      val s = flushStore()
      ExternalSnapshots.upsert(flushWave, s)
      recoverRead(recoverStore)
      drop(s)
    }
    Log("warm-up done")

    val listener = new LayerListener(spark, tracer)
    if (run.trace) listener.install()
    val loop = new OpLoop(tracer)
    val writeMs, readMs = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[(Double, Double)] // (bytes, files)
    var lastStore = ""
    (1 to nOps).foreach { _ =>
      val store = flushStore()
      var got = (0L, 0L)
      val ok = loop.op("op") {
        val t0 = System.nanoTime()
        tracer.span("graft.state.upsert")(ExternalSnapshots.upsert(flushWave, store))
        val t1 = System.nanoTime()
        got = tracer.span("graft.state.readLatest")(recoverRead(recoverStore))
        val t2 = System.nanoTime()
        writeMs += (t1 - t0) / 1e6; readMs += (t2 - t1) / 1e6
      }
      if (ok && got != (Keys.toLong, wantRead))
        loop.markFailed(s"recovery read returned $got, want ($Keys, $wantRead)")
      if (run.trace) written += storeSize(store)
      if (lastStore.nonEmpty) drop(lastStore)
      lastStore = store
    }
    if (run.trace) listener.uninstall()

    // the last flushed store must recover to the flushed wave
    val flushed = recoverRead(lastStore)
    val flushOk = flushed == ((Keys.toLong, wantFlush))
    if (!flushOk) loop.markFailed(s"flushed store reads $flushed, want ($Keys, $wantFlush)")

    val layers =
      if (!run.trace) Map.empty[String, Double]
      else {
        val framed = spark.read.parquet(lastStore).agg(sum(length(col("value")))).head().getLong(0)
        Stats.medians(loop.windows.toSeq.map { case (a, b) => listener.window(a, b) }) ++ Map(
          "snap.upsert_ms" -> Stats.median(writeMs.toSeq),
          "snap.read_ms" -> Stats.median(readMs.toSeq),
          "snap.bytes_written" -> Stats.median(written.map(_._1).toSeq),
          "snap.files_written" -> Stats.median(written.map(_._2).toSeq),
          "snap.compress_ratio" -> Keys.toDouble * ValueBytes / framed,
          // Spark's task input metrics do not count these parquet reads,
          // so this is the size of the files each read covers
          "snap.read_bytes" -> storeSize(recoverStore)._1,
          "jvm.gc_ms" -> Stats.median(loop.gcMs.toSeq))
      }
    drop(lastStore)
    Outcome(loop.attempted, loop.failed, loop.failed == 0, loop.firstOpEpochMs, loop.workS,
      loop.latMs.toSeq, layers,
      Map("check" -> s"${loop.failed} failed checks; flush recovers: $flushOk",
        "split" -> f"write p50 ${Stats.median(writeMs.toSeq)}%.1f ms, read p50 ${Stats.median(readMs.toSeq)}%.1f ms") ++
        loop.errors.headOption.map("first_error" -> _))
  }

  /** Bytes and parquet files under a store directory. */
  private def storeSize(dir: String): (Double, Double) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val ps = files.filter(p => p.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (ps.map(p => java.nio.file.Files.size(p)).sum.toDouble, ps.length.toDouble)
    } finally files.close()
  }
}
