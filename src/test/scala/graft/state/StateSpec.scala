package graft.state

import graft.SparkTestBase
import graft.model.KafkaKey
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import scala.util.Using

class CompressorSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val threshold = 64

  test("small payloads pass through with marker 0") {
    val payload = "tiny".getBytes("UTF-8")
    val framed = Compressor.encodeFrame(payload, threshold)
    assert(framed(0) == 0 && framed.length == payload.length + 1)
    assert(Compressor.decodeFrame(framed).sameElements(payload))
  }

  test("large payloads compress above threshold and round-trip") {
    val payload = ("abcdefgh" * 100).getBytes("UTF-8") // compressible, > 64
    val framed = Compressor.encodeFrame(payload, threshold)
    assert(framed(0) == 1)
    assert(framed.length < payload.length)
    assert(Compressor.decodeFrame(framed).sameElements(payload))
  }

  test("unknown marker is rejected") {
    intercept[IllegalArgumentException](Compressor.decodeFrame(Array[Byte](9, 1, 2)))
  }
}

class ExternalJournalSpec extends SparkTestBase {
  import graft.fold.FoldOption
  import graft.model.Record
  import java.sql.Timestamp

  private def rec(key: String, offset: Long, v: Long): Record =
    Record("t", 0, offset, new Timestamp(0L), 0, key, v.toString.getBytes, Map.empty)

  test("journal replay rebuilds state, dedups at-least-once appends") {
    import spark.implicits._
    val dir = tempDir("journal").toString
    ExternalJournal.append(Seq(rec("k1", 0, 10), rec("k1", 1, 20), rec("k2", 0, 5)).toDS(), dir)
    // at-least-once: offset 1 re-appended plus a new offset 2
    ExternalJournal.append(Seq(rec("k1", 1, 20), rec("k1", 2, 30)).toDS(), dir)
    // a null-key record: the flow contract drops these (KeyFlowTws.flow),
    // so the batch rebuild must too — stream-vs-batch parity would
    // otherwise differ by a spurious (null, state) row
    ExternalJournal.append(Seq(rec(null, 3, 999)).toDS(), dir)
    val sum = FoldOption.of[Long, Record](r => new String(r.value).toLong)(
      (s, r) => s + new String(r.value).toLong)
    val states = ExternalJournal.replay(spark, dir, "t")(sum).collect().toMap
    assert(states == Map("k1" -> 60L, "k2" -> 5L)) // 20 folded once, null key dropped
  }
}

class ExternalSnapshotsSpec extends SparkTestBase {

  test("append-only upsert resolves last-write-wins; tombstone deletes") {
    import spark.implicits._
    val dir = tempDir("snapstore").toString
    val k = (key: String) => KafkaKey("app", "g", "t", 0, key)
    // batch 1: k1@5, k2@6
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(k("k1"), 5L, "", "v1".getBytes),
      ExternalSnapshots.rowFor(k("k2"), 6L, "", "v2".getBytes)).toDS(), dir)
    // batch 2: k1@9 overwrites, k2@10 tombstone
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(k("k1"), 9L, "", "v1b".getBytes),
      ExternalSnapshots.rowFor(k("k2"), 10L, "", null)).toDS(), dir)

    val latest = ExternalSnapshots.readLatest(spark, dir, "app", "g")
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Long]("offset"), new String(r.getAs[Array[Byte]]("value")))).toMap
    assert(latest == Map("k1" -> ((9L, "v1b"))))

    // stale write arriving late must NOT win (offset ordering, not arrival)
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(k("k1"), 7L, "", "stale".getBytes)).toDS(), dir)
    val latest2 = ExternalSnapshots.readLatest(spark, dir, "app", "g")
      .collect().map(r => r.getAs[String]("key") -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(latest2 == Map("k1" -> "v1b"))

    // compaction preserves the resolved view
    val compacted = tempDir("snapcompact").toString
    ExternalSnapshots.compact(spark, dir, compacted)
    val afterCompact = ExternalSnapshots.readLatest(spark, compacted, "app", "g")
      .collect().map(_.getAs[String]("key")).toSet
    assert(afterCompact == Set("k1"))
  }

  test("record expiration: stale keys read as absent and compaction purges them") {
    import spark.implicits._
    import scala.concurrent.duration._
    val dir = tempDir("snapttl").toString
    val k = (key: String) => KafkaKey("app", "g", "t", 0, key)
    val now = 1000000L
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(k("fresh"), 1L, "", "f".getBytes, writtenAtMs = now - 1000),
      ExternalSnapshots.rowFor(k("stale"), 1L, "", "s".getBytes, writtenAtMs = now - 100000)).toDS(), dir)

    val noTtl = ExternalSnapshots.readLatest(spark, dir, "app", "g")
      .collect().map(_.getAs[String]("key")).toSet
    assert(noTtl == Set("fresh", "stale"))

    val withTtl = ExternalSnapshots.readLatest(spark, dir, "app", "g",
        expiration = Some(10.seconds), nowMs = now)
      .collect().map(_.getAs[String]("key")).toSet
    assert(withTtl == Set("fresh"))

    // a NEW write to an expired key revives it (latest write governs)
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(k("stale"), 2L, "", "s2".getBytes, writtenAtMs = now)).toDS(), dir)
    val revived = ExternalSnapshots.readLatest(spark, dir, "app", "g",
        expiration = Some(10.seconds), nowMs = now)
      .collect().map(r => r.getAs[String]("key") -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(revived == Map("fresh" -> "f", "stale" -> "s2"))

    // compaction with expiration physically purges expired keys: cutoff
    // falls between fresh (now-1000) and the revived stale write (now)
    val compacted = tempDir("snapttlc").toString
    ExternalSnapshots.compact(spark, dir, compacted,
      expiration = Some(10.seconds), nowMs = now + 9500)
    val purged = ExternalSnapshots.readLatest(spark, compacted, "app", "g")
      .collect().map(_.getAs[String]("key")).toSet
    assert(purged == Set("stale"))
  }

  test("values are LZ4-framed in the store above the threshold and " +
    "round-trip byte-identically — mixed compressed/raw, compaction too") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length => sqlLength}
    val dir = tempDir("snapz").toString
    def k(key: String) = graft.model.KafkaKey("app", "g", "t", 0, key)
    val rnd = new scala.util.Random(42)
    // big = 64 KiB of REPEATING text (compresses hard); raw = below the
    // threshold; noise = big but incompressible (LZ4 still frames it)
    val big = ("lorem ipsum dolor sit amet " * 3000).getBytes("UTF-8")
    val raw = "tiny-state".getBytes("UTF-8")
    val noise = { val b = new Array[Byte](40000); rnd.nextBytes(b); b }
    ExternalSnapshots.upsert(Seq(
      ExternalSnapshots.rowFor(k("big"), 1L, "", big),
      ExternalSnapshots.rowFor(k("raw"), 1L, "", raw),
      ExternalSnapshots.rowFor(k("noise"), 1L, "", noise)).toDS(), dir)
    // on disk: big is framed-compressed (much smaller), raw is framed
    // passthrough (+1 marker byte), noise framed whichever way LZ4 won
    val stored = spark.read.parquet(dir)
      .select(col("key"), sqlLength(col("value")).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(stored("big") < big.length / 4,
      s"compressible 64 KiB state stored as ${stored("big")} bytes — not compressed")
    assert(stored("raw") == raw.length + 1, "below-threshold value must passthrough-frame")
    // read path restores exact bytes for every frame kind
    val back = ExternalSnapshots.readLatest(spark, dir, "app", "g")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Array[Byte]]("value")).toMap
    assert(java.util.Arrays.equals(back("big"), big))
    assert(java.util.Arrays.equals(back("raw"), raw))
    assert(java.util.Arrays.equals(back("noise"), noise))
    // compaction preserves frames; the compacted store reads identically
    val compacted = tempDir("snapzc").toString
    ExternalSnapshots.compact(spark, dir, compacted)
    val back2 = ExternalSnapshots.readLatest(spark, compacted, "app", "g")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Array[Byte]]("value")).toMap
    assert(back2.keySet == Set("big", "raw", "noise") &&
      back2.forall { case (key, v) => java.util.Arrays.equals(v, back(key)) })
    // the framed stores carry the self-proving format stamp
    assert(new java.io.File(dir, "_graft_store_format").exists())
    assert(new java.io.File(compacted, "_graft_store_format").exists())
  }

  test("a pre-framing store (data, no format stamp) fails loudly on read, " +
    "upsert and compact — never silently frame-decodes raw values") {
    import spark.implicits._
    val dir = tempDir("snaplegacy").toString
    def k(key: String) = graft.model.KafkaKey("app", "g", "t", 0, key)
    // a legacy writer: raw value bytes straight to parquet, no stamp.
    // 0x00 first byte is the worst case — the frame decoder would
    // silently strip it instead of erroring.
    Seq(ExternalSnapshots.rowFor(k("k1"), 1L, "", Array[Byte](0, 42, 43)))
      .toDS().write.mode("append")
      .partitionBy("application_id", "group_id").parquet(dir)
    def msg(t: Throwable) = { assert(t.getMessage.contains("_graft_store_format")) }
    msg(intercept[IllegalStateException] {
      ExternalSnapshots.readLatest(spark, dir, "app", "g").collect() })
    msg(intercept[IllegalStateException] {
      ExternalSnapshots.upsert(Seq(
        ExternalSnapshots.rowFor(k("k2"), 2L, "", "x".getBytes)).toDS(), dir) })
    msg(intercept[IllegalStateException] {
      ExternalSnapshots.compact(spark, dir,
        tempDir("snaplegacyc").toString) })
    // an unknown future stamp is rejected too (no best-effort decode)
    val out = new java.io.FileOutputStream(new java.io.File(dir, "_graft_store_format"))
    try out.write("framed-v99".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException] {
      ExternalSnapshots.readLatest(spark, dir, "app", "g").collect() }
    assert(e.getMessage.contains("framed-v99"))
  }

  test("a stamped store with no data files reads as an empty store") {
    // what a crash between upsert's stamp and its append leaves behind
    val dir = tempDir("snapempty")
    Files.write(dir.resolve(ExternalSnapshots.FormatFileName),
      ExternalSnapshots.FormatId.getBytes("UTF-8"))
    assert(ExternalSnapshots.readLatest(spark, dir.toString, "app", "g").count() == 0)
  }

  test("ids compare as strings: group 007 and group 7 are two groups, " +
    "in readLatest and in compact") {
    import spark.implicits._
    val dir = tempDir("snapids").toString
    def row(group: String, key: String) = ExternalSnapshots.rowFor(
      KafkaKey("app", group, "t", 0, key), 1L, "", key.getBytes("UTF-8"))
    ExternalSnapshots.upsert(Seq(row("007", "a"), row("007", "b"), row("7", "c")).toDS(), dir)
    def keys(store: String, group: String) =
      ExternalSnapshots.readLatest(spark, store, "app", group)
        .collect().map(_.getAs[String]("key")).toSet
    assert(keys(dir, "007") == Set("a", "b"))
    assert(keys(dir, "7") == Set("c"))
    val compacted = tempDir("snapidsc").toString
    ExternalSnapshots.compact(spark, dir, compacted)
    assert(keys(compacted, "007") == Set("a", "b"))
    assert(keys(compacted, "7") == Set("c"))
  }

  private def key(k: String) = KafkaKey("app", "g", "t", 0, k)

  /** Parquet column chunks of every data file under `dir`, by column name. */
  private def chunks(dir: Path): Map[String, Seq[ColumnChunkMetaData]] =
    Using.resource(Files.walk(dir))(_.iterator.asScala.filter(_.toString.endsWith(".parquet")).toVector)
      .flatMap { f =>
        val in = HadoopInputFile.fromPath(new HPath(f.toUri), new Configuration())
        Using.resource(ParquetFileReader.open(in))(_.getFooter.getBlocks.asScala.toVector
          .flatMap(_.getColumns.asScala))
      }.groupBy(_.getPath.toDotString)

  private def dictionaryEncoded(cs: Seq[ColumnChunkMetaData]): Boolean =
    cs.nonEmpty && cs.forall(c => c.hasDictionaryPage && c.getEncodings.asScala.exists(_.usesDictionary))

  test("upsert writes value without a parquet dictionary; the other columns keep theirs") {
    import spark.implicits._
    val dir = tempDir("snapdict")
    // three distinct small values over 300 rows: a dictionary's best case
    ExternalSnapshots.upsert((0 until 300).map(i =>
      ExternalSnapshots.rowFor(key(s"k$i"), i, "", s"v${i % 3}".getBytes("UTF-8"))).toDS(), dir.toString)
    val cols = chunks(dir)
    assert(cols("value").forall(c => !c.hasDictionaryPage && !c.getEncodings.asScala.exists(_.usesDictionary)),
      cols("value").map(_.getEncodings).mkString(", "))
    assert(dictionaryEncoded(cols("topic")) && dictionaryEncoded(cols("metadata")))
  }

  test("upsert, compact and readLatest start no process naming the store; " +
    "a plain parquet write does") {
    import spark.implicits._
    val store, compacted, plain = tempDir("snapfork").toRealPath()
    val rows = (0 until 40).map(i =>
      ExternalSnapshots.rowFor(key(s"k$i"), i, "", Array.fill(i * 500)(i.toByte))).toDS()
    val starts = processStarts {
      ExternalSnapshots.upsert(rows, store.toString)
      ExternalSnapshots.upsert(rows, store.toString)
      ExternalSnapshots.compact(spark, store.toString, compacted.toString)
      Seq(store, compacted).foreach(d =>
        assert(ExternalSnapshots.readLatest(spark, d.toString, "app", "g").count() == 40))
      rows.toDF().write.partitionBy("application_id", "group_id").parquet(plain.resolve("out").toString)
    }
    def naming(d: Path) = starts.filter(_.contains(d.toString))
    val forked = naming(store) ++ naming(compacted)
    assert(forked.isEmpty, s"${forked.size} process starts name the store, first ${forked.take(3)}")
    assert(org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded || naming(plain).nonEmpty,
      "control: without libhadoop a plain parquet write starts chmod processes")
  }

  test("the store's files and directories get the modes and .crc sidecars of a plain parquet write") {
    // a umask other than the process's: a mode that was never set shows
    val s = spark.newSession()
    s.conf.set("fs.permissions.umask-mode", "027")
    import s.implicits._
    val store, plain = tempDir("snapmode")
    val rows = (0 until 20).map(i =>
      ExternalSnapshots.rowFor(key(s"k$i"), i, "", Array.fill(i * 1000)(i.toByte))).toDS().repartition(3)
    ExternalSnapshots.upsert(rows, store.toString)
    // Hadoop's own local filesystem, uncached so it reads the session's umask
    rows.toDF().write.mode("append").option("fs.file.impl.disable.cache", "true")
      .partitionBy("application_id", "group_id").parquet(plain.toString)
    /** Each path's name, part-file ids dropped, to how many have it and their modes. */
    def tree(root: Path): Map[String, (Int, Set[String])] =
      Using.resource(Files.walk(root))(_.iterator.asScala.filter(_ != root).toVector)
        .map(p => root.relativize(p).toString.replaceAll("part-[0-9]+-[0-9a-f-]+\\.c[0-9]+", "part") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
        .groupBy(_._1).map { case (n, v) => n -> ((v.size, v.map(_._2).toSet)) }
    val stamp = ExternalSnapshots.FormatFileName
    val got = tree(store)
    val want = tree(plain)
    assert(got -- Seq(stamp, s".$stamp.crc") == want)
    val data = "application_id=app/group_id=g/part.snappy.parquet"
    assert(want(data)._1 == 3 && want(s"application_id=app/group_id=g/.part.snappy.parquet.crc")._1 == 3)
    assert(want(data)._2 == Set("rw-r-----") && want("application_id=app")._2 == Set("rwxr-x---"),
      s"the umask must reach both writers: $want")
    assert(got(stamp)._2 == want(data)._2 && got(s".$stamp.crc")._2 == want(data)._2)
  }

  test("the local filesystem keeps a sticky bit through Hadoop's own chmod") {
    val dir = tempDir("snapsticky")
    def octal(s: String) = Integer.parseInt(s, 8)
    def mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & octal("7777")
    val fs = new LocalStoreFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs.setPermission(new HPath(dir.toUri), new FsPermission(octal("1750").toShort))
    assert(mode == octal("1750"))
    // without a sticky bit the java.nio path sets the mode, clearing it as chmod 0700 does
    fs.setPermission(new HPath(dir.toUri), new FsPermission(octal("700").toShort))
    assert(mode == octal("700"))
  }

  test("a store holding a dictionary-encoded generation (the earlier writer) " +
    "and an upsert generation reads back exactly") {
    import spark.implicits._
    val dir = tempDir("snapmixed")
    val threshold = ExternalSnapshots.CompressionThresholdBytes
    def value(k: Int, gen: Int) = Array.fill(if (k % 2 == 0) threshold + k else 100 + k)((k * gen).toByte)
    // generation 1 as the earlier writer left it: frames, parquet's
    // default encodings, and the stamp. Its values repeat, so parquet
    // keeps the dictionary it would drop for distinct ones.
    def first(k: Int) = value(k % 4, 1)
    Files.write(dir.resolve(ExternalSnapshots.FormatFileName),
      ExternalSnapshots.FormatId.getBytes("UTF-8"))
    (0 until 30).map(k => ExternalSnapshots.rowFor(key(s"k$k"), k, s"m$k",
        Compressor.encodeFrame(first(k), threshold))).toDS()
      .write.mode("append").partitionBy("application_id", "group_id").parquet(dir.toString)
    assert(dictionaryEncoded(chunks(dir)("value")), "generation 1 must hold a dictionary-encoded value")
    // generation 2: keys 20-39 rewritten or new, key 25 deleted
    ExternalSnapshots.upsert((20 until 40).map(k => ExternalSnapshots.rowFor(key(s"k$k"), 100 + k, s"n$k",
      if (k == 25) null else value(k, 2))).toDS(), dir.toString)
    val want = (0 until 40).filter(_ != 25).map { k =>
      if (k < 20) (s"k$k", k.toLong, s"m$k", first(k).toSeq)
      else (s"k$k", 100L + k, s"n$k", value(k, 2).toSeq)
    }.toSet
    val got = ExternalSnapshots.readLatest(spark, dir.toString, "app", "g").collect().map(r =>
      (r.getAs[String]("key"), r.getAs[Long]("offset"), r.getAs[String]("metadata"),
        r.getAs[Array[Byte]]("value").toSeq)).toSet
    assert(got == want)
  }

  test("journal STREAMING source: live tail into KeyFlowTws matches batch " +
    "replay across appends, at-least-once duplicates dropped in flight") {
    assert(forkSmoke("graft.streaming.JournalStreamSmoke") == 0,
      "JournalStreamSmoke forked JVM reported stream/batch journal mismatch")
  }
}
