package graft.state

import graft.SparkTestBase

/** The transactional-publish contract: atomic swap, crash invisibility,
  * snapshot isolation / time travel, race-safe version allocation, and
  * vacuum retention.
  */
class TxnParquetSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  private def base(): String =
    tempDir("txnpq").toString + "/table"

  test("publish then read round-trips; second publish swaps atomically; " +
    "old version stays readable (time travel)") {
    import spark.implicits._
    val b = base()
    val v1 = TxnParquet.publish((1 to 100).toDF("id"), b)
    assert(v1 == 1L)
    assert(TxnParquet.read(spark, b).count() == 100)
    val v2 = TxnParquet.publish((1 to 250).toDF("id"), b)
    assert(v2 == 2L)
    assert(TxnParquet.read(spark, b).count() == 250)
    assert(TxnParquet.readVersion(spark, b, 1).count() == 100)
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L))
  }

  test("a crash before commit (data files, no manifest) is invisible") {
    import spark.implicits._
    val b = base()
    TxnParquet.publish((1 to 50).toDF("id"), b)
    // simulate a dying writer: orphan data directory, no manifest
    (1 to 999).toDF("id").write.parquet(s"$b/data/orphan-crashed-writer")
    assert(TxnParquet.read(spark, b).count() == 50)
    assert(TxnParquet.versions(spark, b) == Seq(1L))
    // the next successful publish is unaffected
    val v = TxnParquet.publish((1 to 60).toDF("id"), b)
    assert(v == 2L && TxnParquet.read(spark, b).count() == 60)
  }

  test("losing a commit race costs one rename, not a rewrite") {
    import spark.implicits._
    val b = base()
    TxnParquet.publish((1 to 10).toDF("id"), b)
    // another committer claims version 2 between our write and commit:
    // pre-create the manifest name the publisher will try first
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stolen = new org.apache.hadoop.fs.Path(s"$b/_manifests/2.json")
    fs.create(new org.apache.hadoop.fs.Path(s"$b/_manifests/2.claim"), false).close()
    val out = fs.create(stolen, false)
    // a valid manifest written by the "other" committer: reuse v1's files
    val v1Files = TxnParquet.readVersion(spark, b, 1)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    out.write(v1Files.mkString("\n").getBytes("UTF-8")); out.close()
    val v = TxnParquet.publish((1 to 30).toDF("id"), b)
    assert(v == 3L, s"publisher should slide past the stolen version, got $v")
    assert(TxnParquet.read(spark, b).count() == 30)
    assert(TxnParquet.readVersion(spark, b, 2).count() == 10) // the thief's view
  }

  test("diff between versions emits exactly the inserts/updates/deletes") {
    import spark.implicits._
    val b = base()
    TxnParquet.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), b)
    TxnParquet.publish(Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("id", "v"), b)
    val d = TxnParquet.diff(spark, b, "id", 1L, 2L)
      .select("id", "op").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((1L, "delete"), (3L, "update"), (4L, "insert")))
  }

  test("a streaming foreachBatch sink publishes one atomic version per " +
    "microbatch; readers see whole snapshots only") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val b = base()
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDS().toDF("id").writeStream
      .outputMode("append")
      .option("checkpointLocation",
        tempDir("txnstream").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { TxnParquet.publish(batch, b); () }
      }
      .start()
    Seq(1L to 10L, 11L to 25L, 26L to 30L).foreach { r =>
      input.addData(r); q.processAllAvailable()
    }
    q.stop()
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L, 3L))
    assert(TxnParquet.read(spark, b).count() == 5)        // newest microbatch
    assert(TxnParquet.readVersion(spark, b, 2).count() == 15)
    // union of versions reconstructs the full stream
    val all = TxnParquet.versions(spark, b)
      .map(v => TxnParquet.readVersion(spark, b, v)).reduce(_ union _)
    assert(all.count() == 30 && all.distinct().count() == 30)
  }

  test("two genuinely concurrent publishers both commit, to distinct versions") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val b = base()
    TxnParquet.publish((1 to 5).toDF("id"), b)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def racer(n: Int): Future[Long] = Future {
      gate.await()
      TxnParquet.publish((1 to n).toDF("id"), b)
    }
    val (fa, fb) = (racer(100), racer(200))
    gate.countDown()
    val va = Await.result(fa, 120.seconds)
    val vb = Await.result(fb, 120.seconds)
    assert(va != vb, s"both committers claimed version $va")
    assert(Set(va, vb) == Set(2L, 3L))
    assert(TxnParquet.readVersion(spark, b, va).count() == 100)
    assert(TxnParquet.readVersion(spark, b, vb).count() == 200)
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L, 3L))
  }

  test("DETERMINISTIC race: two committers starting from the SAME next " +
    "version get distinct versions; neither manifest is clobbered") {
    // the r8-flagged failure mode: both publishers compute next = 2, and
    // on a rename-overwrites filesystem both 'succeed' onto 2.json. The
    // claim protocol makes the second committer slide to 3 even when both
    // start at exactly the same number — reproduced here sequentially, so
    // the old code fails deterministically (its second rename clobbers).
    import spark.implicits._
    val b = base()
    TxnParquet.publish((1 to 10).toDF("id"), b)
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tmpManifest(rows: Int, name: String): org.apache.hadoop.fs.Path = {
      val dir = s"$b/data/$name"
      (1 to rows).toDF("id").write.parquet(dir)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).sorted
      val tmp = new org.apache.hadoop.fs.Path(s"$b/_manifests/.tmp-$name")
      val out = fs.create(tmp, true)
      out.write(files.mkString("\n").getBytes("UTF-8")); out.close()
      tmp
    }
    val t1 = tmpManifest(111, "racer-one")
    val t2 = tmpManifest(222, "racer-two")
    val v1 = TxnParquet.commitFrom(fs, b, t1, startV = 2L) // same startV:
    val v2 = TxnParquet.commitFrom(fs, b, t2, startV = 2L) // the race, forced
    assert(v1 == 2L && v2 == 3L, s"expected (2,3), got ($v1,$v2)")
    assert(TxnParquet.readVersion(spark, b, 2).count() == 111)
    assert(TxnParquet.readVersion(spark, b, 3).count() == 222)
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L, 3L))
  }

  test("eight concurrent publishers all commit to distinct versions with " +
    "no lost manifest") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val b = base()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val racers = (1 to 8).map { n =>
      Future { gate.await(); n -> TxnParquet.publish((1 to n * 10).toDF("id"), b) }
    }
    gate.countDown()
    val landed = racers.map(Await.result(_, 300.seconds)).toMap
    assert(landed.values.toSeq.sorted == (1L to 8L), s"versions: $landed")
    // every publisher's rows are readable at its returned version
    landed.foreach { case (n, v) =>
      assert(TxnParquet.readVersion(spark, b, v).count() == n * 10L, s"racer $n at v$v")
    }
    assert(TxnParquet.versions(spark, b) == (1L to 8L))
  }

  test("OVERTAKE: a committer holding a low claim slides above a version " +
    "committed in the meantime instead of publishing into the past") {
    // models the stall-between-claim-and-rename race: B claimed 6 and
    // COMMITTED while A held 5.claim. A must not rename 5.json (it would
    // 'succeed' yet never be the newest snapshot) — it re-checks and
    // slides to 7.
    import spark.implicits._
    val b = base()
    (1 to 4).foreach(i => TxnParquet.publish((1 to i).toDF("id"), b))
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the overtaker's committed version 6 (claim + manifest)
    fs.create(new org.apache.hadoop.fs.Path(s"$b/_manifests/6.claim"), false).close()
    val v4Files = TxnParquet.readVersion(spark, b, 4)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0))
    val o6 = fs.create(new org.apache.hadoop.fs.Path(s"$b/_manifests/6.json"), false)
    o6.write(v4Files.mkString("\n").getBytes("UTF-8")); o6.close()
    // A: data written, tmp manifest staged, about to commit from startV=5
    (1 to 99).toDF("id").write.parquet(s"$b/data/stalled-committer")
    val aFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$b/data/stalled-committer"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    val tmp = new org.apache.hadoop.fs.Path(s"$b/_manifests/.tmp-stalled")
    val out = fs.create(tmp, true)
    out.write(aFiles.mkString("\n").getBytes("UTF-8")); out.close()
    val v = TxnParquet.commitFrom(fs, b, tmp, startV = 5L)
    assert(v == 7L, s"expected slide to 7, got $v")
    assert(TxnParquet.read(spark, b).count() == 99) // A IS the newest snapshot
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$b/_manifests/5.json")))
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L, 3L, 4L, 6L, 7L))
  }

  test("POST-RENAME OVERTAKE: a commit landing inside the re-scan→rename " +
    "window is detected after the rename and re-published above it — " +
    "read() after publish always sees the write") {
    // the last acknowledged window: A re-scans (sees nothing newer),
    // B commits 7, A renames 2.json. Old behavior returned 2 and read()
    // served B's 7 — A's publish was invisible to newest-readers forever.
    // Simulated deterministically with a wrapper fs that hides B's
    // committed 7 from listStatus until A's first rename has happened.
    import spark.implicits._
    val b = base()
    TxnParquet.publish((1 to 10).toDF("id"), b)
    val raw = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // B's committed version 7 (claim + manifest reusing v1's files)
    raw.create(new org.apache.hadoop.fs.Path(s"$b/_manifests/7.claim"), false).close()
    val v1Files = TxnParquet.readVersion(spark, b, 1)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0))
    val o7 = raw.create(new org.apache.hadoop.fs.Path(s"$b/_manifests/7.json"), false)
    o7.write(v1Files.mkString("\n").getBytes("UTF-8")); o7.close()
    // A: data + tmp manifest staged
    (1 to 99).toDF("id").write.parquet(s"$b/data/window-victim")
    val aFiles = raw.listStatus(new org.apache.hadoop.fs.Path(s"$b/data/window-victim"))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
    val tmp = new org.apache.hadoop.fs.Path(s"$b/_manifests/.tmp-window-victim")
    val out = raw.create(tmp, true)
    out.write(aFiles.mkString("\n").getBytes("UTF-8")); out.close()
    // wrapper: 7.json invisible to listStatus until the first rename
    val renamed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fsW = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def listStatus(p: org.apache.hadoop.fs.Path)
          : Array[org.apache.hadoop.fs.FileStatus] = {
        val all = super.listStatus(p)
        if (renamed.get()) all
        else all.filterNot(_.getPath.getName == "7.json")
      }
      override def rename(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = {
        val ok = super.rename(src, dst)
        renamed.set(true) // B's 7 becomes visible only after A's rename
        ok
      }
    }
    val v = TxnParquet.commitFrom(fsW, b, tmp, startV = 2L)
    assert(v == 8L, s"expected re-publish above the overtaker at 8, got $v")
    // A's content IS the newest snapshot — read-your-write holds
    assert(TxnParquet.read(spark, b).count() == 99)
    assert(TxnParquet.readVersion(spark, b, v).count() == 99)
    // the overtaken rename stays readable (publishes never delete) with
    // identical content — the race costs one duplicate snapshot at most
    assert(TxnParquet.readVersion(spark, b, 2).count() == 99)
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L, 7L, 8L))
  }

  test("vacuum cleans stale .tmp manifests and spent .claim files") {
    import spark.implicits._
    val b = base()
    TxnParquet.publish((1 to 10).toDF("id"), b)
    TxnParquet.publish((1 to 20).toDF("id"), b)
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a writer that died between manifest write and commit
    val dead = new org.apache.hadoop.fs.Path(s"$b/_manifests/.tmp-dead-writer")
    val out = fs.create(dead, true); out.write("x".getBytes("UTF-8")); out.close()
    TxnParquet.vacuum(spark, b, keepLast = 2)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$b/_manifests"))
      .map(_.getPath.getName).toSet
    assert(!names.exists(_.startsWith(".tmp-")), s"tmp survived: $names")
    assert(!names.exists(_.endsWith(".claim")), s"claims survived: $names")
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L)) // manifests intact
    assert(TxnParquet.read(spark, b).count() == 20)
  }

  test("vacuum keeps the last K versions and deletes unreferenced data dirs") {
    import spark.implicits._
    val b = base()
    (1 to 4).foreach(i => TxnParquet.publish((1 to i * 10).toDF("id"), b))
    assert(TxnParquet.versions(spark, b) == Seq(1L, 2L, 3L, 4L))
    TxnParquet.vacuum(spark, b, keepLast = 2)
    assert(TxnParquet.versions(spark, b) == Seq(3L, 4L))
    assert(TxnParquet.read(spark, b).count() == 40)
    assert(TxnParquet.readVersion(spark, b, 3).count() == 30)
    // dropped versions' data dirs are gone
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$b/data"))
      .count(_.isDirectory)
    assert(dataDirs == 2, s"expected 2 surviving data dirs, got $dataDirs")
    intercept[IllegalArgumentException] {
      TxnParquet.readVersion(spark, b, 1).count()
    }
  }
}
