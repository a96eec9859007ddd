package graft.streaming

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

object LocalCheckpointFileManagerSpec {
  val creates = new AtomicInteger()

  /** The local filesystem under a scheme of its own, counting creates. */
  class CountingFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftcount:///")
    override def getScheme: String = "graftcount"
    override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
      creates.incrementAndGet()
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
  }
}

class LocalCheckpointFileManagerSpec extends SparkTestBase {
  import LocalCheckpointFileManagerSpec._

  private val conf = new Configuration()

  private def manager(dir: java.nio.file.Path): LocalCheckpointFileManager = {
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    assert(fm.underlying.isInstanceOf[NioCheckpointFileManager])
    fm
  }
  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def names(dir: java.nio.file.Path): Set[String] =
    Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet)

  test("a file is invisible until close and leaves no temp file behind") {
    val dir = tempDir("lcfm")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString + "/sub/0")
    val out = fm.createAtomic(p, false)
    out.write("batch 0".getBytes(UTF_8))
    assert(!fm.exists(p))
    out.close()
    assert(read(fm, p) == "batch 0")
    assert(names(dir.resolve("sub")) == Set("0"))
    assert(fm.list(new Path(dir.toUri.toString + "/sub")).map(_.getPath.getName).toSeq == Seq("0"))
  }

  test("cancel leaves neither the file nor the temp file") {
    val dir = tempDir("lcfm")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString + "/0")
    val out = fm.createAtomic(p, false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("a write without overwrite onto an existing file throws Hadoop's " +
    "FileAlreadyExistsException and keeps the old bytes; overwrite replaces them") {
    val dir = tempDir("lcfm")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString + "/0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"))
    Files.write(dir.resolve(".0.crc"), Array[Byte](1, 2, 3)) // a stale Hadoop sidecar
    write(fm, p, "third", overwrite = true)
    assert(read(fm, p) == "third")
    assert(names(dir) == Set("0"), "the replaced file's sidecar must go with it")
  }

  test("list, exists, open and delete on missing paths behave as Spark's manager does; " +
    "a file Spark's manager wrote reads and lists the same") {
    val dir = tempDir("lcfm")
    val ours = manager(dir)
    val stock = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
    val missing = new Path(dir.toUri.toString + "/missing")
    def probe(fm: CheckpointFileManager): Seq[Any] = Seq(
      Try(fm.exists(missing)),
      Try(fm.delete(missing)),
      Try(fm.list(missing).length).toEither.left.map(_.getClass),
      Try(fm.open(missing)).toEither.map(_ => ()).left.map(_.getClass))
    assert(probe(ours) == probe(stock))
    assert(probe(ours)(2) == Left(classOf[java.io.FileNotFoundException]))

    val logDir = new Path(dir.toUri.toString + "/log")
    val p = new Path(logDir, "0")
    stock.mkdirs(logDir)
    write(stock, p, "from spark", overwrite = false)
    assert(names(dir.resolve("log")) == Set("0", ".0.crc"))
    assert(ours.list(logDir).map(_.getPath).toSeq == stock.list(logDir).map(_.getPath).toSeq)
    assert(read(ours, p) == "from spark")
    ours.delete(p)
    assert(names(dir.resolve("log")).isEmpty)
  }

  test("a path under another scheme goes to Spark's stock manager") {
    val dir = tempDir("lcfm")
    val other = new Configuration()
    other.set("fs.graftcount.impl", classOf[CountingFs].getName)
    other.setBoolean("fs.graftcount.impl.disable.cache", true)
    // named as a session names it: the stock choice must not come back here
    other.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val root = new Path(s"graftcount://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, other)
    // no FileContext binding for the scheme: Spark falls back to FileSystem
    assert(fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val before = creates.get
    val p = new Path(root, "0")
    write(fm, p, "remote", overwrite = false)
    assert(creates.get > before)
    assert(read(fm, p) == "remote")
    // a scheme-less path follows the default filesystem
    other.set("fs.defaultFS", "graftcount:///")
    val schemeless = new LocalCheckpointFileManager(new Path(dir.toUri.getPath), other)
    assert(schemeless.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("restart across Spark's manager and this one keeps exact per-key state; " +
    "flow keeps a user's explicit setting (forked)") {
    assert(forkSmoke("graft.streaming.CheckpointIoSmoke", Nil,
      args = Seq("restart", tempDir("ckptio").toString)) == 0)
  }

  test("fork guard: no process starts from checkpoint I/O in 3 microbatches (forked, JFR)") {
    assert(forkSmoke("graft.streaming.CheckpointIoSmoke", Nil,
      args = Seq("forks", tempDir("ckptio").toString),
      jvmArgs = Seq("-XX:FlightRecorderOptions:stackdepth=256")) == 0)
  }
}
