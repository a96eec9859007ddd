package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Streaming checkpoint I/O for local paths through `java.nio`, plugged in
  * at Spark's own extension point `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Every microbatch writes the offset log, the commit log and each state
  * store's files atomically through a `CheckpointFileManager`. Spark's
  * default goes through Hadoop's local filesystem, which without libhadoop
  * runs a shell command for every `chmod` in `create` and every `readlink`
  * in `rename`: about 100 process starts per microbatch of a 4-store
  * `KeyFlowTws` query, each with a stderr-reader thread. This manager
  * starts none.
  *
  * Local paths (scheme `file`, or no scheme under a `file` default
  * filesystem):
  *  - `createAtomic` writes a `.<name>.<uuid>.tmp` sibling and renames it
  *    onto the target on `close`; `cancel`, or a failed rename, deletes it.
  *  - With overwrite the rename is `Files.move(ATOMIC_MOVE)`, i.e.
  *    rename(2). Without, it is a hard link (link(2) fails on an existing
  *    target) and then the temp file is deleted, so an existing target
  *    throws Hadoop's `FileAlreadyExistsException` and keeps its bytes —
  *    what `HDFSMetadataLog` relies on to detect a concurrent writer. The
  *    checkpoint directory must be on a filesystem with hard links.
  *  - Durability is Hadoop's local filesystem's: atomic rename, no fsync.
  *  - Hadoop's `.<name>.crc` sidecars are hidden from `list`, and a
  *    replaced or deleted file loses its sidecar, so a checkpoint moves
  *    between this manager and Spark's in both directions.
  *
  * Any other scheme goes to Spark's stock manager, chosen as
  * `CheckpointFileManager.create` chooses it (FileContext, falling back to
  * FileSystem).
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[streaming] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocalPath(path, hadoopConf)) new NioCheckpointFileManager(path)
    else LocalCheckpointFileManager.stock(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** Spark's conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's own choice for `path`, with this class taken out of the conf. */
  private def stock(path: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ConfKey)
    CheckpointFileManager.create(path, c)
  }
}

private final class NioCheckpointFileManager(root: Path) extends CheckpointFileManager {
  import NioCheckpointFileManager._

  private def local(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)
  private def qualified(f: java.nio.file.Path): Path = new Path("file", null, f.toAbsolutePath.toString)
  private def isCrc(f: java.nio.file.Path): Boolean = {
    val n = f.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }
  /** Hadoop's callers expect `FileNotFoundException`, not nio's. */
  private def notFoundAs[T](p: Path)(body: => T): T =
    try body catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = local(p)
    Files.createDirectories(dst.getParent)
    new AtomicOutput(dst, dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
      overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = notFoundAs(p) {
    new FSDataInputStream(new BufferedFSInputStream(new NioInputStream(FileChannel.open(local(p))), BufferBytes))
  }

  /** Like Hadoop's local listing, an entry deleted between the listing and
    * its stat is skipped. */
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = notFoundAs(p) {
    Using.resource(Files.list(local(p)))(_.iterator.asScala.filterNot(isCrc).toVector).flatMap { e =>
      try {
        val a = Files.readAttributes(e, classOf[BasicFileAttributes])
        Some(new FileStatus(a.size, a.isDirectory, 1, 0L, a.lastModifiedTime.toMillis, qualified(e)))
      } catch { case _: NoSuchFileException => None }
    }.filter(s => filter.accept(s.getPath)).toArray
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  /** Recursive, and a missing path is no error. */
  override def delete(p: Path): Unit = {
    val f = local(p)
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS))
      Using.resource(Files.walk(f))(_.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists))
    else {
      Files.deleteIfExists(f)
      Files.deleteIfExists(crcOf(f))
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val f = local(root)
    Files.createDirectories(f)
    qualified(f)
  }
}

private object NioCheckpointFileManager {
  val BufferBytes: Int = 64 * 1024

  def crcOf(f: java.nio.file.Path): java.nio.file.Path = f.resolveSibling(s".${f.getFileName}.crc")

  /** Writes `tmp`; `close` renames it onto `dst`, `cancel` drops it. */
  final class AtomicOutput(dst: java.nio.file.Path, tmp: java.nio.file.Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp), BufferBytes)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(dst, tmp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
          Files.deleteIfExists(crcOf(dst))
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}

/** A seekable read over a `FileChannel`, as Hadoop's `FSDataInputStream` needs. */
private final class NioInputStream(ch: FileChannel) extends FSInputStream {
  override def seek(pos: Long): Unit = ch.position(pos)
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def read(): Int = {
    val b = new Array[Byte](1)
    if (read(b, 0, 1) == 1) b(0) & 0xff else -1
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
  override def close(): Unit = ch.close()
}
