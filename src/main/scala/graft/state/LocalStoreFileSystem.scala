package graft.state

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import scala.jdk.CollectionConverters._

/** Hadoop's `file:` filesystem (checksummed, `.crc` sidecars included) with
  * `setPermission` done in-process. Without libhadoop, Hadoop's local
  * filesystem sets the mode of every file and directory it creates by
  * starting a `chmod` process; a parquet write of the snapshot store
  * creates a few dozen. [[ExternalSnapshots]] selects this class for its
  * own writes only, through [[LocalStoreFileSystem.Conf]]. */
final class LocalStoreFileSystem extends LocalFileSystem(new LocalStoreFileSystem.Raw)

object LocalStoreFileSystem {
  /** Hadoop conf entries that make `file:` paths resolve to this class.
    * The instance is not cached, so the session's cached `file:`
    * filesystem, other writers and other schemes are untouched. */
  val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalStoreFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `PosixFilePermission.values` run from owner read to others execute,
    * i.e. from mode bit 8 down to bit 0. */
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  /** Sets the same nine mode bits as Hadoop's `chmod` through java.nio's
    * POSIX view. A sticky bit, which that view cannot set, or a
    * filesystem without the view goes to Hadoop's own code. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (view == null || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        view.setPermissions(Bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava)
      }
    }
  }
}
