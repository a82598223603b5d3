package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem every engine session installs ([[Sessions]]):
  * Hadoop's checksummed LocalFileSystem over a raw one that sets permission
  * bits through NIO. Without libhadoop (Spark's distribution ships none),
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory a write creates: 14 forks for a `Catalog.commitAppend` of two
  * part files, half in the write tasks and half on the driver. On a 4-core
  * Xeon host a call took 3.1–3.6 ms that way and 0.02–0.10 ms through
  * `Files.setPosixFilePermissions`. The mode bits set are the same. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val bits = PosixFilePermission.values // OWNER_READ (0400) … OTHERS_EXECUTE (0001)

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // sticky and set-id bits have no NIO form: those go through chmod
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[PosixFilePermission]()
        bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) perms.add(bits(i)))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
