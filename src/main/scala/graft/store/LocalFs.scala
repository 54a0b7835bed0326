package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, with permissions set in-process.
  *
  * Without native Hadoop IO (`NativeIO.isAvailable()` false), the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` process
  * (`Shell.execCommand`), and every `create` and `mkdirs` calls it: ~23
  * forks per upload in the benchmark's ingest workload, between the
  * store's commits, its data moves and the parquet write tasks.
  * [[LocalFs.Raw]] sets a mode within `0777` from the JVM instead (a `stat`
  * and a `chmod(2)`); a mode with higher bits keeps Hadoop's own path.
  * Everything else — the `.crc` files, their verification, the umask — is
  * the stock filesystem's.
  *
  * graft's sessions register it for `file://` ([[graft.Sessions.builder]]);
  * an application-owned session on local disk sets
  * `spark.hadoop.fs.file.impl=graft.store.LocalFs`. HDFS and object stores
  * are not affected. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val PermBits = Integer.parseInt("777", 8)
  private val SetIdBits = Integer.parseInt("6000", 8)
  private val DirType = Integer.parseInt("40000", 8)

  class Raw extends RawLocalFileSystem {
    /** The mode `chmod` would leave: the permission bits as given, and on a
      * directory its set-user-ID and set-group-ID bits kept, as GNU `chmod`
      * keeps them for a four-digit numeric mode. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~PermBits) != 0) super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        val now = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        val keep = if ((now & DirType) != 0) now & SetIdBits else 0
        Files.setAttribute(f, "unix:mode", Integer.valueOf(mode | keep))
      }
    }
  }
}
