package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `file:` FileContext filesystem (`fs.local.LocalFs`: a
  * `ChecksumFs` over a `RawLocalFileSystem`, so `.crc` files and verified
  * reads stay byte-compatible) without its child processes. With no
  * libhadoop, the raw filesystem runs `chmod` for each file or dir it
  * creates and `readlink` for each status lookup of a `FileContext.rename`:
  * about 160 spawns per streaming ingest query, all in Spark's checkpoint
  * and sink-log writes. Here both are answered in-process; only a
  * symlink or a sticky-bit mode still takes Hadoop's path.
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new LocalFs.Raw(uri, conf))

object LocalFs {
  private[graft] val Key = "fs.AbstractFileSystem.file.impl"

  /** Use [[LocalFs]] for `file:` FileContexts made from `spark`'s Hadoop
    * conf, unless something other than Hadoop's default (core-default.xml
    * always sets the key) is already chosen there.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(Key) == classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      conf.set(Key, classOf[LocalFs].getName)
  }

  /** Hadoop's `RawLocalFs` over [[NoSpawn]]. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NoSpawn, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private class NoSpawn extends RawLocalFileSystem {
    // the mode is re-read from its bits: a mkdir passes an `FsCreateModes`,
    // whose toString is not the `rwxr-xr-x` form
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))

    // for a path that is not a link, Hadoop's answer after its `readlink`
    // is exactly `getFileStatus(f)`
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
