package graft.sources

import java.net.URI
import java.nio.file.{Files => NioFiles}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils

/**
 * The local filesystem graft's own writes go through on the `file` scheme:
 * Hadoop's checksummed [[LocalFileSystem]] around [[GraftRawLocalFileSystem]].
 *
 * Without libhadoop, Hadoop's raw local FS sets the permission of every file
 * and directory it creates by forking a `chmod` process, a few milliseconds
 * each; a parquet file with its `.crc` sidecar costs two forks, a new
 * directory one. The raw FS here sets the same POSIX bits through
 * `java.nio` instead. Everything else is Hadoop's: the `.crc` sidecars, the
 * umask from `fs.permissions.umask-mode`, rename and delete, so the files,
 * sidecars and permissions on disk are the ones `LocalFileSystem` writes.
 *
 * It is chosen per path by [[GraftLocalFileSystem.forPath]] and, for
 * writers that open files through a conf (parquet), by
 * [[GraftLocalFileSystem.routeLocal]] on a writer-private copy. The
 * session's `fs.file.impl` is never changed, so Spark's own files and every
 * other scheme keep their filesystem.
 */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

object GraftLocalFileSystem {
  private val LocalUri = URI.create("file:///")

  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The filesystem graft writes `path` through: a [[GraftLocalFileSystem]]
    * configured by `conf` on the `file` scheme, `path.getFileSystem(conf)`
    * on any other. The instance is made as Hadoop makes an uncached one and
    * is not cached itself; making it reads a few conf keys and does no IO. */
  def forPath(path: Path, conf: Configuration): FileSystem =
    if (!isLocal(path, conf)) path.getFileSystem(conf)
    else {
      val fs = ReflectionUtils.newInstance(classOf[GraftLocalFileSystem], conf)
      fs.initialize(LocalUri, conf)
      fs
    }

  /** Point `conf`'s `file` scheme at [[GraftLocalFileSystem]], uncached so
    * the choice stays with this conf. Only for a conf the caller owns: set
    * on a shared conf it would reach Spark's own files. Returns `conf`. */
  def routeLocal(conf: Configuration): Configuration = {
    conf.set("fs.file.impl", classOf[GraftLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }
}

/** Hadoop's raw local FS with `setPermission` done through `java.nio`
  * instead of a forked `chmod`. `create` and `mkdirs` reach it for every new
  * file and directory. A mode `java.nio` cannot express (the sticky bit), or
  * a filesystem without POSIX attributes, goes to Hadoop's own code. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]()
      // PosixFilePermission's order is OWNER_READ (0400) … OTHERS_EXECUTE (0001).
      PosixFilePermission.values().zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) bits.add(b)
      }
      try NioFiles.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
