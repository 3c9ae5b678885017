package graft.sources

import java.net.URI
import java.nio.file.{Files => NioFiles}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

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
 * other scheme keep their filesystem; Spark's streaming checkpoint files
 * reach it through [[GraftCheckpointFileManager]].
 */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

object GraftLocalFileSystem {
  private val LocalUri = URI.create("file:///")

  private[sources] def isLocal(path: Path, conf: Configuration): Boolean =
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

/**
 * The checkpoint file manager graft's streaming queries run under. Every call
 * goes to one inner manager: on the `file` scheme Spark's own
 * [[FileSystemBasedCheckpointFileManager]] over [[GraftLocalFileSystem]]
 * (routed on a private copy of `conf`), on any other scheme whatever
 * `CheckpointFileManager.create` picks for a copy of `conf` without
 * [[GraftCheckpointFileManager.ClassKey]], so HDFS or S3 checkpoints keep
 * Spark's choice.
 *
 * Spark's default, the FileContext-based manager, forks about ten processes
 * per checkpoint file on a local path without libhadoop: `readlink` from
 * its symlink-aware rename and `chmod` for the file and its `.crc` sidecar.
 * Every micro-batch writes an offsets entry, a commit entry, a source-log
 * entry and one state-store delta per stateful partition, so the forks are
 * a large share of a small batch. The FileSystem-based manager writes the
 * same files — a hidden temp file with its sidecar, umask-derived bits, an
 * exists check and then a rename — and on graft's local FS forks nothing.
 *
 * Spark makes it by name from the session key
 * [[GraftCheckpointFileManager.ClassKey]], with the checkpoint path and the
 * session's Hadoop conf; [[GraftCheckpointFileManager.installIfUnset]] sets it.
 */
class GraftCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  /** The manager every call goes to. */
  val inner: CheckpointFileManager = {
    val own = new Configuration(conf)
    if (GraftLocalFileSystem.isLocal(path, own))
      new FileSystemBasedCheckpointFileManager(path, GraftLocalFileSystem.routeLocal(own))
    else {
      own.unset(GraftCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, own)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    inner.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = inner.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = inner.list(p, filter)
  override def list(p: Path): Array[FileStatus] = inner.list(p)
  override def mkdirs(p: Path): Unit = inner.mkdirs(p)
  override def exists(p: Path): Boolean = inner.exists(p)
  override def delete(p: Path): Unit = inner.delete(p)
  override def isLocal: Boolean = inner.isLocal
  override def createCheckpointDirectory(): Path = inner.createCheckpointDirectory()
  override def close(): Unit = inner.close()
}

object GraftCheckpointFileManager {
  /** The session key Spark reads its checkpoint manager class from (an
    * internal `SQLConf` entry, read through `sessionState.newHadoopConf()`). */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make graft's manager the session's unless the session or its Hadoop
    * conf already names one: a value the user set wins. The session keeps
    * it, so every later query of the session writes its checkpoint through
    * graft's manager too. */
  def installIfUnset(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains(ClassKey) &&
        spark.sparkContext.hadoopConfiguration.get(ClassKey) == null)
      spark.conf.set(ClassKey, classOf[GraftCheckpointFileManager].getName)
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
