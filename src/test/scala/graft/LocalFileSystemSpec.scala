package graft

import java.nio.file.{Files, Path => NioPath, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftLocalFileSystem, GraftManifest, GraftRawLocalFileSystem}
import graft.streaming.StreamingPipeline
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/**
 * [[GraftLocalFileSystem]]: graft's writes on the `file` scheme go through
 * it, and what they leave on disk (files, `.crc` sidecars, permission bits)
 * is what Hadoop's `LocalFileSystem` leaves for the same writes.
 */
class LocalFileSystemSpec extends GraftSuite {
  import spark.implicits._

  private lazy val root = {
    val r = tmpDir("graft_lfs")
    spark.conf.set("spark.sql.catalog.glfs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glfs.root", r)
    r
  }

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def crc(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  /** Run `body` with the session's Hadoop conf carrying `umask` (None: the
    * default), restoring the conf afterwards. */
  private def withUmask[T](umask: Option[String])(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = FsPermission.UMASK_LABEL
    val saved = Option(hc.getRaw(key))
    umask.foreach(hc.set(key, _))
    try body finally saved.fold(hc.unset(key))(hc.set(key, _))
  }

  /**
   * Every dir, parquet file and `.crc` sidecar under `table` against a twin
   * that Hadoop's own `LocalFileSystem` (built from `conf`, uncached) makes
   * under `mirror`: the same permission bits, the same sidecar bytes, and no
   * sidecar without its file. CURRENT, moved into place by graft from a file
   * it created, must carry a Hadoop-created file's bits.
   */
  private def assertHadoopLayout(table: NioPath, mirror: NioPath, conf: Configuration): Unit = {
    val hadoop = FileSystem.newInstance(new java.net.URI("file:///"), conf)
    try {
      val all = { val w = Files.walk(table); try w.iterator().asScala.toList finally w.close() }
      val (crcs, rest) = all.partition(_.getFileName.toString.endsWith(".crc"))
      crcs.foreach { c =>
        val of = c.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
        assert(Files.exists(c.resolveSibling(of)), s"orphan sidecar $c")
      }
      val parquet = rest.filter(_.getFileName.toString.endsWith(".parquet"))
      assert(parquet.nonEmpty, s"no data files under $table")
      rest.foreach { p =>
        val twin = new Path(mirror.resolve(table.relativize(p).toString).toString)
        val name = p.getFileName.toString
        if (Files.isDirectory(p)) {
          assert(hadoop.mkdirs(twin))
          assert(mode(p) === mode(Paths.get(twin.toUri.getPath)), s"dir bits of $p")
        } else if (name.endsWith(".parquet") || name == "CURRENT") {
          val out = hadoop.create(twin, true)
          try out.write(Files.readAllBytes(p)) finally out.close()
          val t = Paths.get(twin.toUri.getPath)
          assert(mode(p) === mode(t), s"file bits of $p")
          if (name.endsWith(".parquet")) {
            assert(Files.exists(crc(p)), s"no sidecar for $p")
            assert(mode(crc(p)) === mode(crc(t)), s"sidecar bits of $p")
            assert(Files.readAllBytes(crc(p)).sameElements(Files.readAllBytes(crc(t))),
              s"sidecar bytes of $p")
          }
        }
      }
    } finally hadoop.close()
  }

  Seq(None -> "default umask", Some("077") -> "umask 077").foreach { case (umask, label) =>
    test(s"keyed upsert and catalog append leave Hadoop's local layout ($label)") {
      withUmask(umask) {
        val conf = spark.sessionState.newHadoopConf()
        val base = Paths.get(tmpDir("graft_lfs_layout"))
        val store = base.resolve("store")
        Seq(0 until 40, 20 until 60).foreach { r =>
          StreamingPipeline.upsertBatch(r.map(i => (s"k$i", i)).toDF("k", "v"),
            store.toString, Seq("k"), Seq(col("v").desc))
        }
        assertHadoopLayout(store, base.resolve("store_twin"), conf)

        val name = s"layout_${umask.getOrElse("default")}"
        val _ = root
        spark.sql(s"DROP TABLE IF EXISTS glfs.$name")
        (0L until 50L).map(i => (i, i % 3)).toDF("id", "pk")
          .writeTo(s"glfs.$name").partitionedBy(col("pk")).create()
        (50L until 80L).map(i => (i, i % 3)).toDF("id", "pk").writeTo(s"glfs.$name").append()
        assertHadoopLayout(Paths.get(root, name), base.resolve("table_twin"), conf)

        val expect = if (umask.isDefined) (0x1c0, 0x180) else (0x1ed, 0x1a4)
        val data = { val w = Files.walk(store); try w.iterator().asScala.toList finally w.close() }
          .filter(_.getFileName.toString.endsWith(".parquet"))
        assert(data.forall(p => mode(p.getParent) == expect._1 && mode(p) == expect._2),
          f"expected dirs ${expect._1}%o and files ${expect._2}%o")
      }
    }
  }

  test("setPermission: plain bits through java.nio, a sticky-bit mode through Hadoop's fallback") {
    val dir = new Path(tmpDir("graft_lfs_perm"), "d")
    val fs = GraftLocalFileSystem.forPath(dir, spark.sessionState.newHadoopConf())
    assert(fs.mkdirs(dir))
    val f = new Path(dir, "f")
    fs.create(f, true).close()
    fs.setPermission(f, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(Paths.get(f.toUri.getPath)) === Integer.parseInt("640", 8))
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(Paths.get(dir.toUri.getPath)) === Integer.parseInt("1750", 8))
  }

  test("forPath picks the graft FS only for the file scheme") {
    val conf = spark.sessionState.newHadoopConf()
    assert(GraftLocalFileSystem.forPath(new Path("/tmp/x"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(GraftLocalFileSystem.forPath(new Path("file:///tmp/x"), conf)
      .isInstanceOf[GraftLocalFileSystem])
    // Any other scheme resolves through Hadoop as before: an unknown one fails there.
    intercept[org.apache.hadoop.fs.UnsupportedFileSystemException] {
      GraftLocalFileSystem.forPath(new Path("nosuchscheme:///x"), conf)
    }
    assert(conf.get("fs.file.impl") == null, "the session's file scheme stays Hadoop's")
  }

  test("GraftRowWriter and advanceCurrent write through the graft FS") {
    val stats = FileSystem.getStatistics("file", classOf[GraftRawLocalFileSystem])
    def written = stats.getBytesWritten
    val _ = root
    spark.sql("DROP TABLE IF EXISTS glfs.routed")
    val before = written
    (0L until 100L).toDF("id").writeTo("glfs.routed").create()
    val afterWrite = written
    val parquetBytes = {
      val w = Files.walk(Paths.get(root, "routed"))
      try w.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum finally w.close()
    }
    assert(afterWrite - before >= parquetBytes,
      s"the table's $parquetBytes parquet bytes did not go through the graft FS")

    val dir = new Path(tmpDir("graft_lfs_current"))
    GraftManifest.advanceCurrent(dir, 7L, spark.sessionState.newHadoopConf())
    assert(GraftManifest.pointerGen(dir, spark.sessionState.newHadoopConf()) === 7L)
    assert(written > afterWrite, "the CURRENT tmp file did not go through the graft FS")
  }
}
