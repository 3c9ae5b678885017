package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftCheckpointFileManager, GraftRawLocalFileSystem}
import graft.streaming.{Drain, StreamingPipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/**
 * [[GraftCheckpointFileManager]]: a streaming query's checkpoint written
 * through it holds what Spark's default manager writes (names, `.crc`
 * sidecars, permission bits), either manager restarts the other's
 * checkpoint exactly once, other schemes keep Spark's own choice, and the
 * session setting is installed, kept and restored as documented.
 */
class CheckpointSpec extends GraftSuite {
  import spark.implicits._

  private val Key = GraftCheckpointFileManager.ClassKey
  private val FileContextManager = classOf[FileContextBasedCheckpointFileManager].getName
  private val GraftManager = classOf[GraftCheckpointFileManager].getName

  /** The session's own value for `key`, None when it is unset. */
  private def confValue(key: String): Option[String] = spark.conf.getAll.get(key)

  /** Run `body` with the session's manager key at `value` (None: unset),
    * restoring the key afterwards. */
  private def withManager[T](value: Option[String])(body: => T): T = {
    val saved = confValue(Key)
    value.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try body finally saved.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  /** Run `body` with the session's Hadoop conf carrying `umask` (None: the
    * default), restoring the conf afterwards. */
  private def withUmask[T](umask: Option[String])(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val key = FsPermission.UMASK_LABEL
    val saved = Option(hc.getRaw(key))
    umask.foreach(hc.set(key, _))
    try body finally saved.fold(hc.unset(key))(hc.set(key, _))
  }

  private lazy val lookup =
    (0 until 24).map(i => (s"n$i", s"""[{"name":"n$i","calories":$i}]""")).toDF("item_name", "data")

  private val landedAt = System.currentTimeMillis()

  /** Channel file `k`: three new names and a repeat of the previous file's
    * first, which the dedup state drops. Its modification time is `k`
    * seconds after the suite's start, so the file source takes the files
    * in `k` order. */
  private def land(dir: String, k: Int): Unit = {
    val names = (3 * k until 3 * k + 3).map(i => s"n$i") ++ (if (k > 0) Seq(s"n${3 * k - 3}") else Nil)
    val channel = Files.createDirectories(Paths.get(dir, "channel"))
    val f = Files.write(channel.resolve(f"part-$k%03d.json"),
      names.map(n => s"""{"value":"$n"}""").mkString("", "\n", "\n").getBytes(UTF_8))
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(landedAt + k * 1000L))
  }

  /** Drain every landed file through the keyed-store pipeline (dedup,
    * lookup join, keyed upsert), one file per micro-batch; returns the run's
    * progress. */
  private def drain(dir: String): Seq[StreamingQueryProgress] = {
    val wire = spark.readStream.schema("value STRING").option("maxFilesPerTrigger", "1")
      .json(s"$dir/channel")
    val q = StreamingPipeline.upsertSink(
        StreamingPipeline.ingest(StreamingPipeline.fromWire(wire), lookup),
        s"$dir/store", Seq("item_name"), Seq(col("data").desc))
      .option("checkpointLocation", s"$dir/ckpt").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), s"drain of $dir did not finish")
    finally q.stop()
    q.recentProgress.toSeq
  }

  private def storeRows(dir: String): Seq[String] =
    StreamingPipeline.readStore(spark, s"$dir/store").collect().map(_.toString).sorted.toSeq

  private def walk(root: NioPath): List[NioPath] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(_ != root).toList finally w.close()
  }

  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every dir and file under `ckpt` (relative path -> is-dir, permission
    * bits), the temp files of an unfinished atomic write excepted. */
  private def layout(ckpt: NioPath): Map[String, (Boolean, Int)] =
    walk(ckpt).filterNot(_.getFileName.toString.matches("""\..*\.tmp(\.crc)?"""))
      .map(p => ckpt.relativize(p).toString -> (Files.isDirectory(p), mode(p))).toMap

  private def graftBytesWritten: Long =
    FileSystem.getStatistics("file", classOf[GraftRawLocalFileSystem]).getBytesWritten

  /** Batch ids logged under `ckpt/<log>`. */
  private def logged(ckpt: String, log: String): Seq[Long] =
    new java.io.File(ckpt, log).list().filter(_.forall(_.isDigit)).map(_.toLong).sorted.toSeq

  Seq(None -> "default umask", Some("077") -> "umask 077").foreach { case (umask, label) =>
    test(s"graft's manager writes the checkpoint Spark's default manager writes ($label)") {
      withUmask(umask) {
        /** Drain three files under `manager`; the run's dir and the bytes it
          * wrote through graft's local FS. */
        def run(manager: String): (String, Long) = {
          val dir = tmpDir("graft_ckpt_twin")
          (0 until 3).foreach(land(dir, _))
          val before = graftBytesWritten
          withManager(Some(manager))(drain(dir))
          (dir, graftBytesWritten - before)
        }
        val (sparkDir, sparkOwn) = run(FileContextManager)
        val (graftDir, graftOwn) = run(GraftManager)
        val (sparkCkpt, graftCkpt) = (Paths.get(sparkDir, "ckpt"), Paths.get(graftDir, "ckpt"))

        val names = layout(graftCkpt)
        assert(names.keySet.exists(_.matches("""state/0/\d+/\d+\.delta""")), s"no state deltas: $names")
        assert(names === layout(sparkCkpt), "names, kinds or permission bits differ")
        val expect = if (umask.isDefined) 0x180 else 0x1a4
        assert(names.values.forall { case (isDir, m) => isDir || m == expect }, f"files not $expect%o")

        // Every file has its sidecar, and every sidecar verifies against its
        // file when Hadoop's checksummed local FS reads it back.
        val hadoop = FileSystem.newInstance(URI.create("file:///"), spark.sessionState.newHadoopConf())
        try Seq(sparkCkpt, graftCkpt).foreach { ckpt =>
          walk(ckpt).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
            .foreach { p =>
              assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no sidecar for $p")
              val in = hadoop.open(new Path(p.toString))
              try assert(in.readAllBytes().length === Files.size(p)) finally in.close()
            }
        } finally hadoop.close()

        // Both runs write the same store through graft's local FS; graft's
        // manager also writes every checkpoint byte through it.
        val ckptBytes = walk(graftCkpt).filter(Files.isRegularFile(_)).map(Files.size).sum
        assert(graftOwn - sparkOwn >= ckptBytes,
          s"graft's FS wrote $graftOwn bytes under graft's manager, $sparkOwn under Spark's")
        assert(storeRows(graftDir) === storeRows(sparkDir))
      }
    }
  }

  private def short(cls: String) = cls.split('.').last

  Seq(FileContextManager -> GraftManager, GraftManager -> FileContextManager).foreach {
    case (first, second) =>
      test(s"a checkpoint written under ${short(first)} restarts under ${short(second)} exactly once") {
        val files = 6
        val ref = tmpDir("graft_ckpt_ref")
        (0 until files).foreach(land(ref, _))
        val refProgress = drain(ref)

        val dir = tmpDir("graft_ckpt_restart")
        (0 until 3).foreach(land(dir, _))
        withManager(Some(first))(drain(dir))
        // Stop between the sink's commit and the commit log's: the restarted
        // query re-runs batch 2, whose store commit must publish nothing.
        Files.delete(Paths.get(dir, "ckpt", "commits", "2"))
        Files.deleteIfExists(Paths.get(dir, "ckpt", "commits", ".2.crc"))
        (3 until files).foreach(land(dir, _))
        val progress = withManager(Some(second))(drain(dir))
        assert(progress.exists(p => p.batchId == 2 && p.numInputRows > 0), "sanity: batch 2 ran again")

        assert(storeRows(dir) === storeRows(ref))
        assert(StreamingPipeline.storeGenerations(spark, s"$dir/store") === (1L to files.toLong))
        assert(StreamingPipeline.storeGenerations(spark, s"$ref/store") === (1L to files.toLong))
        def stateRows(ps: Seq[StreamingQueryProgress]) = ps.last.stateOperators.head.numRowsTotal
        assert(stateRows(progress) === stateRows(refProgress), "dedup state lost across the restart")
        Seq("offsets", "commits").foreach { log =>
          assert(logged(s"$dir/ckpt", log) === (0L until files.toLong), s"$log log")
        }
        // Each channel file is in exactly one logged batch, one file a batch.
        val perBatch = logged(s"$dir/ckpt", "sources/0").map { b =>
          val entry = new String(Files.readAllBytes(Paths.get(dir, "ckpt", "sources", "0", b.toString)), UTF_8)
          """"path":"[^"]*/(part-\d+\.json)"""".r.findAllMatchIn(entry).map(_.group(1)).toSeq
        }
        assert(perBatch === (0 until files).map(k => Seq(f"part-$k%03d.json")))
      }
  }

  test("on any other scheme the manager is the one CheckpointFileManager.create picks") {
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("fs.graftrawtest.impl", classOf[CheckpointSpec.RawTestFileSystem].getName)
    conf.setBoolean("fs.graftrawtest.impl.disable.cache", true)
    conf.set(Key, GraftManager)
    val plain = new Configuration(conf)
    plain.unset(Key)
    /** Write and read back one checkpoint file through the manager Spark
      * makes for `dir`; the bytes the write put through `raw`'s statistics. */
    def roundTrip(dir: Path, scheme: String, raw: Class[_ <: FileSystem]): Long = {
      val fm = CheckpointFileManager.create(dir, conf)
      assert(fm.isInstanceOf[GraftCheckpointFileManager])
      val before = FileSystem.getStatistics(scheme, raw).getBytesWritten
      fm.mkdirs(dir)
      val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
      out.write("v1".getBytes(UTF_8)); out.close()
      val in = fm.open(new Path(dir, "0"))
      try assert(new String(in.readAllBytes(), UTF_8) === "v1") finally in.close()
      FileSystem.getStatistics(scheme, raw).getBytesWritten - before
    }

    val other = new Path(s"graftrawtest://${tmpDir("graft_ckpt_scheme")}/ckpt")
    assert(new GraftCheckpointFileManager(other, conf).inner.getClass ===
      CheckpointFileManager.create(other, plain).getClass)
    assert(roundTrip(other, "graftrawtest", classOf[CheckpointSpec.RawTestFileSystem]) >= 2L)
    val local = new Path(tmpDir("graft_ckpt_local"), "ckpt")
    assert(new GraftCheckpointFileManager(local, conf).inner
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(roundTrip(local, "file", classOf[GraftRawLocalFileSystem]) >= 2L)
  }

  test("upsertSink keeps an explicit manager; Drain.availableNow leaves the conf as it found it") {
    val stream = spark.readStream.schema("value STRING").json(tmpDir("graft_ckpt_conf"))
    def sink(): Unit =
      StreamingPipeline.upsertSink(stream, tmpDir("graft_ckpt_conf_store"), Seq("value"), Nil)
    withManager(Some(FileContextManager)) {
      sink()
      assert(confValue(Key) === Some(FileContextManager))
    }
    // A class named in the Hadoop conf reaches Spark through the same
    // `newHadoopConf()`; a session value would override it.
    withManager(None) {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set(Key, FileContextManager)
      try sink() finally hc.unset(Key)
      assert(confValue(Key) === None)
      sink()
      assert(confValue(Key) === Some(GraftManager))
    }

    val shuffle = "spark.sql.shuffle.partitions"
    Seq(None, Some(FileContextManager)).foreach { before =>
      withManager(before) {
        val dir = tmpDir("graft_ckpt_drain")
        land(dir, 0)
        val shuffleBefore = confValue(shuffle)
        var during = Option.empty[(Option[String], Option[String])]
        Drain.availableNow(spark, "CheckpointSpec", Some(2)) { trigger =>
          during = Some(confValue(Key) -> confValue(shuffle))
          spark.readStream.schema("value STRING").json(s"$dir/channel").dropDuplicates("value")
            .writeStream.format("noop").option("checkpointLocation", s"$dir/ckpt")
            .trigger(trigger).start()
        }
        assert(during === Some(Some(GraftManager) -> Some("2")))
        assert(confValue(Key) === before)
        assert(confValue(shuffle) === shuffleBefore)
      }
    }
  }
}

object CheckpointSpec {
  /** Hadoop's raw local FS under the test-only scheme `graftrawtest`. */
  class RawTestFileSystem extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftrawtest:///")
  }
}
