package graft

import graft.operators.{NutritionPipeline, Relational}
import graft.sources.GraftManifest
import graft.streaming.StreamingPipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/**
 * Structured Streaming layer (SURVEY.md §3.1 / M3): MemoryStream-driven micro-batches
 * through dedup -> stream-static join -> foreachBatch upsert; watermarked windows;
 * availableNow incremental parity; session_window vs batch gaps-and-islands.
 */
class StreamingSpec extends GraftSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The store's committed catalog manifest. */
  private def currentManifest(store: String): GraftManifest = {
    val dir = new Path(store)
    val conf = spark.sparkContext.hadoopConfiguration
    GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
  }

  /** Store-relative paths of every parquet file on disk under the store. */
  private def parquetFiles(store: String): Set[String] = {
    val root = java.nio.file.Paths.get(store)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
    finally walk.close()
  }

  private lazy val lookup = Seq(
    ("apple", """[{"name":"apple","calories":52}]"""),
    ("banana", """[{"name":"banana","calories":89}]"""),
    ("cherry", "[]") // processed/empty -> must be filtered (A7)
  ).toDF("item_name", "data")

  test("ingest dedups across micro-batches and filters empty payloads") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[String]
    val out = StreamingPipeline.ingest(in.toDF.withColumnRenamed("value", "item_name"), lookup)
    val q = out.writeStream.format("memory").queryName("ingest_t").outputMode("append").start()
    try {
      in.addData("apple", "banana", "apple")
      q.processAllAvailable()
      in.addData("banana", "cherry", "durian") // banana dup, cherry empty, durian no match
      q.processAllAvailable()
      val rows = spark.table("ingest_t").select("item_name").as[String].collect().sorted
      assert(rows.toSeq === Seq("apple", "banana"))
    } finally q.stop()
  }

  test("foreachBatch upsert keeps last write per key across batches") {
    implicit val ctx = spark.sqlContext
    val store = tmpDir("upsert") + "/store"
    val in = MemoryStream[(String, Timestamp, Double)]
    val stream = in.toDF.toDF("item_name", "ingestion_ts", "calories")
    val q = StreamingPipeline.upsertSink(stream, store, Seq("item_name"),
        Seq(col("ingestion_ts").desc, col("calories").desc))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(("apple", ts("2024-01-01 00:00:00"), 52.0))
      q.processAllAvailable()
      in.addData(("apple", ts("2024-01-02 00:00:00"), 60.0),
        ("banana", ts("2024-01-01 00:00:00"), 89.0))
      q.processAllAvailable()
      val store0 = StreamingPipeline.readStore(spark, store)
      assert(store0.count() === 2)
      assert(store0.filter(col("item_name") === "apple")
        .select("calories").as[Double].collect().head === 60.0)
    } finally q.stop()
  }

  test("a store whose first batch was empty reads as zero rows of its columns") {
    // Generation 0 records the schema and no files; enrichment over the
    // read must resolve its columns and find nothing.
    val store = tmpDir("emptyfirst") + "/store"
    val empty = Seq.empty[(String, Timestamp, String)].toDF("item_name", "ingestion_ts", "data")
    StreamingPipeline.upsertBatch(empty, store, Seq("item_name"), Seq(col("ingestion_ts").desc))
    assert(StreamingPipeline.storeGenerations(spark, store).isEmpty)
    val read = StreamingPipeline.readStore(spark, store)
    assert(read.columns.toSeq === empty.columns.toSeq)
    assert(NutritionPipeline.enrichmentPipeline(read).count() === 0)
  }

  test("upsertSink keeps one txn mark per query, however many batches commit") {
    implicit val ctx = spark.sqlContext
    val store = tmpDir("ledger") + "/store"
    val in = MemoryStream[(String, Timestamp)]
    val q = StreamingPipeline.upsertSink(in.toDF.toDF("item_name", "ingestion_ts"), store,
        Seq("item_name"), Seq(col("ingestion_ts").desc))
      .trigger(Trigger.ProcessingTime(0)).start()
    try (0 until 5).foreach { b =>
      in.addData((s"item_$b", ts(s"2024-01-0${b + 1} 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    assert(StreamingPipeline.storeGenerations(spark, store) === (1L to 5L))
    val txns = currentManifest(store).txns
    assert(txns.filter(_.startsWith(s"${q.id}:")) === Set(s"${q.id}:4"), txns.toString)
  }

  test("upsertBatch runs exactly one Spark job") {
    val store = tmpDir("onejob") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def batchDf(from: Int, until: Int, day: Int) = (from until until)
      .map(i => (s"item_$i", ts(s"2024-01-0$day 00:00:00"), i.toDouble))
      .toDF("item_name", "ingestion_ts", "calories")
    StreamingPipeline.upsertBatch(batchDf(0, 40, 1), store, keys, ord)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("one-upsert", "upsert")
      StreamingPipeline.upsertBatch(batchDf(20, 60, 2), store, keys, ord)
      // Listener events arrive in order: once the marker job shows, every
      // job the upsert started has shown too.
      sc.setJobGroup("one-upsert-marker", "marker")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("one-upsert-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("one-upsert-marker"))
      assert(groups.asScala.count(_ == "one-upsert") === 1, groups.asScala.mkString(", "))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val readBack = StreamingPipeline.readStore(spark, store)
    assert(readBack.count() === 60)
    assert(readBack.filter(col("calories") === 30.0).select("ingestion_ts").as[Timestamp]
      .collect().toSeq === Seq(ts("2024-01-02 00:00:00")))
  }

  test("an upsert never opens a bucket its batch does not touch") {
    val store = tmpDir("untouched") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    val seed = (0 until 40).map(i => (s"item_$i", ts("2024-01-01 00:00:00"), i.toDouble))
    StreamingPipeline.upsertBatch(seed.toDF("item_name", "ingestion_ts", "calories"),
      store, keys, ord)
    val touched = spark.range(1).select(
      pmod(hash(lit("item_7")), lit(StreamingPipeline.DefaultStoreBuckets)))
      .collect().head.getInt(0)
    val (_, victimRel) = currentManifest(store).entries
      .find(_._1 != s"__bucket=$touched").get
    val victim = java.nio.file.Paths.get(store, victimRel)
    val original = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim, "not parquet".getBytes)
    try StreamingPipeline.upsertBatch(
      Seq(("item_7", ts("2024-01-02 00:00:00"), 700.0)).toDF("item_name", "ingestion_ts",
        "calories"), store, keys, ord)
    finally java.nio.file.Files.write(victim, original)
    assert(currentManifest(store).entries.exists(_._2 == victimRel),
      "the untouched bucket's file carries forward")
    val readBack = StreamingPipeline.readStore(spark, store)
    assert(readBack.count() === 40)
    assert(readBack.filter(col("item_name") === "item_7")
      .select("calories").as[Double].collect().head === 700.0)
  }

  test("a store whose manifest records no file sizes still merges every stored row") {
    // Stores written before merges recorded per-file metadata carry bare
    // `entry=<part>\t<file>` lines; the merge must size such files itself.
    val store = tmpDir("sizeless") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def batchDf(rows: Seq[(String, Timestamp, Double)]) =
      rows.toDF("item_name", "ingestion_ts", "calories")
    val seed = (0 until 40).map(i => (s"item_$i", ts("2024-01-01 00:00:00"), i.toDouble))
    StreamingPipeline.upsertBatch(batchDf(seed), store, keys, ord)
    val file = java.nio.file.Paths.get(store, s"manifest-${currentManifest(store).gen}.txt")
    val bare = java.nio.file.Files.readAllLines(file).asScala.map { l =>
      if (l.startsWith("entry=")) l.split("\t").take(2).mkString("\t") else l
    }
    java.nio.file.Files.write(file, bare.mkString("", "\n", "\n").getBytes)
    java.nio.file.Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    assert(currentManifest(store).fileBytes.isEmpty)
    val update = (30 until 50).map(i => (s"item_$i", ts("2024-01-02 00:00:00"), 100.0 + i))
    StreamingPipeline.upsertBatch(batchDf(update), store, keys, ord)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(StreamingPipeline.readStore(spark, store)) ===
      rows(Relational.latestPerKey(batchDf(seed ++ update), keys, ord)))
  }

  test("bucketed upsert rewrites only the buckets its batch touches") {
    val store = tmpDir("bucketed") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def batchDf(rows: (String, Timestamp, Double)*) =
      rows.toDF("item_name", "ingestion_ts", "calories")
    // Seed the store with keys spread over many buckets.
    val seed = (0 until 40).map(i => (s"item_$i", ts("2024-01-01 00:00:00"), i.toDouble))
    StreamingPipeline.upsertBatch(batchDf(seed: _*), store, keys, ord)
    val before = currentManifest(store).entries.toSet
    assert(before.map(_._1).size > 1, "seed keys must span multiple buckets")
    // One-key batch: only that key's bucket entry may change.
    StreamingPipeline.upsertBatch(
      batchDf(("item_7", ts("2024-01-02 00:00:00"), 700.0)), store, keys, ord)
    val after = currentManifest(store).entries.toSet
    val touchedBucket = spark.range(1).select(
      pmod(hash(lit("item_7")), lit(StreamingPipeline.DefaultStoreBuckets)))
      .collect().head.getInt(0)
    val changed = (after -- before) ++ (before -- after)
    assert(changed.nonEmpty)
    assert(changed.forall(_._1 == s"__bucket=$touchedBucket"),
      s"batch touching bucket $touchedBucket must not rewrite others; changed=$changed")
    // Upsert semantics unchanged: last write wins, all other keys intact.
    val readBack = StreamingPipeline.readStore(spark, store)
    assert(readBack.count() === 40)
    assert(readBack.filter(col("item_name") === "item_7")
      .select("calories").as[Double].collect().head === 700.0)
    assert(readBack.filter(col("item_name") === "item_3")
      .select("calories").as[Double].collect().head === 3.0)
  }

  test("crashed writer's stale files are invisible: manifest commit is atomic") {
    val store = tmpDir("crash") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    val rows = (0 until 20).map(i => (s"item_$i", ts("2024-01-01 00:00:00"), i.toDouble))
    StreamingPipeline.upsertBatch(
      rows.toDF("item_name", "ingestion_ts", "calories"), store, keys, ord)
    val committed = StreamingPipeline.readStore(spark, store)
      .orderBy("item_name").collect().toSeq
    // Simulate a writer that crashed AFTER writing its data files but BEFORE
    // claiming its manifest: plant a parquet file (conflicting content for an
    // existing key) in an uncommitted gen dir.
    val committedFiles = parquetFiles(store)
    Seq(("item_3", ts("2030-01-01 00:00:00"), 999999.0))
      .toDF("item_name", "ingestion_ts", "calories").coalesce(1)
      .write.parquet(s"$store/gen-2-deadbeef/__bucket=0")
    // The committed store is exactly what it was: the stale file is not listed in
    // any manifest, so readers never see it.
    val after = StreamingPipeline.readStore(spark, store)
      .orderBy("item_name").collect().toSeq
    assert(after === committed)
    assert(parquetFiles(store).size === committedFiles.size + 1,
      "sanity: the stale file IS physically present in the store directory")
    // vacuum reclaims the orphan; the store is unchanged.
    val deleted = StreamingPipeline.vacuumStore(spark, store, graceMs = 0L)
    assert(deleted >= 1)
    assert(StreamingPipeline.readStore(spark, store)
      .orderBy("item_name").collect().toSeq === committed)
    assert(parquetFiles(store) === committedFiles)
  }

  test("time travel: each committed generation stays a consistent snapshot until vacuum") {
    val store = tmpDir("timetravel") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def batch(rows: (String, java.sql.Timestamp, Double)*) =
      rows.toDF("item_name", "ingestion_ts", "calories")
    StreamingPipeline.upsertBatch(
      batch(("a", ts("2024-01-01 00:00:00"), 1.0), ("b", ts("2024-01-01 00:00:00"), 2.0)),
      store, keys, ord)
    StreamingPipeline.upsertBatch(
      batch(("a", ts("2024-01-02 00:00:00"), 100.0), ("c", ts("2024-01-02 00:00:00"), 3.0)),
      store, keys, ord)
    assert(StreamingPipeline.storeGenerations(spark, store) === Seq(1L, 2L))
    // Generation 1 is the pre-second-batch world: a=1.0, no c.
    val g1 = StreamingPipeline.readStoreAsOf(spark, store, 1L)
      .select("item_name", "calories").as[(String, Double)].collect().toMap
    assert(g1 === Map("a" -> 1.0, "b" -> 2.0))
    // Generation 2 == the live store.
    val g2 = StreamingPipeline.readStoreAsOf(spark, store, 2L)
      .select("item_name", "calories").as[(String, Double)].collect().toMap
    val live = StreamingPipeline.readStore(spark, store)
      .select("item_name", "calories").as[(String, Double)].collect().toMap
    assert(g2 === Map("a" -> 100.0, "b" -> 2.0, "c" -> 3.0) && g2 === live)
    // Vacuum retires generation 1; the time-travel read now fails fast.
    StreamingPipeline.vacuumStore(spark, store, graceMs = 0L)
    assert(StreamingPipeline.storeGenerations(spark, store) === Seq(2L))
    val e = intercept[IllegalArgumentException] {
      StreamingPipeline.readStoreAsOf(spark, store, 1L)
    }
    assert(e.getMessage.contains("not resolvable"))
  }

  test("storeDiff emits exactly the insert/update/delete delta between generations") {
    val store = tmpDir("cdc") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def batch(rows: (String, java.sql.Timestamp, Double)*) =
      rows.toDF("item_name", "ingestion_ts", "calories")
    // gen1: a=1, b=2, d=4. gen2 updates a, inserts c, leaves b and d untouched
    // (d lives in a bucket the second batch never writes — carried files diff too).
    StreamingPipeline.upsertBatch(
      batch(("a", ts("2024-01-01 00:00:00"), 1.0), ("b", ts("2024-01-01 00:00:00"), 2.0),
        ("d", ts("2024-01-01 00:00:00"), 4.0)), store, keys, ord)
    StreamingPipeline.upsertBatch(
      batch(("a", ts("2024-01-02 00:00:00"), 100.0), ("c", ts("2024-01-02 00:00:00"), 3.0)),
      store, keys, ord)
    val diff = StreamingPipeline.storeDiff(spark, store, 1L, 2L, keys)
      .select("item_name", "change_type").as[(String, String)].collect().toMap
    assert(diff === Map("a" -> "update", "c" -> "insert"),
      "unchanged keys (b, d) must not appear in the delta")
    // The reverse diff sees the inverse delta.
    val back = StreamingPipeline.storeDiff(spark, store, 2L, 1L, keys)
      .select("item_name", "change_type").as[(String, String)].collect().toMap
    assert(back === Map("a" -> "update", "c" -> "delete"))
  }

  test("a batch with its own __bucket column is rejected before anything is staged") {
    val store = tmpDir("reserved") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    StreamingPipeline.upsertBatch(
      Seq(("a", ts("2024-01-01 00:00:00"), 1.0)).toDF("item_name", "ingestion_ts", "calories"),
      store, keys, ord)
    val committed = StreamingPipeline.readStore(spark, store).collect().toSeq
    for (name <- Seq("__bucket", "__BUCKET")) {
      val e = intercept[IllegalArgumentException] {
        StreamingPipeline.upsertBatch(
          Seq(("b", ts("2024-01-02 00:00:00"), 2.0, 7)).toDF("item_name", "ingestion_ts",
            "calories", name), store, keys, ord)
      }
      assert(e.getMessage.contains("__bucket"))
    }
    assert(StreamingPipeline.storeGenerations(spark, store) === Seq(1L))
    assert(new java.io.File(store).list().count(_.startsWith("gen-")) === 1,
      "the rejected upserts left no gen dir behind")
    assert(StreamingPipeline.readStore(spark, store).collect().toSeq === committed)
  }

  test("vacuum keeps only the live generation; superseded files are reclaimed") {
    val store = tmpDir("vacuum") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def up(day: Int, v: Double): Unit = StreamingPipeline.upsertBatch(
      Seq(("k", ts(f"2024-01-$day%02d 00:00:00"), v)).toDF("item_name", "ingestion_ts", "calories"),
      store, keys, ord)
    up(1, 1.0); up(2, 2.0); up(3, 3.0) // three generations of the same key
    assert(parquetFiles(store).size === 3, "superseded files accumulate until vacuum")
    assert(StreamingPipeline.readStore(spark, store).count() === 1)
    val deleted = StreamingPipeline.vacuumStore(spark, store, graceMs = 0L)
    assert(deleted === 2)
    val live = StreamingPipeline.readStore(spark, store)
    assert(live.count() === 1)
    assert(live.select("calories").as[Double].collect().head === 3.0)
  }

  test("a batch re-run after a restart commits nothing: upsertSink is exactly once") {
    val dir = tmpDir("replay")
    val (channel, store, ckpt) = (s"$dir/channel", s"$dir/store", s"$dir/ckpt")
    def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = StreamingPipeline.upsertSink(
          StreamingPipeline.fromWire(StreamingPipeline.fileChannel(spark, channel))
            .withColumn("n", length(col("item_name"))),
          store, Seq("item_name"), Seq(col("n").desc))
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    def land(names: String*): Unit =
      names.toDF("value").write.mode("append").json(channel)
    land("apple", "banana"); drain()
    land("banana", "cherry"); drain()
    val gens = StreamingPipeline.storeGenerations(spark, store)
    assert(gens === Seq(1L, 2L))
    val rows = StreamingPipeline.readStore(spark, store).collect().map(_.toString).sorted.toSeq
    val genDirs = new java.io.File(store).list().filter(_.startsWith("gen-")).toSet
    // Forget that batch 1 committed: the restarted query re-runs it.
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    val replay = drain()
    assert(replay.exists(p => p.batchId == 1 && p.numInputRows > 0),
      "sanity: batch 1 ran again")
    assert(StreamingPipeline.storeGenerations(spark, store) === gens)
    assert(StreamingPipeline.readStore(spark, store).collect().map(_.toString).sorted.toSeq
      === rows)
    assert(new java.io.File(store).list().filter(_.startsWith("gen-")).toSet === genDirs,
      "the replay removed its own gen dir")
  }

  test("concurrent upserts: disjoint buckets both land, overlapping ones fail cleanly") {
    val store = tmpDir("concurrent") + "/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    val rnd = new scala.util.Random(7)
    var seq = 0
    // Unique ingestion times, so latest-per-key is a total order.
    def batch(n: Int): Seq[(String, Timestamp, Double)] = Seq.fill(n) {
      seq += 1
      val name = if (rnd.nextInt(3) == 0) s"shared_${rnd.nextInt(4)}" else s"item_$seq"
      (name, new Timestamp(1700000000000L + seq * 1000L), seq.toDouble)
    }
    val seed = batch(8)
    StreamingPipeline.upsertBatch(seed.toDF("item_name", "ingestion_ts", "calories"),
      store, keys, ord)
    val rounds = Seq.fill(3)(Seq.fill(4)(batch(1 + rnd.nextInt(3))))
    val landed = scala.collection.mutable.ArrayBuffer(seed)
    val failures = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    for (round <- rounds) {
      val outcomes = round.map { rows =>
        val df = rows.toDF("item_name", "ingestion_ts", "calories")
        val t = new Thread(() => StreamingPipeline.upsertBatch(df, store, keys, ord))
        var err: Option[Throwable] = None
        t.setUncaughtExceptionHandler((_, e) => err = Some(e))
        t.start()
        (rows, t, () => err)
      }
      outcomes.foreach { case (rows, t, err) =>
        t.join(240000)
        assert(!t.isAlive)
        err() match {
          case Some(e) => failures += e
          case None => landed += rows
        }
      }
    }
    info(s"${failures.size} of ${rounds.flatten.size} concurrent upserts conflicted")
    assert(failures.forall(_.isInstanceOf[java.util.ConcurrentModificationException]),
      failures.map(_.toString).mkString("; "))
    val want = Relational.latestPerKey(
      landed.flatten.toSeq.toDF("item_name", "ingestion_ts", "calories"), keys, ord)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(StreamingPipeline.readStore(spark, store)) === rows(want),
      s"${failures.size} of ${rounds.flatten.size} concurrent upserts failed")
    StreamingPipeline.vacuumStore(spark, store, graceMs = 0L)
    assert(parquetFiles(store) === currentManifest(store).entries.map(_._2).toSet)
  }

  test("the store is a graft catalog table: same rows, versions and history") {
    val parent = tmpDir("storecat")
    val store = s"$parent/store"
    val keys = Seq("item_name")
    val ord = Seq(col("ingestion_ts").desc)
    def batch(rows: (String, java.sql.Timestamp, Double)*) =
      rows.toDF("item_name", "ingestion_ts", "calories")
    StreamingPipeline.upsertBatch(
      batch(("a", ts("2024-01-01 00:00:00"), 1.0), ("b", ts("2024-01-01 00:00:00"), 2.0)),
      store, keys, ord)
    StreamingPipeline.upsertBatch(
      batch(("a", ts("2024-01-02 00:00:00"), 100.0), ("c", ts("2024-01-02 00:00:00"), 3.0)),
      store, keys, ord)
    spark.conf.set("spark.sql.catalog.gstore", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstore.root", parent)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(spark.table("gstore.store").drop("__bucket")) ===
      rows(StreamingPipeline.readStore(spark, store)))
    assert(rows(spark.sql("SELECT * FROM gstore.store VERSION AS OF 1").drop("__bucket")) ===
      rows(StreamingPipeline.readStoreAsOf(spark, store, 1L)))
    val history = spark.sql("SELECT gen FROM gstore.`store$history`").as[Long].collect()
    assert(history.filter(_ >= 1).sorted.toSeq === StreamingPipeline.storeGenerations(spark, store))
    assert(StreamingPipeline.storeGenerations(spark, store) === Seq(1L, 2L))
  }

  test("watermarked tumbling window emits closed windows in append mode") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingPipeline.windowedCounts(
      in.toDF.toDF("ts", "event_type", "value"), "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_t").outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 00:05:00"), "click", 1.0),
        (ts("2024-01-01 00:40:00"), "click", 2.0))
      q.processAllAvailable()
      // advance the watermark far past hour 0 -> closes the 00:00 window
      in.addData((ts("2024-01-01 03:00:00"), "view", 5.0))
      q.processAllAvailable()
      val closed = spark.table("win_t")
        .select(col("window.start").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect()
      assert(closed.contains(("2024-01-01 00:00:00", "click", 2L, 3.0)))
      // late arrival beyond the watermark is dropped
      in.addData((ts("2024-01-01 00:50:00"), "click", 100.0))
      q.processAllAvailable()
      val after = spark.table("win_t").filter(col("sum_value") === 103.0).count()
      assert(after === 0)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by event time (B225)") {
    // The UNbounded dropDuplicates (A2's exact shape) keeps every key
    // forever; WithinWatermark is the 100 TB posture — state holds only keys
    // newer than the watermark, so a re-delivery INSIDE the delay window
    // dedups while one far past it is treated as new (at-least-once
    // re-delivery is a bounded-lateness phenomenon, and the state bound is
    // what lets the dedup run for months).
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val deduped = in.toDF.toDF("k", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.format("memory").queryName("ddww_t")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // Duplicate of k=1 within the 1h window: suppressed.
      in.addData((1L, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      assert(spark.table("ddww_t").filter(col("k") === 1L).count() === 1)
      // Advance event time far past the watermark so k=1's state expires...
      in.addData((3L, ts("2024-01-01 08:00:00")))
      q.processAllAvailable()
      // ...then re-deliver k=1 as a genuinely NEW event: it must pass.
      in.addData((1L, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      assert(spark.table("ddww_t").filter(col("k") === 1L).count() === 2,
        "expired key must be accepted again (state is watermark-bounded)")
      assert(spark.table("ddww_t").count() === 4) // k=1 x2, k=2, k=3
    } finally q.stop()
  }

  test("stream-stream interval join: symmetric buffering, cross-batch matches, state eviction") {
    implicit val ctx = spark.sqlContext
    val lIn = MemoryStream[(Long, Long, Timestamp)]   // (v_id, user, v_ts)
    val rIn = MemoryStream[(Long, Long, Timestamp)]   // (p_id, p_user, p_ts)
    val joined = graft.streaming.StreamJoins.intervalJoin(
      lIn.toDF.toDF("v_id", "user_id", "v_ts"), "v_ts",
      rIn.toDF.toDF("p_id", "p_user", "p_ts"), "p_ts",
      "10 minutes",
      col("user_id") === col("p_user") && col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_id"), col("p_id"))
    val q = joined.writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    try {
      // Purchase arrives BEFORE its view (symmetric buffering, right lands first).
      rIn.addData((100L, 1L, ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      lIn.addData((1L, 1L, ts("2024-01-01 00:05:00")))  // matches p=100 (gap 15m)
      lIn.addData((2L, 1L, ts("2024-01-01 01:00:00")))  // no purchase in window
      q.processAllAvailable()
      // View first, purchase in a LATER batch (left buffered), plus an
      // out-of-window purchase by the same user (interval bound, not key, decides).
      lIn.addData((3L, 2L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      rIn.addData((200L, 2L, ts("2024-01-01 02:25:00")),  // in window
        (201L, 2L, ts("2024-01-01 02:45:00")))            // 45m > 30m window
      q.processAllAvailable()
      val got = spark.table("ssj_t").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 100L), (3L, 200L)))
      // Plan pin: the stateful symmetric hash join, not a static join.
      assert(q.lastProgress != null)
      // Watermark advance evicts expired buffered rows from BOTH state sides:
      // push both watermarks far ahead and check state shrank, not grew.
      val before = spark.table("ssj_t").count()
      lIn.addData((9L, 9L, ts("2024-01-01 10:00:00")))
      rIn.addData((900L, 8L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      lIn.addData((10L, 9L, ts("2024-01-01 12:00:00")))
      rIn.addData((901L, 8L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val prog = q.recentProgress.reverse.find(p =>
        p.stateOperators.nonEmpty && p.stateOperators.head.numRowsTotal > 0)
      assert(prog.isDefined, "no stateful operator progress recorded")
      val stateRows = q.recentProgress.last.stateOperators.head.numRowsTotal
      assert(stateRows <= 4,
        s"expired rows not evicted: $stateRows rows still buffered")
      assert(spark.table("ssj_t").count() === before, "no spurious late matches")
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos))(q.explain())
      val plan = baos.toString
      assert(plan.contains("StreamingSymmetricHashJoin"),
        s"expected a symmetric hash join plan:\n$plan")
    } finally q.stop()
  }

  test("availableNow processes exactly the unseen input per run (A22/A24 parity)") {
    val dir = tmpDir("avnow")
    val src = s"$dir/src"; val ck = s"$dir/ck"
    val ev = Tables.events(spark, sfTiny)
      .select("event_id", "event_type", "value")
    ev.filter(col("event_id") < 100).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory").queryName("avnow_t")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val after1 = spark.table("avnow_t").as[(String, Long)].collect().toMap
    val batch1 = spark.read.parquet(src).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(after1 === batch1)
    // Second batch of files: the checkpointed rerun consumes only the delta and
    // the running (complete-mode) aggregate covers both batches exactly once —
    // the reference's tombstone-UPDATE contract, minus the non-atomicity.
    ev.filter(col("event_id") >= 100 && col("event_id") < 200)
      .write.mode("append").parquet(src)
    runOnce()
    val after2 = spark.table("avnow_t").as[(String, Long)].collect().toMap
    val batch2 = spark.read.parquet(src).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(after2 === batch2)
    assert(after2.values.sum === 200L)
  }

  test("streaming session_window matches batch gaps-and-islands session count") {
    implicit val ctx = spark.sqlContext
    val data = Seq(
      (1L, ts("2024-01-01 00:00:00")), (1L, ts("2024-01-01 00:10:00")),
      (1L, ts("2024-01-01 02:00:00")), // new session (gap > 30 min)
      (2L, ts("2024-01-01 00:00:00")))
    val in = MemoryStream[(Long, Timestamp)]
    val agg = StreamingPipeline.sessionCounts(in.toDF.toDF("user_id", "ts"), "30 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("sess_t").outputMode("complete").start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamSessions = spark.table("sess_t").groupBy("user_id")
        .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
      val batchSessions = Relational
        .sessionize(data.toDF("user_id", "ts"), "user_id", "ts", 1800L)
        .groupBy("user_id").agg((max("session_id") + 1).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(streamSessions === batchSessions)
    } finally q.stop()
  }

  test("watermark-bounded dedup drops duplicates arriving within the watermark") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.Producer
    val in = MemoryStream[(Timestamp, String)]
    val q = Producer.dedupNames(in.toDF.toDF("ts", "item_name"), Some("1 hour"))
      .writeStream.format("memory").queryName("wmdedup_t").outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 00:00:00"), "apple"), (ts("2024-01-01 00:05:00"), "apple"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:30:00"), "apple"), (ts("2024-01-01 00:30:00"), "pear"))
      q.processAllAvailable()
      val names = spark.table("wmdedup_t").select("item_name").as[String]
        .collect().sorted.toSeq
      assert(names === Seq("apple", "pear")) // in-watermark repeats all dropped
    } finally q.stop()
  }

  test("stream-stream inner join with watermarks joins only within the time bound") {
    implicit val ctx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF.toDF("ad_id", "imp_ts").withWatermark("imp_ts", "1 hour")
    val clk = clicks.toDF.toDF("c_ad_id", "click_ts").withWatermark("click_ts", "1 hour")
    val joined = imp.join(clk,
      col("ad_id") === col("c_ad_id") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_t").outputMode("append").start()
    try {
      impressions.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
      clicks.addData((1L, ts("2024-01-01 00:10:00")), (2L, ts("2024-01-01 02:00:00")))
      q.processAllAvailable()
      val rows = spark.table("ssj_t").select("ad_id").as[Long].collect().toSeq
      assert(rows === Seq(1L)) // ad 2's click fell outside the 30-minute bound
    } finally q.stop()
  }

  test("foreachBatch maintains an incremental aggregate snapshot across batches") {
    // Streaming materialized view: each micro-batch folds into the per-key
    // (count, sum) snapshot via Relational.incrementalAgg — |snapshot|+|batch|
    // work per batch, and the final snapshot must equal the batch recompute
    // over everything ever streamed.
    implicit val ctx = spark.sqlContext
    import graft.operators.Iterate
    val in = MemoryStream[(Long, Long)]
    var snapshot = Seq.empty[(Long, Long, Long)].toDF("k", "count_n", "v")
    val q = in.toDF.toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        snapshot = Iterate.materialize(
          Relational.incrementalAgg(snapshot, batch, Seq("k"), Seq("v")))
        ()
      }
      .start()
    try {
      val all = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      for (b <- 0 until 3) {
        val rows = (0 until 20).map(i => ((b * 7 + i) % 5L, (b * 100 + i).toLong))
        all ++= rows
        in.addData(rows: _*)
        q.processAllAvailable()
      }
      val got = snapshot.as[(Long, Long, Long)].collect().toSet
      val want = all.groupBy(_._1)
        .map { case (k, vs) => (k, vs.size.toLong, vs.map(_._2).sum) }.toSet
      assert(got === want, "snapshot after 3 batches must equal full recompute")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits null rows once the watermark expires") {
    // The outer side can only emit after the watermark proves no match can still
    // arrive — the state-expiry semantics an inner join never exercises.
    implicit val ctx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val imp = impressions.toDF.toDF("ad_id", "imp_ts")
    val clk = clicks.toDF.toDF("c_ad_id", "click_ts")
    // Through the module surface (B206): watermarks applied inside.
    val joined = graft.streaming.StreamJoins.intervalJoinOuter(
      imp, "imp_ts", clk, "click_ts", "10 minutes",
      col("ad_id") === col("c_ad_id") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssoj_t").outputMode("append").start()
    try {
      impressions.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
      clicks.addData((1L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // Matched row may emit immediately; ad 2 must NOT have emitted yet — its
      // match window is still open.
      val early = spark.table("ssoj_t").select("ad_id").as[Long].collect().toSeq
      assert(!early.contains(2L), s"unmatched row emitted before watermark: $early")
      // Advance event time far past ad 2's join window + watermark on BOTH streams.
      impressions.addData((9L, ts("2024-01-01 03:00:00")))
      clicks.addData((9L, ts("2024-01-01 05:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("ssoj_t")
        .select(col("ad_id"), col("c_ad_id").isNull.as("unmatched"))
        .as[(Long, Boolean)].collect().toSet
      assert(rows.contains((1L, false)), s"matched row missing: $rows")
      assert(rows.contains((2L, true)),
        s"expired unmatched row must emit with nulls: $rows")
    } finally q.stop()
  }

  test("RocksDB state store provider drives the full ingest+upsert topology") {
    // The bounded-state knob DESIGN names for 100 TB streaming dedup, demonstrated
    // end to end: stateful dedup -> stream-static enrichment join -> validity filter
    // -> foreachBatch manifest-committed upsert, all with RocksDB-backed state, and
    // the same results the default (HDFS-backed in-memory) provider produces.
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val store = tmpDir("rocksup") + "/store"
    val in = MemoryStream[String]
    val ingested = StreamingPipeline.ingest(
      in.toDF.withColumnRenamed("value", "item_name"), lookup)
    val q = StreamingPipeline.upsertSink(ingested, store, Seq("item_name"),
        Seq(col("data").desc))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData("apple", "banana", "apple"); q.processAllAvailable()
      in.addData("banana", "cherry", "durian"); q.processAllAvailable()
      // RocksDB actually engaged: the running query's state operator reports it.
      assert(q.lastProgress.stateOperators.nonEmpty)
      val rows = StreamingPipeline.readStore(spark, store)
        .select("item_name").as[String].collect().sorted
      assert(rows.toSeq === Seq("apple", "banana")) // dup dropped, empty+miss filtered
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("corpus operators compose into a streaming ingest unchanged") {
    // The batch corpus ops are pure column transforms, so the same code runs in a
    // micro-batch stream: rule-filter -> content-fingerprint dedup (stateful
    // across batches via dropDuplicates on the derived fingerprint).
    implicit val ctx = spark.sqlContext
    import graft.operators.Corpus
    import graft.functions.TextOps
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF.toDF("doc_id", "lang", "text")
    val cleaned = Corpus.ruleFlags(docs).filter(col("r_pass"))
      .withColumn("fp", TextOps.tokenSetFingerprint(col("text")))
      .dropDuplicates("fp")
    val q = cleaned.writeStream.format("memory").queryName("corpus_t")
      .outputMode("append").start()
    try {
      val a = "the quick brown fox jumps over a lazy dog near the river bank"
      val aPerm = "quick the brown fox jumps over a lazy dog near the river bank"
      in.addData((1L, "en", a), (2L, "en", aPerm), (3L, "en", "too short"))
      q.processAllAvailable()
      in.addData((4L, "en", a), // cross-batch duplicate: state must drop it
        (5L, "en", "a second document with plenty of distinct interesting words beyond the minimum count"))
      q.processAllAvailable()
      val kept = spark.table("corpus_t").select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq === Seq(1L, 5L),
        "permutation + cross-batch dup deduped, short doc rule-filtered")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-key state across batches") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.{Stateful, UserEvent}
    val in = MemoryStream[UserEvent]
    val q = Stateful.runningTotals(in.toDS())
      .writeStream.format("memory").queryName("state_t").outputMode("update").start()
    try {
      in.addData(UserEvent(1L, 2.0), UserEvent(1L, 3.0), UserEvent(2L, 10.0))
      q.processAllAvailable()
      in.addData(UserEvent(1L, 5.0))
      q.processAllAvailable()
      // last emitted row per user reflects the full history
      val last = spark.table("state_t").groupBy("user_id")
        .agg(max(struct(col("n"), col("total"))).as("s"))
        .select(col("user_id"), col("s.n"), col("s.total"))
        .as[(Long, Long, Double)].collect().toSet
      assert(last === Set((1L, 3L, 10.0), (2L, 1L, 10.0)))
    } finally q.stop()
  }

  test("transformWithState (Spark 4 arbitrary-state API) matches the fMGWS twin") {
    // Same per-key running totals on the new StatefulProcessor API: typed named
    // ValueState from the handle, TTL/timer-capable, RocksDB-only. Feeding the
    // identical batches must yield the identical per-key history.
    implicit val ctx = spark.sqlContext
    import graft.streaming.{Stateful, UserEvent}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[UserEvent]
    val q = Stateful.runningTotalsTws(in.toDS())
      .writeStream.format("memory").queryName("tws_t").outputMode("update").start()
    try {
      in.addData(UserEvent(1L, 2.0), UserEvent(1L, 3.0), UserEvent(2L, 10.0))
      q.processAllAvailable()
      in.addData(UserEvent(1L, 5.0))
      q.processAllAvailable()
      val last = spark.table("tws_t").groupBy("user_id")
        .agg(max(struct(col("n"), col("total"))).as("s"))
        .select(col("user_id"), col("s.n"), col("s.total"))
        .as[(Long, Long, Double)].collect().toSet
      assert(last === Set((1L, 3L, 10.0), (2L, 1L, 10.0)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("observed metrics audit every micro-batch without a second pass") {
    // The streaming face of Relational.observeQuality: the same audit aggregate
    // set rides the micro-batch as task accumulators and surfaces per batch in
    // StreamingQueryProgress.observedMetrics — per-batch data-quality gating
    // with zero extra scans.
    implicit val ctx = spark.sqlContext
    import graft.operators.Relational
    val in = MemoryStream[(Long, java.lang.Double)]
    val audited = in.toDF.toDF("k", "v")
      .observe("audit", Relational.qualityMetrics(Seq("v"), Some("k")).head,
        Relational.qualityMetrics(Seq("v"), Some("k")).tail: _*)
    val q = audited.writeStream.format("memory").queryName("obs_t")
      .outputMode("append").start()
    try {
      in.addData((1L, java.lang.Double.valueOf(2.0)), (2L, null),
        (3L, java.lang.Double.valueOf(5.0)))
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get("audit")
      assert(m.getAs[Long]("n_rows") === 3L)
      assert(m.getAs[Long]("n_null_v") === 1L)
      assert(m.getAs[Long]("min_k") === 1L && m.getAs[Long]("max_k") === 3L)
    } finally q.stop()
  }

  test("streaming interval join reproduces the batch q_join_interval result") {
    // Batch-equivalence drive for the stream-stream interval join (the B82
    // posture): the SAME event rows flow once through the streaming twin of
    // q_join_interval — one stream filtered into errors/clicks branches,
    // watermarked, equi-joined on user_id with the [err-2h, err) residual —
    // and once through the batch formulation; the per-error click rollups
    // must be identical. The watermark bound mirrors the batch interval, so
    // streaming state holds exactly the join window, never unbounded history.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    val events = in.toDF.toDF("user_id", "event_id", "event_type", "ts")
    val errS = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"), col("ts").as("err_ts"))
      .withWatermark("err_ts", "2 hours")
    val clkS = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val joined = errS.join(clkS,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("err_ts") - expr("INTERVAL 2 HOURS") &&
        col("click_ts") < col("err_ts"))
    val q = joined.writeStream.format("memory").queryName("ivj_t")
      .outputMode("append").start()
    try {
      // Two users; clicks straddling the 2-hour bound, one click after the
      // error (excluded: strictly-before), a user with no error at all, and
      // out-of-order arrival across micro-batches.
      val rows = Seq(
        (1L, 10L, "click", ts("2024-01-01 08:30:00")), // 90 min before -> in
        (1L, 11L, "click", ts("2024-01-01 07:59:00")), // 121 min before -> out
        (1L, 100L, "error", ts("2024-01-01 10:00:00")),
        (1L, 12L, "click", ts("2024-01-01 10:30:00")), // after the error -> out
        (2L, 20L, "click", ts("2024-01-01 09:59:00")), // 1 min before -> in
        (2L, 200L, "error", ts("2024-01-01 10:00:00")),
        (3L, 30L, "click", ts("2024-01-01 09:00:00"))) // no error for user 3
      in.addData(rows.take(3): _*)
      q.processAllAvailable()
      in.addData(rows.drop(3): _*) // late-ish second batch, still inside watermark
      q.processAllAvailable()
      val streamed = spark.table("ivj_t")
        .groupBy(col("user_id"), col("err_id"))
        .agg(count(lit(1)).as("n_clicks_2h"),
          max(unix_micros(col("click_ts"))).as("last_click_us"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val ev = rows.toDF("user_id", "event_id", "event_type", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("err_id"),
          unix_micros(col("ts")).as("err_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("click_us"))
      val batch = errors.join(clicks, Seq("user_id"))
        .filter(col("click_us") >= col("err_us") - lit(7200000000L) &&
          col("click_us") < col("err_us"))
        .groupBy(col("user_id"), col("err_id"))
        .agg(count(lit(1)).as("n_clicks_2h"), max(col("click_us")).as("last_click_us"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streaming interval join diverged from batch twin: $streamed vs $batch")
      assert(streamed.map(_._2) === Set(100L, 200L))
    } finally q.stop()
  }

  test("streaming session_window reproduces the batch q_session_native result") {
    // B112 batch-equivalence: the SAME rows flow through the watermarked
    // streaming session_window agg (append mode — only closed sessions emit)
    // and the batch formulation; results must match. A far-future flush row for
    // a sentinel user advances the watermark past every real session's end so
    // all real sessions close; the sentinel is excluded from the comparison.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    // 2h delay keeps the deliberately out-of-order 08:10 row (batch 2, behind
    // batch 1's 09:00 max) ahead of the watermark instead of dropped-as-late.
    val events = in.toDF.toDF("user_id", "ts").withWatermark("ts", "2 hours")
    val agg = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (1L, ts("2024-01-01 08:00:00")), // s1
        (1L, ts("2024-01-01 08:30:00")), // exactly 30 min -> merges into s1
        (1L, ts("2024-01-01 09:00:01")), // 30 min + 1 s   -> new session s2
        (2L, ts("2024-01-01 08:05:00")), // single-event session
        (1L, ts("2024-01-01 08:10:00"))) // out-of-order, inside s1
      in.addData(rows.take(3): _*)
      q.processAllAvailable()
      in.addData(rows.drop(3): _*)
      q.processAllAvailable()
      in.addData((99L, ts("2024-01-02 00:00:00"))) // watermark flush sentinel
      q.processAllAvailable()
      val streamed = spark.table("sess_t").filter(col("user_id") < 99L)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = rows.toDF("user_id", "ts")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"), col("n_events"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"streaming session_window diverged from batch: $streamed vs $batch")
      // the equal-to-gap event merged, the +1s event did not
      assert(batch.count(_._1 == 1L) === 2)
    } finally q.stop()
  }
}
