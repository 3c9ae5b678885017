package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.operators.{NutritionPipeline, Relational}
import graft.sources.{GraftManifest, GraftScan}
import graft.streaming.StreamingPipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Keyed-store reads planned from the manifest: the `keys=` / `schema=` lines,
 * and [[graft.plans.UniqueKeyRowNumberRule]] turning `latestPerKey` over the
 * store's own unique key into a no-op — with the no-fire battery and a seeded
 * property sweep against a relational shadow.
 */
class KeyedStoreReadSpec extends GraftSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val ord = Seq(col("ingestion_ts").desc)

  private def payload(i: Int) = s"""[{"name":"n$i","calories":${40 + i % 500}}]"""

  private def items(rows: (String, Int)*): DataFrame =
    rows.map { case (n, i) => (n, new Timestamp(1700000000000L + i * 1000L), payload(i)) }
      .toDF("item_name", "ingestion_ts", "data")

  private def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
  private def exchanges(df: DataFrame) = collect(executed(df)) { case e: Exchange => e }
  private def windows(df: DataFrame) = collect(executed(df)) { case w: WindowExec => w }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The store's committed catalog manifests, oldest first. */
  private def manifests(store: String): Seq[GraftManifest] = {
    val dir = new Path(store)
    val conf = spark.sparkContext.hadoopConfiguration
    (0L to GraftManifest.currentGen(dir, conf)).map(GraftManifest.load(dir, _, conf))
  }

  /** A generation through a plain parquet read of its files: schema
    * inferred, no key declared. */
  private def plainRead(store: String, manifest: GraftManifest): DataFrame =
    spark.read.parquet(manifest.entries.map(e => s"$store/${e._2}"): _*)

  /** Two generations of a one-key store; returns the store path. */
  private def twoGenerations(): String = {
    val store = tmpDir("keyed") + "/store"
    StreamingPipeline.upsertBatch(items((0 until 30).map(i => (s"item_$i", i)): _*),
      store, Seq("item_name"), ord)
    StreamingPipeline.upsertBatch(items((20 until 40).map(i => (s"item_$i", 100 + i)): _*),
      store, Seq("item_name"), ord)
    store
  }

  test("manifests record the store's keys and schema") {
    val store = twoGenerations()
    val m = manifests(store).last
    assert(m.props.get("store.keys") === Some("item_name"))
    assert(m.schema.fieldNames.toSeq === Seq("item_name", "ingestion_ts", "data", "__bucket"))
    assert(m.partCols === Seq("__bucket"))
    assert(m.entries.nonEmpty && m.entries.forall { case (part, rel) =>
      part.startsWith("__bucket=") && rel.matches(s"gen-[12]-[0-9a-f]{8}/$part/part-.*\\.parquet") })
  }

  test("readStore and readStoreAsOf run no schema-inference job") {
    val store = twoGenerations()
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("keyed-store-reads", "reads")
      StreamingPipeline.readStore(spark, store)
      StreamingPipeline.readStoreAsOf(spark, store, 1L)
      // Listener events arrive in order: once the marker job shows, every
      // job the reads started has shown too.
      sc.setJobGroup("keyed-store-marker", "marker")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("keyed-store-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("keyed-store-marker"))
      assert(!groups.contains("keyed-store-reads"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("readStore and readStoreAsOf read through the catalog's GraftScan") {
    val store = twoGenerations()
    for (df <- Seq(StreamingPipeline.readStore(spark, store),
        StreamingPipeline.readStoreAsOf(spark, store, 1L))) {
      assert(df.columns.toSeq === Seq("item_name", "ingestion_ts", "data"))
      val plan = executed(df)
      val scans = collect(plan) { case b: BatchScanExec => b.scan }
      assert(scans.nonEmpty && scans.forall(_.isInstanceOf[GraftScan]), plan.toString)
      assert(collect(plan) { case f: FileSourceScanExec => f }.isEmpty, plan.toString)
    }
  }

  test("enrichment over readStore and readStoreAsOf plans no Exchange and no Window") {
    val store = tmpDir("keyed") + "/store"
    StreamingPipeline.upsertBatch(items((0 until 30).map(i => (s"item_$i", i)): _*),
      store, Seq("item_name"), ord)
    val gen1 = manifests(store).last
    StreamingPipeline.upsertBatch(items((20 until 40).map(i => (s"item_$i", 100 + i)): _*),
      store, Seq("item_name"), ord)
    val gen2 = manifests(store).last
    for ((fast, plain) <- Seq(
        StreamingPipeline.readStore(spark, store) -> plainRead(store, gen2),
        StreamingPipeline.readStoreAsOf(spark, store, 1L) -> plainRead(store, gen1))) {
      val got = NutritionPipeline.enrichmentPipeline(fast)
      assert(exchanges(got).isEmpty && windows(got).isEmpty, executed(got).toString)
      val want = NutritionPipeline.enrichmentPipeline(plain)
      assert(windows(want).nonEmpty, "sanity: a read without the key keeps the window")
      assert(sorted(got) === sorted(want))
    }
    assert(NutritionPipeline.enrichmentPipeline(StreamingPipeline.readStore(spark, store))
      .count() === 40)
  }

  test("the rule also fires through a SparkSessionExtensions-built session") {
    // Injected rules run inside the operator-optimization fixpoint, before
    // Spark infers a WindowGroupLimit — the other optimizer batch.
    val store = twoGenerations()
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(s ne base)
      val raw = StreamingPipeline.readStore(s, store)
      val cls = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      cls.experimental.extraOptimizations = Nil // only the injected instance
      val got = NutritionPipeline.enrichmentPipeline(raw)
      assert(exchanges(got).isEmpty && windows(got).isEmpty, executed(got).toString)
      assert(got.count() === 40)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("a manifest without keys= and schema= reads as before: no rewrite") {
    // The catalog manifest always carries a schema; drop the key columns.
    val store = twoGenerations()
    val latest = manifests(store).last
    val file = Paths.get(store, s"manifest-${latest.gen}.txt")
    val legacy = Files.readAllLines(file, UTF_8).asScala
      .filterNot(_.startsWith("prop=store.keys\t"))
    Files.write(file, legacy.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    val got = NutritionPipeline.enrichmentPipeline(StreamingPipeline.readStore(spark, store))
    assert(windows(got).nonEmpty)
    assert(sorted(got) === sorted(NutritionPipeline.enrichmentPipeline(plainRead(store, latest))))
  }

  test("no rewrite for a non-key or partial-key window, or another window function") {
    val store = tmpDir("composite") + "/store"
    StreamingPipeline.upsertBatch(
      items((0 until 20).map(i => (s"item_${i % 5}", i)): _*)
        .withColumn("region", (col("ingestion_ts").cast("long") % 4).cast("string")),
      store, Seq("item_name", "region"), ord)
    val raw = StreamingPipeline.readStore(spark, store)
    def rn(parts: String*) = raw.withColumn("rn",
      row_number().over(Window.partitionBy(parts.map(col): _*).orderBy(col("data"))))
    assert(windows(rn("item_name", "region")).isEmpty, "positive control: full composite key")
    assert(windows(rn("region", "item_name", "data")).isEmpty, "a superset still covers the key")
    assert(windows(rn("item_name")).nonEmpty, "part of a composite key")
    assert(windows(rn("data")).nonEmpty, "a non-key column")
    assert(rn("item_name").filter(col("rn") > 1).count() > 0)
    val ranked = raw.withColumn("r",
      rank().over(Window.partitionBy(col("item_name"), col("region")).orderBy(col("data"))))
    assert(windows(ranked).nonEmpty, "rank() is not rewritten")
  }

  test("no rewrite when the key is seen through Union, Join or Aggregate") {
    val store = twoGenerations()
    val raw = StreamingPipeline.readStore(spark, store)
    val ts = Seq(col("ingestion_ts").desc)
    val union = Relational.latestPerKey(raw.unionByName(raw), Seq("item_name"), ts)
    assert(windows(union).nonEmpty)
    assert(union.count() === 40)
    val other = items((0 until 40).map(i => (s"item_$i", i)): _*)
      .select(col("item_name"), col("data").as("other"))
    val joined = Relational.latestPerKey(raw.join(other, "item_name"), Seq("item_name"), ts)
    assert(windows(joined).nonEmpty)
    val agg = Relational.latestPerKey(
      raw.groupBy("item_name").agg(max("ingestion_ts").as("ingestion_ts")), Seq("item_name"), ts)
    assert(windows(agg).nonEmpty)
  }

  test("no rewrite over a store with a masked key: masking can merge distinct keys") {
    val store = twoGenerations()
    spark.conf.set("spark.sql.catalog.gkeyed", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gkeyed.root", new Path(store).getParent.toString)
    spark.sql("ALTER TABLE gkeyed.store SET TBLPROPERTIES('graft.mask.item_name' = \"'x'\")")
    val got = NutritionPipeline.enrichmentPipeline(StreamingPipeline.readStore(spark, store))
    assert(windows(got).nonEmpty)
    assert(got.count() === 1, "every key reads as 'x': one latest row")
  }

  test("seeded sweep: readStore is the latest row per key and enrichment is key-blind") {
    // Random upsert sequences against a relational shadow: repeated keys
    // within and across batches, one-column and composite keys, and NULL key
    // components. Ingestion times are unique, so every order is total.
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val composite = seed % 2 == 0
      val keys = if (composite) Seq("item_name", "region") else Seq("item_name")
      val store = tmpDir(s"sweep$seed") + "/store"
      var seq = 0
      var all = Seq.empty[(String, String, Timestamp, String)]
      for (commit <- 1 to 4) {
        val batch = Seq.fill(5 + rnd.nextInt(25)) {
          seq += 1
          val name = if (rnd.nextInt(10) == 0) null else s"item_${rnd.nextInt(12)}"
          val region = if (rnd.nextInt(5) == 0) null else s"r${rnd.nextInt(3)}"
          val data = rnd.nextInt(6) match {
            case 0 => "[]"
            case 1 => "{not json"
            case _ => payload(seq)
          }
          (name, region, new Timestamp(1700000000000L + seq * 1000L), data)
        }
        all ++= batch
        def frame(rows: Seq[(String, String, Timestamp, String)]) = {
          val df = rows.toDF("item_name", "region", "ingestion_ts", "data")
          if (composite) df else df.drop("region")
        }
        StreamingPipeline.upsertBatch(frame(batch), store, keys, ord)
        val clue = s"seed $seed, commit $commit"
        val got = StreamingPipeline.readStore(spark, store)
        assert(sorted(got) === sorted(Relational.latestPerKey(frame(all), keys, ord)), clue)
        val enriched = NutritionPipeline.enrichmentPipeline(got)
        val keyBlind = NutritionPipeline.enrichmentPipeline(plainRead(store, manifests(store).last))
        assert(sorted(enriched) === sorted(keyBlind), clue)
        assert(windows(enriched).isEmpty === !composite, clue)
      }
    }
  }

  test("seeded sweep: nullable ordering column, batches of 0 to 30 keys") {
    // A NULL `prio` sorts last, so a row with a priority beats every row
    // without one; ingestion times are unique, so every order is total. An
    // empty batch must publish no generation.
    val prioOrd = Seq(col("prio").asc_nulls_last, col("ingestion_ts").desc)
    for (seed <- 11 to 14) {
      val rnd = new scala.util.Random(seed)
      val composite = seed % 2 == 0
      val keys = if (composite) Seq("item_name", "region") else Seq("item_name")
      val store = tmpDir(s"prio$seed") + "/store"
      var seq = 0
      var all = Seq.empty[(String, String, Integer, Timestamp, String)]
      def frame(rows: Seq[(String, String, Integer, Timestamp, String)]) = {
        val df = rows.toDF("item_name", "region", "prio", "ingestion_ts", "data")
        if (composite) df else df.drop("region")
      }
      for ((size, commit) <- Seq(0, 1, 2, 30, 0, 2, 30, 1).zipWithIndex) {
        val batch = Seq.fill(size) {
          seq += 1
          val name = if (rnd.nextInt(8) == 0) null else s"item_${rnd.nextInt(20)}"
          val region = if (rnd.nextInt(5) == 0) null else s"r${rnd.nextInt(3)}"
          val prio: Integer = if (rnd.nextInt(3) == 0) null else Int.box(rnd.nextInt(3))
          (name, region, prio, new Timestamp(1700000000000L + seq * 1000L), payload(seq))
        }
        all ++= batch
        // No store before the first upsert.
        val gensBefore =
          if (commit == 0) Nil else StreamingPipeline.storeGenerations(spark, store)
        StreamingPipeline.upsertBatch(frame(batch), store, keys, prioOrd)
        val clue = s"seed $seed, commit $commit, batch of $size"
        val gensAfter = StreamingPipeline.storeGenerations(spark, store)
        if (size == 0) assert(gensAfter === gensBefore, clue)
        else assert(gensAfter === gensBefore :+ (gensBefore.lastOption.getOrElse(0L) + 1), clue)
        assert(sorted(StreamingPipeline.readStore(spark, store)) ===
          sorted(Relational.latestPerKey(frame(all), keys, prioOrd)), clue)
      }
    }
  }
}
