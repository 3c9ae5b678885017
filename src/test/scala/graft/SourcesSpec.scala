package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Source/sink format surface: parquet is the engine's native format (everywhere);
 * CSV, JSON, and ORC round-trip with explicit schemas (schema-on-read is always
 * declared, never inferred — the determinism rule from SURVEY §1.3).
 */
class SourcesSpec extends GraftSuite {

  private lazy val base = Tables.events(spark, sfTiny)
    .select(col("event_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    .limit(500)

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("ts_us", LongType)))

  private def roundtrip(fmt: String, opts: Map[String, String] = Map.empty): Unit = {
    val dir = tmpDir(s"src_$fmt") + s"/$fmt"
    base.write.options(opts).format(fmt).save(dir)
    val back = spark.read.options(opts).schema(schema).format(fmt).load(dir)
    assert(back.count() === base.count())
    assert(back.exceptAll(base).count() === 0, s"$fmt roundtrip altered rows")
  }

  test("csv round-trips with an explicit schema") {
    roundtrip("csv", Map("header" -> "true"))
  }

  test("json round-trips with an explicit schema") {
    roundtrip("json")
  }

  test("orc round-trips") {
    roundtrip("orc")
  }

  test("xml round-trips with an explicit schema (Spark 4 native source)") {
    roundtrip("xml", Map("rowTag" -> "item"))
  }

  test("to_xml/from_xml scalar round-trip is the identity on structs") {
    // Pins the WRITE side of the XML scalar surface (q_xml_funcs exercises the
    // read side against the oracle): serialize a struct, parse it back with
    // the declared schema, and nothing may change.
    val st = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val df = spark.range(5).select(
      struct(col("id").as("k"), concat(lit("n"), col("id")).as("s")).as("st"))
    val back = df.select(from_xml(to_xml(col("st")), st).as("rt"), col("st"))
    assert(back.filter(col("rt") =!= col("st")).count() === 0)
  }

  test("streaming file source over json matches the batch read") {
    val dir = tmpDir("srcstream") + "/json"
    base.write.format("json").save(dir)
    val agg = spark.readStream.schema(schema).json(dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("srcj_t")
      .outputMode("complete").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import spark.implicits._
    val streamed = spark.table("srcj_t").as[(String, Long)].collect().toMap
    val batch = base.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("schema evolution: mergeSchema unions old and new parquet batches") {
    // The ingest reality at 100 TB: a column added mid-stream must not strand
    // the history. Old batch lacks `source`; merged read nulls it there.
    import spark.implicits._
    val dir = tmpDir("evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
      .write.parquet(s"$dir/batch=0")
    Seq((3L, "c", "api"), (4L, "d", "crawl")).toDF("id", "payload", "source")
      .write.parquet(s"$dir/batch=1")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("batch", "id", "payload", "source"))
    val rows = merged.select("id", "source").as[(Long, Option[String])]
      .collect().toMap
    assert(rows === Map(1L -> None, 2L -> None, 3L -> Some("api"), 4L -> Some("crawl")))
  }

  test("binaryFile source reads distributed-written blob shards back byte-exact") {
    // The q_source_binaryfile shape end to end on tiny data: per-partition
    // Hadoop-FS writes (executor-side), whole-file binaryFile read, and the
    // (length, md5) signature must match what the table itself predicts.
    import spark.implicits._
    val docs = Tables.documents(spark, sfTiny)
      .filter(pmod(col("doc_id"), lit(29)) === 0 && col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val got = queries.PipelineQueries.queries("q_source_binaryfile")(spark, sfTiny)
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    val want = docs
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).cast("long"),
        md5(encode(col("text"), "UTF-8")))
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("graft-synth MicroBatchStream: paced AvailableNow drain equals the batch read") {
    // The DSv2 streaming read path with real admission control: the committed
    // id offset fully determines each batch, AvailableNow drains the table in
    // multiple paced micro-batches (A10's rate limit), and the union of all
    // batches must be EXACTLY the batch-mode table.
    val q = spark.readStream.format("graft-synth")
      .option("rows", "40000").option("parts", "8").load()
      .writeStream.format("memory").queryName("synth_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("synth_stream")
    val want = spark.read.format("graft-synth")
      .option("rows", "40000").option("parts", "8").load()
    assert(got.count() === 40000L)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    assert(q.recentProgress.map(_.numInputRows).sum === 40000L)
    assert(q.recentProgress.count(_.numInputRows > 0) > 1,
      "admission control must pace the drain into multiple micro-batches")
  }

  test("graft-synth under Trigger.Once honors ReadLimit.allAvailable: no silent truncation") {
    // Trigger.Once runs exactly ONE batch and passes ReadLimit.allAvailable()
    // (the source's own default maxRows limit is ignored) — stepping by
    // batchSize there would emit rows/parts ids and report SUCCESS on a
    // truncated stream. The one batch must cover every row.
    val q = spark.readStream.format("graft-synth")
      .option("rows", "40000").option("parts", "8").load()
      .writeStream.format("memory").queryName("synth_once")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    q.awaitTermination()
    assert(spark.table("synth_once").count() === 40000L,
      "Trigger.Once must process ALL available rows in its single batch")
  }

  test("graft-synth pushdown bounds saturate at Long.MaxValue instead of wrapping") {
    // Regression: `doc_id <= Long.MaxValue` used to push hi = MaxValue + 1 ==
    // Long.MinValue, pruning EVERY split at planning time — the one way the
    // "pruning never changes results" invariant could break, since the
    // row-level residual cannot resurrect a dropped split.
    val base = spark.read.format("graft-synth")
      .option("rows", "10000").option("parts", "4").load()
    assert(base.filter(col("doc_id") <= Long.MaxValue).count() === 10000L)
    assert(base.filter(col("doc_id") === Long.MaxValue).count() === 0L)
    assert(base.filter(col("doc_id") > Long.MaxValue).count() === 0L)
  }

  test("graft-audit DSv2 sink commits a partitioning-invariant manifest atomically") {
    import java.nio.file.{Files, Paths}
    def manifest(dir: String): String =
      new String(Files.readAllBytes(Paths.get(dir, "manifest.json")))
    val df = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .filter(col("l_orderkey") < 2000)
    val d1 = tmpDir("audit1"); val d2 = tmpDir("audit2")
    // Same multiset through different partitionings must commit identical
    // rows + content_hash (n_tasks legitimately differs).
    df.repartition(3).write.format("graft-audit").option("path", d1)
      .mode("append").save()
    df.repartition(11, col("l_orderkey")).write.format("graft-audit")
      .option("path", d2).mode("overwrite").save()
    val (m1, m2) = (manifest(d1), manifest(d2))
    def field(m: String, k: String): String =
      k + ":" + m.split("\"" + k + "\":")(1).split("[,}]")(0)
    assert(field(m1, "rows") === field(m2, "rows"))
    assert(field(m1, "content_hash") === field(m2, "content_hash"))
    assert(field(m1, "rows") === s"rows:${df.count()}")
    // The rendering-scheme version is stamped so a future scheme change is
    // distinguishable from data corruption when fingerprints are compared
    // across versions.
    assert(field(m1, "fingerprint_v") ===
      s"fingerprint_v:${graft.sources.AuditBatchWrite.FingerprintVersion}")
    // Atomic publish: no temp file survives a successful commit.
    assert(!Files.exists(Paths.get(d1, "_manifest.json.tmp")))
    // A changed multiset must change the signature.
    df.limit(100).write.format("graft-audit").option("path", d1)
      .mode("overwrite").save()
    assert(field(manifest(d1), "content_hash") !== field(m2, "content_hash"))
  }

  test("_metadata row_index stays file-absolute when the read splits") {
    // Force many tiny splits: row_index must still be the position in the FILE,
    // not within a split - the invariant q_provenance's oracle relies on.
    val dir = tmpDir("prov")
    spark.range(0, 1000).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val tight = spark.read.parquet(dir)
        .select(col("id"), col("_metadata.row_index").as("ri"))
      assert(tight.rdd.getNumPartitions > 1, "split forcing must engage")
      assert(tight.filter(col("id") =!= col("ri")).count() === 0L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("dynamic partition overwrite replaces only the batch's partitions; static wipes the rest") {
    import spark.implicits._
    val dir = tmpDir("dpo")
    val full = Seq((1L, 10L, 0), (2L, 20L, 1), (3L, 30L, 2)).toDF("id", "v", "pk")
    full.write.mode("overwrite").partitionBy("pk").parquet(dir)
    val batch = Seq((2L, 99L, 1)).toDF("id", "v", "pk")

    // dynamic: pk=1 replaced, pk=0 and pk=2 untouched
    batch.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("pk").parquet(dir)
    val afterDyn = spark.read.parquet(dir)
      .select(col("id"), col("v"), col("pk").cast("int"))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(afterDyn === Array((1L, 10L, 0), (2L, 99L, 1), (3L, 30L, 2)))

    // static (the default): the whole table is replaced by the batch
    batch.write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("pk").parquet(dir)
    val afterStatic = spark.read.parquet(dir)
      .select(col("id"), col("v"), col("pk").cast("int"))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(afterStatic === Array((2L, 99L, 1)))
  }

  test("Tables.fingerprint moves when source bytes, part names, or mtime change") {
    // The scratch dir is keyed by the sf-dir STRING, so memoized artifacts
    // (fixture tables, ANN indexes) survive a dataset REGENERATION in place —
    // the fingerprint is the only thing standing between a stale cache and
    // wrong answers. Pin all three invalidation axes.
    val dir = new java.io.File(tmpDir("graft_fp"))
    val t = new java.io.File(dir, "orders.parquet")
    java.nio.file.Files.write(t.toPath, Array[Byte](1, 2, 3))
    t.setLastModified(1700000000000L)
    val fp0 = Tables.fingerprint(dir.toString, Seq("orders"))
    assert(fp0 === Tables.fingerprint(dir.toString, Seq("orders")), "must be stable")
    java.nio.file.Files.write(t.toPath, Array[Byte](1, 2, 3, 4)) // length moves
    t.setLastModified(1700000000000L)
    val fp1 = Tables.fingerprint(dir.toString, Seq("orders"))
    assert(fp1 !== fp0, "length change must move the fingerprint")
    t.setLastModified(1700000001000L) // same bytes, new mtime
    assert(Tables.fingerprint(dir.toString, Seq("orders")) !== fp1,
      "mtime change must move the fingerprint")
    // Directory-shaped table: part NAMES are part of the signature.
    val dt = new java.io.File(dir, "events.parquet"); dt.mkdirs()
    val p1 = new java.io.File(dt, "part-0.parquet")
    java.nio.file.Files.write(p1.toPath, Array[Byte](9))
    p1.setLastModified(1700000000000L)
    val fpd = Tables.fingerprint(dir.toString, Seq("events"))
    assert(p1.renameTo(new java.io.File(dt, "part-1.parquet")))
    new java.io.File(dt, "part-1.parquet").setLastModified(1700000000000L)
    assert(Tables.fingerprint(dir.toString, Seq("events")) !== fpd,
      "part rename must move the fingerprint")
  }
}
