package graft.streaming

import graft.operators.Relational
import graft.plans.UniqueKeyRowNumberRule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.Row

/**
 * Structured Streaming replication of the reference's ingest topology (SURVEY.md
 * §3.1): producer -> Kafka -> consumer -> keyed upsert store becomes one incremental
 * query: source -> stateful dedup -> stream-static enrichment join -> validity filter
 * -> foreachBatch keyed upsert. The reference's offset-commit protocol
 * (consume_items.py:83-119) is subsumed by checkpointing (exactly-once to
 * idempotent sinks — strictly stronger than its at-least-once manual commits).
 *
 * Scale posture: dedup state is bounded via `dropDuplicatesWithinWatermark` when a
 * watermark column is present; at cluster scale you would additionally configure the
 * RocksDB state store provider (config-only, no code change). The enrichment lookup
 * is a broadcastable static table — the deterministic stand-in for the reference's
 * per-record HTTP call (consume_items.py:66-80), which would not survive any scale.
 */
object StreamingPipeline {

  /**
   * A4: subscribe to the file-channel topic written by [[Producer.toFileChannel]].
   * Schema is declared (never inferred) and matches the Kafka wire value column, so
   * `fromWire` applies unchanged over this source, a Kafka source, or a
   * MemoryStream — the consumer pipeline is source-agnostic over the wire schema.
   * Checkpointing gives the `startingOffsets`/group-id semantics: each run consumes
   * exactly the files not yet committed, like a consumer group resuming from its
   * committed offset (consume_items.py:24-30 of the reference).
   */
  def fileChannel(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .json(dir)

  /** A5: Kafka's consumer-side deserialization — wire records back to item names
    * (`value.cast(string)`, the declarative form of the reference's JSON decode). */
  def fromWire(wire: DataFrame): DataFrame =
    wire.select(col("value").cast("string").as("item_name"))

  /**
   * A2+A5+A6+A7: dedup incoming item names, enrich via stream-static left join
   * against `lookup(item_name, data)`, drop null/empty payloads.
   * If `watermarkTs` is set (col, delay), dedup state is watermark-bounded.
   */
  def ingest(names: DataFrame, lookup: DataFrame,
             watermarkTs: Option[(String, String)] = None): DataFrame = {
    val deduped = Producer.dedupNames(names, watermarkTs.map(_._2),
      watermarkTs.map(_._1).getOrElse("ts"))
    deduped
      .join(lookup, Seq("item_name"), "left")
      .filter(col("data").isNotNull && col("data") =!= "[]")
  }

  /** Number of hash buckets the upsert store is directory-partitioned into. */
  val DefaultStoreBuckets = 16

  private val ManifestDirName = "_manifests"

  /**
   * Store manifest: one per committed generation. `numBuckets` pins the store's
   * bucket count (a merge with a different count would silently strand keys across
   * bucket dirs — rejected instead); `files` lists, per bucket, the EXACT data files
   * that make up this generation. Readers resolve the store through the latest
   * manifest only, so the store flips old -> new atomically at the manifest rename.
   * `keys` and `schema` (the store's key columns and its Spark schema without the
   * bucket column) are empty/None for a manifest written before they were recorded.
   */
  private[streaming] case class StoreManifest(generation: Long, numBuckets: Int,
                                              files: Map[Int, Seq[String]],
                                              keys: Seq[String] = Nil,
                                              schema: Option[StructType] = None)

  private val BucketCol = "__bucket"

  private def bucketOf(p: Path): Option[Int] = {
    val n = p.getName
    if (n.startsWith(s"$BucketCol=")) scala.util.Try(n.substring(BucketCol.length + 1).toInt).toOption
    else None
  }

  /** Latest committed manifest, or None for an empty / legacy pre-manifest store.
    * Generations are zero-padded in the filename so lexicographic max = newest. */
  private[streaming] def latestManifest(fs: FileSystem, root: Path): Option[StoreManifest] = {
    manifestNames(fs, root) match {
      case Seq() => None
      case names => Some(parseManifest(fs, root, names.max))
    }
  }

  // Only canonical zero-padded-generation names count as committed manifests:
  // a stray hand-copied file (e.g. "backup.manifest") must neither win the
  // lexicographic latest-pick nor crash generation parsing.
  private def manifestNames(fs: FileSystem, root: Path): Seq[String] = {
    val dir = new Path(root, ManifestDirName)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.manifest")).toSeq
  }

  private def parseManifest(fs: FileSystem, root: Path, name: String): StoreManifest = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(new Path(new Path(root, ManifestDirName), name)), "UTF-8"))
    try {
      var numBuckets = -1; var generation = -1L
      var keys = Seq.empty[String]; var schema = Option.empty[StructType]
      val files = scala.collection.mutable.Map.empty[Int, List[String]]
      var line = in.readLine()
      while (line != null) {
        if (line.startsWith("numBuckets=")) numBuckets = line.substring(11).toInt
        else if (line.startsWith("generation=")) generation = line.substring(11).toLong
        else if (line.startsWith("keys=")) keys = UniqueKeyRowNumberRule.decodeKey(line.substring(5))
        else if (line.startsWith("schema=")) schema = Some(DataType.fromJson(line.substring(7))
          .asInstanceOf[StructType])
        else if (line.startsWith("f\t")) {
          val parts = line.split("\t", 3)
          val b = parts(1).toInt
          files(b) = parts(2) :: files.getOrElse(b, Nil)
        }
        line = in.readLine()
      }
      StoreManifest(generation, numBuckets,
        files.view.mapValues(_.reverse.toSeq).toMap, keys, schema)
    } finally in.close()
  }

  /** Write-then-rename manifest commit: the rename is the atomic commit point. */
  private def writeManifest(fs: FileSystem, root: Path, m: StoreManifest): Unit = {
    val dir = new Path(root, ManifestDirName)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID}")
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"))
    try {
      out.println(s"numBuckets=${m.numBuckets}")
      out.println(s"generation=${m.generation}")
      if (m.keys.nonEmpty) out.println(s"keys=${UniqueKeyRowNumberRule.encodeKey(m.keys)}")
      m.schema.foreach(st => out.println(s"schema=${st.json}"))
      m.files.toSeq.sortBy(_._1).foreach { case (b, fl) =>
        fl.foreach(rel => out.println(s"f\t$b\t$rel"))
      }
    } finally out.close()
    val committed = new Path(dir, f"${m.generation}%020d.manifest")
    require(fs.rename(tmp, committed), s"manifest commit failed: $committed")
  }

  /**
   * A9: last-write-wins keyed upsert of one micro-batch into a manifest-committed
   * parquet store — the Cassandra PK insert semantics (consume_items.py:50-58 of
   * the reference), with atomic visibility.
   *
   * The store is directory-partitioned by `__bucket = pmod(hash(keys), numBuckets)`,
   * so a micro-batch merges ONLY the buckets its keys land in: read the touched
   * buckets' manifest-listed files, union the batch, re-rank latest-per-key, write
   * the replacement content as NEW files, then commit a new manifest. Cost is
   * O(batch × bucket-size) per batch — the per-key cost model of the reference's
   * Cassandra PK store — instead of O(store) per batch. Untouched buckets are never
   * read or written; their file lists carry forward in the manifest.
   *
   * Durability: nothing is ever deleted or overwritten on the data path. New files
   * stage under `_staging-*` and move into the bucket dirs under their (UUID-unique)
   * part names; superseded files simply drop out of the new manifest. A crash at ANY
   * point before the manifest rename leaves the previous generation fully intact and
   * fully visible (orphaned new files are invisible to [[readStore]] and reclaimed
   * by [[vacuumStore]]); the single-file manifest rename is the atomic commit —
   * the same from-scratch mechanism Delta/Iceberg build their commit on.
   *
   * `numBuckets` is pinned by the store's manifest: a merge against an existing
   * store with a different count is rejected (it would split keys across bucket
   * dirs and break last-write-wins). A batch with its own `__bucket` column is
   * rejected before anything is staged: that name is the store's bucket column.
   *
   * Each manifest also records the store's `keys=` (the key columns) and
   * `schema=` (its Spark schema as JSON, bucket column excluded). Reads of
   * committed files — this merge's, [[readStore]]'s and [[readStoreAsOf]]'s —
   * take the schema from there instead of running parquet schema inference;
   * older manifests without these lines read as before.
   */
  def upsertBatch(batch: DataFrame, path: String, keys: Seq[String],
                  ordering: Seq[Column], numBuckets: Int = DefaultStoreBuckets): Unit = {
    require(!batch.columns.exists(_.equalsIgnoreCase(BucketCol)),
      s"upsert batch has a column named $BucketCol, which the store reserves for " +
        "its bucket directories; rename it before upserting")
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = latestManifest(fs, root)
    prev.foreach { m =>
      require(m.numBuckets == numBuckets,
        s"store at $path is pinned to numBuckets=${m.numBuckets}; merging with " +
          s"numBuckets=$numBuckets would strand keys across buckets")
    }
    val bucketed = batch.withColumn(BucketCol,
      pmod(hash(keys.map(col): _*), lit(numBuckets)))
    // Partition pruning metadata, not data: at most `numBuckets` small integers.
    val touched = bucketed.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    // A legacy pre-manifest store falls back to directory listing once and becomes
    // manifest-committed from this generation on.
    def legacyList(b: Int): Seq[String] = {
      val d = new Path(root, s"$BucketCol=$b")
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(s => s"$BucketCol=$b/${s.getPath.getName}").toSeq
    }
    val prevFiles: Int => Seq[String] =
      b => prev.map(_.files.getOrElse(b, Seq.empty)).getOrElse(legacyList(b))
    val oldPaths = touched.flatMap(prevFiles).map(rel => new Path(root, rel).toString)
    val merged =
      if (oldPaths.isEmpty) Relational.latestPerKey(bucketed, keys, ordering)
      else {
        // Inputs are the touched buckets' committed files only. No key
        // declaration: the union below repeats keys.
        val old = readFiles(spark, path, oldPaths.toSeq, prev.flatMap(_.schema), Nil)
        Relational.latestPerKey(old.unionByName(bucketed), keys, ordering)
      }
    // Stage replacement content as new files, then move into the bucket dirs
    // (part names embed a write UUID, so moves can never collide with committed
    // files). The moved files stay invisible until the manifest commit below.
    val staging = new Path(root, s"_staging-${java.util.UUID.randomUUID}")
    val newFiles = scala.collection.mutable.Map.empty[Int, Seq[String]]
    try {
      merged.repartition(col(BucketCol))
        .write.partitionBy(BucketCol).parquet(staging.toString)
      fs.listStatus(staging).filter(_.isDirectory).foreach { d =>
        bucketOf(d.getPath).foreach { b =>
          val dest = new Path(root, s"$BucketCol=$b")
          fs.mkdirs(dest)
          newFiles(b) = fs.listStatus(d.getPath)
            .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
            .map { s =>
              val to = new Path(dest, s.getPath.getName)
              require(fs.rename(s.getPath, to), s"staging move failed: $to")
              s"$BucketCol=$b/${s.getPath.getName}"
            }.toSeq
        }
      }
    } finally fs.delete(staging, true)
    val allBuckets: Set[Int] = prev.map(_.files.keySet).getOrElse {
      if (fs.exists(root)) fs.listStatus(root).flatMap(s => bucketOf(s.getPath)).toSet
      else Set.empty[Int]
    }
    val carried = (allBuckets -- touched).iterator
      .map(b => b -> prevFiles(b)).filter(_._2.nonEmpty).toMap
    writeManifest(fs, root, StoreManifest(
      prev.map(_.generation + 1).getOrElse(1L), numBuckets,
      carried ++ touched.map(b => b -> newFiles.getOrElse(b, Seq.empty)).toMap,
      keys, Some(StructType(merged.schema.filterNot(_.name == BucketCol)))))
  }

  /**
   * Read the upsert store back without its internal bucketing column, resolving the
   * current generation through the latest committed manifest — stale files from a
   * crashed writer are never visible. A store without manifests (legacy layout)
   * falls back to a plain directory read.
   *
   * The schema comes from the manifest's `schema=` line, so the read runs no
   * schema-inference job. Its `keys=` line is declared on the relation as a
   * unique key — informational, RELY-style: the store's merge keeps one row
   * per key, and nothing re-checks it — and [[UniqueKeyRowNumberRule]] is
   * added to the session, so a `row_number()` latest-per-key view over the
   * read (e.g. `NutritionPipeline.enrichmentPipeline`) plans no shuffle and
   * no window. A manifest without these lines reads as before.
   */
  def readStore(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestManifest(fs, root) match {
      case Some(m) => manifestDf(spark, path, m)
      case None => spark.read.parquet(path).drop(BucketCol)
    }
  }

  /** Committed generations still resolvable for [[readStoreAsOf]], ascending.
    * Older generations survive until [[vacuumStore]] reclaims them. */
  def storeGenerations(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestNames(fs, root).map(_.stripSuffix(".manifest").toLong).sorted
  }

  /**
   * Time-travel read: the store EXACTLY as of a committed generation. Every commit
   * only adds data files and a new manifest (superseded files drop out of newer
   * manifests but stay on disk), so any un-vacuumed generation remains a fully
   * consistent snapshot — the same mechanism backing Delta/Iceberg `VERSION AS OF`.
   * Fails fast if the generation was never committed or has been vacuumed.
   * Schema and key declaration come from that generation's manifest, as in
   * [[readStore]].
   */
  def readStoreAsOf(spark: org.apache.spark.sql.SparkSession, path: String,
                    generation: Long): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = f"$generation%020d.manifest"
    require(manifestNames(fs, root).contains(name),
      s"generation $generation is not resolvable at $path (never committed, or vacuumed); " +
        s"available: ${storeGenerations(spark, path).mkString(",")}")
    manifestDf(spark, path, parseManifest(fs, root, name))
  }

  /** Resolve a manifest's file list into the store DataFrame (shared by
    * [[readStore]] and [[readStoreAsOf]] so the two read paths cannot drift). */
  private def manifestDf(spark: org.apache.spark.sql.SparkSession, path: String,
                         m: StoreManifest): DataFrame = {
    val root = new Path(path)
    val files = m.files.toSeq.sortBy(_._1)
      .flatMap(_._2).map(rel => new Path(root, rel).toString)
    if (files.isEmpty) spark.emptyDataFrame
    else {
      if (m.keys.nonEmpty) GraftBridge.addOptimization(spark, UniqueKeyRowNumberRule(spark))
      readFiles(spark, path, files, m.schema, m.keys).drop(BucketCol)
    }
  }

  /** Read committed store files under `path` (basePath keeps the bucket
    * column). A known schema skips parquet schema inference; `keys`, if any,
    * are declared unique on the relation for [[UniqueKeyRowNumberRule]]. */
  private def readFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                        files: Seq[String], schema: Option[StructType],
                        keys: Seq[String]): DataFrame = {
    val base = spark.read.option("basePath", path)
    val typed = schema.fold(base)(st => base.schema(st.add(BucketCol, IntegerType)))
    val keyed =
      if (keys.isEmpty) typed
      else typed.option(UniqueKeyRowNumberRule.KeyOption, UniqueKeyRowNumberRule.encodeKey(keys))
    keyed.parquet(files: _*)
  }

  /**
   * Change-data-capture between two committed generations: one row per key whose
   * state differs, tagged `insert` / `update` / `delete`, with the full old and new
   * row state as structs. This is the "what changed since snapshot X" feed a
   * downstream incremental consumer wants, derived purely from the store's own
   * time travel — no write-path hooks, no log.
   *
   * Scale shape: one full-outer equi-join of two snapshots on the key columns
   * (both sides are bucket-partitioned parquet of the same store, so at cluster
   * scale the join co-partitions), then a codegen'd comparison on the non-key
   * struct. Cost is O(|old| + |new|) — the same as any snapshot-diff CDC.
   */
  def storeDiff(spark: org.apache.spark.sql.SparkSession, path: String,
                fromGen: Long, toGen: Long, keys: Seq[String]): DataFrame = {
    val oldDf = readStoreAsOf(spark, path, fromGen)
    val newDf = readStoreAsOf(spark, path, toGen)
    val nonKey = oldDf.columns.filterNot(keys.contains).toSeq
    def packed(df: DataFrame, as: String) = df.select(
      keys.map(col) :+ struct(nonKey.map(col): _*).as(as): _*)
    packed(oldDf, "old_state").join(packed(newDf, "new_state"), keys, "full_outer")
      .withColumn("change_type",
        when(col("old_state").isNull, "insert")
          .when(col("new_state").isNull, "delete")
          .otherwise("update"))
      .filter(col("old_state").isNull || col("new_state").isNull ||
        col("old_state") =!= col("new_state"))
  }

  /**
   * Reclaim data files no longer referenced by the LATEST manifest (superseded
   * generations, crashed-writer orphans) and drop older manifest files. The
   * current generation is untouched. Returns the number of deleted data files.
   *
   * `graceMs` is what makes this safe to run CONCURRENTLY with a writer: an
   * in-flight [[upsertBatch]] moves its staged files into the bucket dirs
   * BEFORE publishing the manifest that references them, so a zero-grace
   * vacuum in that window would delete moved-but-uncommitted files and the
   * writer would then commit a manifest pointing at nothing. Files (and
   * crashed-writer `_staging-*` dirs, which are also reclaimed here once
   * stale) younger than the grace are skipped; the default hour comfortably
   * exceeds any real commit. Pass 0 only when no writer can be running.
   */
  def vacuumStore(spark: org.apache.spark.sql.SparkSession, path: String,
                  graceMs: Long = 3600000L): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reclaimableBefore = System.currentTimeMillis() - graceMs
    latestManifest(fs, root) match {
      case None => 0L
      case Some(m) =>
        val live: Set[String] = m.files.iterator.flatMap(_._2).toSet
        var deleted = 0L
        fs.listStatus(root).filter(_.isDirectory).foreach { d =>
          bucketOf(d.getPath).foreach { b =>
            fs.listStatus(d.getPath).filter(_.isFile).foreach { s =>
              val rel = s"$BucketCol=$b/${s.getPath.getName}"
              if (!live.contains(rel) &&
                  s.getModificationTime <= reclaimableBefore) {
                fs.delete(s.getPath, false); deleted += 1
              }
            }
          }
          // A hard-crashed writer's staging dir (the finally-delete never
          // ran): reclaim once stale — it was never visible to any reader.
          if (d.getPath.getName.startsWith("_staging-") &&
              d.getModificationTime <= reclaimableBefore)
            fs.delete(d.getPath, true)
        }
        val dir = new Path(root, ManifestDirName)
        val current = f"${m.generation}%020d.manifest"
        fs.listStatus(dir).map(_.getPath).foreach { p =>
          if (p.getName != current) fs.delete(p, false)
        }
        deleted
    }
  }

  /** A9 as a streaming sink: foreachBatch keyed upsert. */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 ordering: Seq[Column],
                 numBuckets: Int = DefaultStoreBuckets): DataStreamWriter[Row] =
    stream.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, path, keys, ordering, numBuckets)
      }

  /** B10: watermarked tumbling-window aggregation over an event stream. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** B11: watermarked session windows (30-min gap) per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /**
   * A22+A24 batch-cadence parity: run a streaming query over a file source with
   * Trigger.AvailableNow — processes exactly the unseen input (checkpoint-tracked),
   * replacing the reference's cron + tombstone-UPDATE incremental consumption with
   * an idempotent, atomic contract.
   */
  def availableNowTrigger: Trigger = Trigger.AvailableNow()
}
