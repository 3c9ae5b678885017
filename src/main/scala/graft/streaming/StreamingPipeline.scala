package graft.streaming

import graft.SerializableHadoopConf
import graft.plans.UniqueKeyRowNumberRule
import graft.sources.{GraftCatalogOps, GraftCheckpointFileManager, GraftCommitProtocol,
  GraftFileRecord, GraftFileSlice, GraftFilesMessage, GraftLocalFileSystem, GraftManifest,
  GraftParquetRead, GraftRowWriter, GraftTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Cast, Expression,
  JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{IntegerType, StructType}

/**
 * Structured Streaming replication of the reference's ingest topology (SURVEY.md
 * §3.1): producer -> Kafka -> consumer -> keyed upsert store becomes one incremental
 * query: source -> stateful dedup -> stream-static enrichment join -> validity filter
 * -> foreachBatch keyed upsert. The reference's offset-commit protocol
 * (consume_items.py:83-119) is subsumed by checkpointing (exactly-once to
 * idempotent sinks — strictly stronger than its at-least-once manual commits).
 * The keyed store is a graft catalog table: it commits, time-travels and
 * vacuums through the catalog's manifests, and a replayed micro-batch is
 * recognised by its txn key like any catalog streaming epoch.
 *
 * Scale posture: dedup state is bounded via `dropDuplicatesWithinWatermark` when a
 * watermark column is present; at cluster scale you would additionally configure the
 * RocksDB state store provider (config-only, no code change). Checkpoint and
 * state-store files go through [[GraftCheckpointFileManager]] (installed by
 * [[upsertSink]]): on a local checkpoint each micro-batch's offsets, commit,
 * source-log and per-partition state files are written without a forked
 * process, and on HDFS or S3 Spark's own manager is used. The enrichment lookup
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

  /** Number of hash buckets a new upsert store is directory-partitioned into;
    * recorded in the store's manifest when the store is created. */
  val DefaultStoreBuckets = 16

  private val BucketCol = "__bucket"

  private val BucketsProp = "store.buckets" // manifest prop: the bucket count

  /**
   * A9: last-write-wins keyed upsert of one micro-batch into the store — the
   * Cassandra PK insert semantics (consume_items.py:50-58 of the reference),
   * with atomic visibility.
   *
   * The store directory is a graft catalog table ([[GraftManifest]] files plus
   * `CURRENT`) partitioned by `__bucket = pmod(hash(keys), numBuckets)`. A
   * merge is ONE Spark job: the batch is evaluated once and only its rows
   * are shuffled, to one task per bucket. A task that receives rows reads
   * its bucket's committed files, sorts them with the batch rows by (keys,
   * `ordering`) in Spark's spillable sorter, keeps the first row per key
   * (NULL keys group together) and writes the winners into this writer's
   * own `gen-<g>-<uuid8>` dir; the driver then commits the next manifest
   * through [[GraftManifest.publishNext]]. A bucket the batch does not touch
   * is never read or written, and its entries carry forward. The cost is the
   * batch plus the buckets it touches — but a batch of n hashed keys misses
   * a given bucket with probability (15/16)^n, under 1% from n = 72, so a
   * batch of a few hundred keys rewrites practically the whole store, as a
   * copy-on-write store must.
   *
   * The commit rebases by the catalog's dynamic-partition-overwrite rule
   * ([[GraftCommitProtocol.rebasedEntries]]): a concurrent commit on other
   * buckets rebases metadata-only and both land; one that changed a bucket
   * this merge replaces fails it with `ConcurrentModificationException`. A
   * merge that publishes nothing deletes its own `gen-…` dir; a writer that
   * crashes before its claim leaves the previous generation fully visible, and
   * [[vacuumStore]] reclaims what it wrote. An empty batch publishes nothing.
   *
   * The first upsert creates the store as generation 0 (no files), recording
   * the schema (bucket column included), the key columns and
   * [[DefaultStoreBuckets]]; every upsert reads the bucket count from the
   * manifest. Batch columns map onto the store's by name, as `unionByName`
   * maps them, and a batch `unionByName` would refuse fails the merge. Each
   * commit records the merge's schema and key columns, which [[readStore]],
   * [[readStoreAsOf]] and the next merge read use instead of parquet schema
   * inference. A batch with its own `__bucket` column is rejected before
   * anything is written: that name is the store's bucket column.
   */
  def upsertBatch(batch: DataFrame, path: String, keys: Seq[String],
                  ordering: Seq[Column]): Unit =
    merge(batch, path, keys, ordering, None)

  /** [[upsertBatch]] as batch `txn._2` of streaming query `txn._1`: a merge
    * whose batch the manifest's txn ledger already holds publishes nothing
    * ([[GraftCommitProtocol.epochReplayed]]). */
  private def merge(batch: DataFrame, path: String, keys: Seq[String],
                    ordering: Seq[Column], txn: Option[(String, Long)]): Unit = {
    require(!batch.columns.exists(_.equalsIgnoreCase(BucketCol)),
      s"upsert batch has a column named $BucketCol, which the store reserves for " +
        "its bucket directories; rename it before upserting")
    val spark = batch.sparkSession
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = GraftLocalFileSystem.forPath(root, conf)
    val keysProp = UniqueKeyRowNumberRule.KeysProp -> UniqueKeyRowNumberRule.encodeKey(keys)
    // A concurrent creator may win generation 0; its manifest serves as well.
    if (!fs.exists(new Path(root, "CURRENT")))
      GraftManifest.publishCas(root, GraftManifest(0L, batch.schema.add(BucketCol, IntegerType),
        Seq(BucketCol), Nil, props = Map(keysProp,
          BucketsProp -> DefaultStoreBuckets.toString)), conf)
    val planned = GraftManifest.load(root, GraftManifest.currentGen(root, conf), conf)
    // Batch columns onto the store's, as a union with its rows would map
    // them; stored rows read back nullable, as any file scan reads them.
    val aligned =
      if (planned.entries.isEmpty) batch
      else spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(planned.dataSchema.map(_.copy(nullable = true)))).unionByName(batch)
    val bucketed = aligned.withColumn(BucketCol,
      pmod(hash(keys.map(col): _*), lit(planned.props(BucketsProp).toInt)))
    val genRel = s"gen-${planned.gen + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
    val genDir = new Path(root, genRel)
    var published: Option[GraftManifest] = None
    try {
      val fresh = mergeBuckets(bucketed, keys, ordering, root, planned, genDir)
      if (fresh.nonEmpty)
        published = GraftManifest.publishNext(root, conf, base =>
          if (txn.exists { case (q, b) => GraftCommitProtocol.epochReplayed(base.txns, q, b) }) None
          else Some(base.withFileMeta(fresh).copy(gen = base.gen + 1, schema = bucketed.schema,
            entries = GraftCommitProtocol.rebasedEntries("dynamic", planned, base,
              fresh.map(f => f.part -> f.rel), Array.empty, Set.empty),
            txns = txn.fold(base.txns) { case (q, b) =>
              GraftCommitProtocol.epochMarked(base.txns, q, b) },
            props = base.props + keysProp)))
    } finally if (published.isEmpty) fs.delete(genDir, true)
  }

  /** The merge's one Spark job: `bucketed`'s rows go to one task per
    * bucket by an identity partitioner; each task that receives rows merges
    * them with its bucket's files in `planned` and writes the first row per
    * key under `genDir`. Returns the files written; none for an empty batch. */
  private def mergeBuckets(bucketed: DataFrame, keys: Seq[String], ordering: Seq[Column],
      root: Path, planned: GraftManifest, genDir: Path): Seq[GraftFileRecord] = {
    val spark = bucketed.sparkSession
    val schema = bucketed.schema
    val attrs = GraftBridge.analyzed(bucketed).output
    // (keys, ordering), resolved by the analyzer and bound to row positions.
    val order = GraftBridge.analyzed(bucketed.sort(keys.map(col) ++ ordering: _*)) match {
      case s: Sort => s.order.map(BindReferences.bindReference(_, attrs))
      case other => throw new IllegalStateException(s"expected Sort, got: $other")
    }
    // Stored rows come back in the store's column order, which the union
    // kept; widen them to the batch's types and append their bucket.
    val stored = planned.dataSchema
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val storedToBatch: Seq[Expression] = stored.fields.toSeq.zip(schema.fields).zipWithIndex
      .map { case ((have, want), i) =>
        val ref = BoundReference(i, have.dataType, nullable = true)
        if (have.dataType == want.dataType) ref else Cast(ref, want.dataType, tz)
      } :+ BoundReference(stored.length, IntegerType, nullable = false)
    val reader =
      if (planned.entries.isEmpty) None
      else Some(GraftParquetRead.readerFactory(root.toString, planned, stored, allowColumnar = false))
    val oldFiles: Map[Int, Seq[GraftFileSlice]] = planned.entries.groupBy(_._1).map {
      case (part, es) => part.stripPrefix(s"$BucketCol=").toInt ->
        es.map { case (_, rel) => GraftFileSlice(part, rel, planned.fileBytes.getOrElse(rel, -1L)) }
    }
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val (tableDir, dir) = (root.toString, genDir.toString)
    GraftBridge.shuffleByIntColumn(bucketed.queryExecution.toRdd, schema,
        schema.fieldIndex(BucketCol), planned.props(BucketsProp).toInt)
      .mapPartitionsWithIndex { (bucket, batchRows) =>
        if (!batchRows.hasNext) Iterator.empty
        else {
          val sorter = GraftBridge.externalRowSorter(schema, order)
          batchRows.foreach(r => sorter.insertRow(r.asInstanceOf[UnsafeRow]))
          lazy val toBatch = UnsafeProjection.create(storedToBatch)
          val withBucket = new JoinedRow(null, InternalRow(bucket))
          for (factory <- reader; slice <- oldFiles.getOrElse(bucket, Nil)) {
            val sized = if (slice.len >= 0) slice else slice.copy(len =
              new Path(tableDir).getFileSystem(conf.value)
                .getFileStatus(GraftManifest.resolveRel(new Path(tableDir), slice.rel)).getLen)
            val rows = factory.createReader(sized)
            try while (rows.next()) sorter.insertRow(toBatch(withBucket.withLeft(rows.get())))
            finally rows.close()
          }
          val sameKey = GenerateOrdering.generate(order.take(keys.size))
          val writer = new GraftRowWriter(schema, Seq(BucketCol), dir, conf, bucket,
            TaskContext.get().taskAttemptId())
          try {
            var prev: InternalRow = null
            sorter.sort().foreach { r =>
              if (prev == null || sameKey.compare(prev, r) != 0) { writer.write(r); prev = r.copy() }
            }
            Iterator.single(writer.commit().asInstanceOf[GraftFilesMessage])
          } catch { case e: Throwable => writer.abort(); throw e }
        }
      }.collect().toSeq.flatMap(_.files)
  }

  /**
   * Read the upsert store back without its internal bucketing column: the
   * current committed generation through the catalog's own scan
   * ([[GraftTable]] over the manifest, planned as a `GraftScan`) — files of
   * an uncommitted or failed writer are never visible. The schema comes from
   * the manifest, so the read runs no schema-inference job, and a store whose
   * generation holds no files (an empty first batch) reads as zero rows of
   * its columns.
   *
   * The manifest's key columns are the table's declared unique key —
   * informational, RELY-style: the store's merge keeps one row per key, and
   * nothing re-checks it — and [[UniqueKeyRowNumberRule]] is added to the
   * session, so a `row_number()` latest-per-key view over the read (e.g.
   * `NutritionPipeline.enrichmentPipeline`) plans no shuffle and no window.
   * A manifest without key columns declares no key.
   */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    manifestDf(spark, root, GraftManifest.load(root, GraftManifest.currentGen(root, conf), conf))
  }

  /** Committed upsert generations still resolvable for [[readStoreAsOf]],
    * ascending (generation 0, the empty store, is not listed). Older
    * generations survive until [[vacuumStore]] reclaims them. */
  def storeGenerations(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val committed = GraftManifest.currentGen(root, conf)
    GraftManifest.generations(root, conf).map(_._1).filter(g => g >= 1 && g <= committed).sorted
  }

  /**
   * Time-travel read: the store EXACTLY as of a committed generation. Every commit
   * only adds data files and a new manifest (superseded files drop out of newer
   * manifests but stay on disk), so any un-vacuumed generation remains a fully
   * consistent snapshot — the catalog's `VERSION AS OF` over the same manifests.
   * Fails fast if the generation was never committed or has been vacuumed.
   * Schema and key declaration come from that generation's manifest, as in
   * [[readStore]].
   */
  def readStoreAsOf(spark: SparkSession, path: String, generation: Long): DataFrame = {
    val gens = storeGenerations(spark, path)
    require(gens.contains(generation),
      s"generation $generation is not resolvable at $path (never committed, or vacuumed); " +
        s"available: ${gens.mkString(",")}")
    val root = new Path(path)
    manifestDf(spark, root,
      GraftManifest.load(root, generation, spark.sparkContext.hadoopConfiguration))
  }

  /** A manifest generation of the store as a DataFrame (shared by
    * [[readStore]] and [[readStoreAsOf]] so the two read paths cannot drift). */
  private def manifestDf(spark: SparkSession, root: Path, m: GraftManifest): DataFrame = {
    if (m.props.contains(UniqueKeyRowNumberRule.KeysProp))
      GraftBridge.addOptimization(spark, UniqueKeyRowNumberRule(spark))
    val ident = Identifier.of(Array.empty, root.getName)
    GraftBridge.ofRows(spark, DataSourceV2Relation.create(new GraftTable(ident, root, m), None,
      Some(ident))).drop(BucketCol)
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
   * Reclaim data files no longer referenced by the current generation
   * (superseded generations, failed or crashed writers' `gen-…` dirs) and drop
   * older manifests: the catalog's VACUUM keeping one generation. The current
   * generation is untouched. Returns the number of deleted data files.
   *
   * `graceMs` is what makes this safe to run CONCURRENTLY with a writer: an
   * in-flight [[upsertBatch]] writes its files BEFORE publishing the manifest
   * that references them, so a zero-grace vacuum in that window would delete
   * them and the writer would then commit a manifest pointing at nothing.
   * Unreferenced files younger than the grace are skipped; the default hour
   * comfortably exceeds any real commit. Pass 0 only when no writer can be
   * running.
   */
  def vacuumStore(spark: SparkSession, path: String,
                  graceMs: Long = GraftCatalogOps.DefaultUncommittedGraceMs): Long = {
    val root = new Path(path)
    GraftCatalogOps.vacuum(spark, root.getParent.toString, root.getName,
      keepGens = 1, uncommittedGraceMs = graceMs)._1
  }

  /** A9 as a streaming sink: foreachBatch keyed upsert, exactly once per
    * batch. Batch `b` of query `q` commits the ledger mark `q:b` — the
    * catalog streaming write's high-water mark, one per query — so a batch
    * Spark re-runs after a restart publishes nothing.
    *
    * Unless the session already names a checkpoint file manager, this makes
    * [[GraftCheckpointFileManager]] the session's, so the query's offsets,
    * commits, source log and state-store files are written without forks on
    * a local checkpoint. The writer is returned before the caller starts it,
    * so the setting cannot be scoped to the query: the session keeps graft's
    * manager afterwards, for its later queries too. */
  def upsertSink(stream: DataFrame, path: String, keys: Seq[String],
                 ordering: Seq[Column]): DataStreamWriter[Row] = {
    GraftCheckpointFileManager.installIfUnset(stream.sparkSession)
    stream.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val queryId = batch.sparkSession.sparkContext
          .getLocalProperty(StreamExecution.QUERY_ID_KEY)
        merge(batch, path, keys, ordering, Option(queryId).map(_ -> batchId))
      }
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
}
