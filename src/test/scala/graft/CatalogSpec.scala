package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/**
 * Behavioral pins for the graft TableCatalog (sources/GraftCatalog.scala) —
 * each test asserts a property the manifest design exists to provide, not an
 * implementation detail.
 */
class CatalogSpec extends GraftSuite {

  private lazy val root = {
    val r = tmpDir("graft_cat")
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.root", r)
    r
  }

  private def freshTable(name: String): String = {
    val _ = root // force catalog registration before the first gtest.* SQL
    spark.sql(s"DROP TABLE IF EXISTS gtest.$name")
    s"gtest.$name"
  }

  private def base = {
    import spark.implicits._
    (0L until 300L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
  }

  test("manifest partition pruning: a pruned partition's files are never opened") {
    val t = freshTable("prune")
    base.writeTo(t).partitionedBy(col("pk")).create()
    // Vandalize partition pk=2 on disk: replace its parquet files with garbage.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tblDir = new Path(root, "prune")
    val pk2 = fs.globStatus(new Path(tblDir, "gen-*/pk=2/*.parquet"))
    assert(pk2.nonEmpty, "expected files under pk=2")
    pk2.foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write("not parquet".getBytes) finally out.close()
    }
    // A partition-filtered read must succeed: the manifest prunes pk=2 away
    // before any file IO. An unfiltered read must hit the corruption.
    val ok = spark.table(t).filter(col("pk") === 1)
      .agg(count(lit(1)), sum(col("id") + lit(0))).collect()(0)
    assert(ok.getLong(0) == 100 && ok.getLong(1) == (1L until 300L by 3).sum)
    // An EXPRESSION-input aggregate is not metadata-answerable (id*id is no
    // column reference, and unlike id+0 it does not fold back into one), so
    // this must open pk=2 and fail. (COUNT — and since B202, SUM and even
    // AVG, which Spark decomposes into pushable sum/count — SUCCEED via the
    // manifest's metadata-only aggregate, without touching the bytes.)
    intercept[Exception] { spark.table(t).agg(sum(col("id") * col("id"))).collect() }
    assert(spark.table(t).count() == 300,
      "count(*) answers from the manifest even with vandalized data files")
    assert(spark.table(t).agg(sum(col("id"))).collect()(0).getLong(0) == 44850L,
      "sum answers from per-file manifest sums even with vandalized data files")
  }

  test("snapshot isolation: every generation survives truncate and stays queryable") {
    val t = freshTable("snap")
    base.writeTo(t).partitionedBy(col("pk")).create()              // gen 1
    base.filter(col("pk") === 0).writeTo(t).append()               // gen 2
    spark.sql(s"TRUNCATE TABLE $t")                                // gen 3
    assert(spark.table(t).count() == 0)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect()(0).getLong(0) == 300)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").collect()(0).getLong(0) == 400)
    // And the publish is atomic: no temp pointer survives any commit.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(new Path(root, "snap"), "_CURRENT.tmp")))
  }

  test("INSERT OVERWRITE PARTITION replaces exactly the named partition") {
    val t = freshTable("stat")
    base.writeTo(t).partitionedBy(col("pk")).create()
    spark.sql(s"INSERT OVERWRITE $t PARTITION (pk = 1) SELECT id, s FROM (VALUES (9999, 'x')) AS v(id, s)")
    val rows = spark.table(t).groupBy("pk").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(0L -> 100L, 1L -> 1L, 2L -> 100L), rows.toString)
  }

  test("dynamic partition overwrite replaces only the partitions in the batch") {
    val t = freshTable("dyn")
    base.writeTo(t).partitionedBy(col("pk")).create()
    base.filter(col("pk") === 2).withColumn("s", lit("w"))
      .writeTo(t).overwritePartitions()
    val df = spark.table(t)
    assert(df.count() == 300)
    assert(df.filter(col("s") === "w").count() == 100)
    assert(df.filter(col("pk") =!= 2 && col("s") === "w").count() == 0)
  }

  test("streaming sink: epoch-committed generations, replay-safe across restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshTable("stream")
    base.limit(0).writeTo(t).partitionedBy(col("pk")).create()
    val cp = tmpDir("graft_cat_cp")
    val in = MemoryStream[Long]
    def drain(): Unit = {
      val q = in.toDF().select(col("value").as("id"),
          (col("value") % 3).as("pk"), concat(lit("v"), col("value")).as("s"))
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp).toTable(t)
      q.awaitTermination(60000)
    }
    in.addData(0L until 100L: _*)
    drain()
    assert(spark.table(t).count() == 100)
    // Restart from the same checkpoint with new data: old epochs must not
    // double-apply, new data must land once.
    in.addData(100L until 150L: _*)
    drain()
    val df = spark.table(t)
    assert(df.count() == 150, "replayed epochs must not duplicate rows")
    assert(df.agg(sum(col("id"))).collect()(0).getLong(0) == (0L until 150L).sum)
    // Every micro-batch is a visible generation: current gen > 1 and history
    // readable.
    val gens = spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect()
    assert(gens.nonEmpty)
  }

  test("streaming sink keeps one txn mark per query, however many epochs commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshTable("streamledger")
    base.limit(0).writeTo(t).partitionedBy(col("pk")).create()
    val in = MemoryStream[Long]
    val q = in.toDF().select(col("value").as("id"),
        (col("value") % 3).as("pk"), concat(lit("v"), col("value")).as("s"))
      .writeStream.option("checkpointLocation", tmpDir("graft_cat_ledger")).toTable(t)
    try (0 until 5).foreach { b =>
      in.addData(b * 10L until b * 10L + 10L: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(t).count() == 50)
    val dir = new Path(root, "streamledger")
    val conf = spark.sparkContext.hadoopConfiguration
    val m = graft.sources.GraftManifest.load(dir, graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.txns.filter(_.startsWith(s"${q.id}:")) == Set(s"${q.id}:4"), m.txns.toString)
  }

  test("ALTER TABLE ADD COLUMN backfills NULL on old generations without rewrite") {
    val t = freshTable("evolve")
    base.writeTo(t).partitionedBy(col("pk")).create()
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra BIGINT")
    import spark.implicits._
    (300L until 310L).map(i => (i, i % 3, s"v$i", i * 10)).toDF("id", "pk", "s", "extra")
      .writeTo(t).append()
    val df = spark.table(t)
    assert(df.count() == 310)
    assert(df.filter(col("extra").isNull).count() == 300, "old rows read NULL")
    assert(df.agg(sum(col("extra"))).collect()(0).getLong(0) == (300L until 310L).map(_ * 10).sum)
  }

  test("DELETE FROM on a partition key is metadata-only; non-key predicates rewrite") {
    val t = freshTable("del")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filesBefore = fs.globStatus(new Path(new Path(root, "del"), "gen-*/pk=*/*.parquet")).length
    spark.sql(s"DELETE FROM $t WHERE pk = 1")
    // Metadata-only: no new data files written for the partition-key delete.
    val filesAfterMeta = fs.globStatus(new Path(new Path(root, "del"), "gen-*/pk=*/*.parquet")).length
    assert(filesAfterMeta == filesBefore, "partition-key delete must not rewrite data")
    val left = spark.table(t).groupBy("pk").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(left == Map(0L -> 100L, 2L -> 100L), left.toString)
    // Pre-delete snapshot intact.
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").collect()(0).getLong(0) == 300)
    // A row-level predicate cannot be decided per partition: it routes through
    // the copy-on-write rewrite and deletes exactly the matching row.
    spark.sql(s"DELETE FROM $t WHERE id = 9")
    assert(spark.table(t).count() == 199)
    assert(spark.table(t).filter(col("id") === 9).count() == 0)
  }

  test("compaction: self-rewrite via overwritePartitions collapses files, keeps data") {
    val t = freshTable("opt")
    base.writeTo(t).partitionedBy(col("pk")).create()
    (1 to 3).foreach(_ => base.limit(30).writeTo(t).append()) // fragment
    val before = spark.table(t).agg(count(lit(1)), sum(col("id"))).collect()(0)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files() = fs.globStatus(new Path(new Path(root, "opt"), "*/pk=*/*.parquet"))
      .length
    val fragmented = files()
    // OPTIMIZE: read the table, rewrite it into itself — clustered distribution
    // yields one file per partition, dynamic overwrite swaps all touched
    // partitions in one atomic commit.
    spark.table(t).writeTo(t).overwritePartitions()
    val after = spark.table(t).agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(after == before, "compaction must not change data")
    val live = spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0)
    assert(live == before.getLong(0))
    // Live file set is 3 (one per partition); disk still holds old gens.
    val hist = graft.sources.GraftCatalogOps.history(spark, root, "opt")
      .orderBy(col("gen").desc).limit(1).collect()(0)
    assert(hist.getLong(1) == 3, s"expected 3 live files, got ${hist.getLong(1)}")
    assert(files() > 3 && fragmented > 3, "old generations stay on disk for time travel")
  }

  test("uncommitted files are invisible: manifest is file-granular") {
    val t = freshTable("ghost")
    base.writeTo(t).partitionedBy(col("pk")).create()
    // Simulate a speculative/failed attempt's leftover: a stray (valid) parquet
    // file inside the live generation's partition dir, never committed.
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.globStatus(new Path(new Path(root, "ghost"), "gen-*/pk=0"))
    assert(dirs.nonEmpty)
    base.limit(7).select(col("id"), col("s"))
      .coalesce(1).write.mode("overwrite").parquet(s"${dirs.head.getPath}_stray")
    val strayFile = fs.globStatus(new Path(s"${dirs.head.getPath}_stray/*.parquet")).head
    fs.rename(strayFile.getPath, new Path(dirs.head.getPath.toString, "part-ghost.parquet"))
    // A dir-listing reader would count 307; the manifest reader must see 300.
    assert(spark.table(t).count() == 300)
  }

  test("catalog table is a streaming source: snapshot first, then commit-granular batches") {
    import spark.implicits._
    val t = freshTable("src")
    base.writeTo(t).partitionedBy(col("pk")).create()       // gens 0(create)+1
    val ckpt = tmpDir("graft_src_ckpt")
    val sinkName = "graft_stream_sink"
    def drain(): Unit = {
      val q = spark.readStream.table(t)
        .groupBy(col("pk")).agg(count(lit(1)).as("n"), sum(col("id")).as("ids"))
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("complete").format("memory").queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
    }
    // First drain: the existing snapshot arrives as the first batch.
    drain()
    val snap1 = spark.table(sinkName).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap1 == Map(0L -> 100L, 1L -> 100L, 2L -> 100L), s"got $snap1")
    // Two more commits; a resumed stream (same checkpoint) must pick up exactly
    // the new files — the aggregate over old+new proves no re-emit, no loss.
    (300L until 400L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()
    (400L until 450L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()
    drain()
    val snap2 = spark.table(sinkName).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap2 == Map(0L -> 150L, 1L -> 150L, 2L -> 150L), s"got $snap2")
    // Streaming totals equal the batch read — the two paths cannot disagree.
    val batchIds = spark.table(t).agg(sum(col("id"))).collect()(0).getLong(0)
    val streamIds = spark.sql(s"SELECT sum(ids) FROM $sinkName").collect()(0).getLong(0)
    assert(streamIds == batchIds)
  }

  test("row-level ops: UPDATE, non-partition DELETE, MERGE INTO via copy-on-write") {
    import spark.implicits._
    val t = freshTable("rlo")
    base.writeTo(t).partitionedBy(col("pk")).create()
    // UPDATE rewrites only the rows' files; values change in place.
    spark.sql(s"UPDATE $t SET s = 'upd' WHERE id % 10 = 0")
    assert(spark.table(t).filter(col("s") === "upd").count() == 30)
    assert(spark.table(t).count() == 300)
    // Non-partition DELETE must route through the rewrite (metadata delete
    // can't decide `id >= 290` per partition) and remove exactly those rows.
    spark.sql(s"DELETE FROM $t WHERE id >= 290")
    assert(spark.table(t).count() == 290)
    // MERGE INTO: one matched update, one unmatched insert.
    (Seq((0L, 0L, "merged"), (1000L, 1L, "new")))
      .toDF("id", "pk", "s").createOrReplaceTempView("rlo_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING rlo_src src ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET s = src.s
         |WHEN NOT MATCHED THEN INSERT (id, pk, s) VALUES (src.id, src.pk, src.s)
         |""".stripMargin)
    assert(spark.table(t).count() == 291)
    assert(spark.table(t).filter(col("id") === 0).select(col("s"))
      .collect()(0).getString(0) == "merged")
    assert(spark.table(t).filter(col("id") === 1000).count() == 1)
    // Copy-on-write granularity: partition pk=2 was never touched by the
    // MERGE's keys (0 and 1000 are pk 0 and 1) — its files must be the
    // pre-merge ones (group replacement is per-file, not table-wide).
    val hist = graft.sources.GraftCatalogOps.history(spark, root, "rlo").collect()
    assert(hist.length >= 4, s"expected create+update+delete+merge commits: ${hist.toSeq}")
    // And the whole table still equals a from-scratch prediction.
    val want = (0L until 290L).map { i =>
      val s0 = if (i % 10 == 0) "upd" else s"v$i"
      (i, i % 3, if (i == 0) "merged" else s0)
    } :+ ((1000L, 1L, "new"))
    assert(spark.table(t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).toSet == want.toSet)
    // _gen metadata column: rewritten rows carry the rewriting commit's
    // generation; every row reports a positive gen (no ep- files here).
    val gens = spark.table(t).select(col("id"), col("_gen")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gens.values.forall(_ >= 1))
    assert(gens(1000L) > gens.values.min, "merged insert must carry a later gen")
  }

  test("manifest byte stats make small catalog tables broadcast automatically") {
    import spark.implicits._
    val t = freshTable("dim")
    (0L until 50L).map(i => (i, s"name$i")).toDF("k", "nm")
      .coalesce(1).writeTo(t).create()
    val fact = spark.range(0, 100000).select((col("id") % 50).as("k"), col("id"))
    // No broadcast() hint anywhere: the decision must come from the relation's
    // manifest-derived sizeInBytes (a V1 default would report ~Long.Max and
    // force a sort-merge join).
    val joined = fact.join(spark.table(t), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected an automatic broadcast join in:\n$plan")
    assert(joined.count() == 100000)
  }

  test("manifest NDV sketches feed estimateStatistics with usable accuracy") {
    import spark.implicits._
    val t = freshTable("ndvstats")
    (0L until 10000L).map(i =>
        (i, i % 7, s"v${i % 123}", if (i % 4 == 0) null else s"w$i"))
      .toDF("id", "g", "s", "w")
      .writeTo(t).partitionedBy(col("g")).create()
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val scan = spark.table(t).filter(col("id") >= 0).queryExecution.optimizedPlan
      .collectLeaves().collectFirst {
        case sr: DataSourceV2ScanRelation => sr.scan
      }.get.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 10000L, "row count is exact (manifest sum)")
    val cs = st.columnStats()
    def ndv(c: String): Long = {
      val k = cs.keySet().toArray.collectFirst {
        case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().sameElements(Array(c)) => r
      }.get
      cs.get(k).distinctCount().getAsLong
    }
    // Partition column: exact from the manifest's directory values.
    assert(ndv("g") == 7L)
    // Data columns: HLL-merged across files — deterministic, ≲7% error class.
    assert(math.abs(ndv("id") - 10000L) <= 700, s"id ndv=${ndv("id")}")
    assert(math.abs(ndv("s") - 123L) <= 12, s"s ndv=${ndv("s")}")
    // Null counts ride the existing file stats: exact.
    val wKey = cs.keySet().toArray.collectFirst {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
        if r.fieldNames().sameElements(Array("w")) => r
    }.get
    assert(cs.get(wKey).nullCount().getAsLong == 2500L)
  }

  test("CBO join reorder: manifest NDV stats flip a mis-written join order") {
    import spark.implicits._
    val fact = freshTable("cbo_fact")
    val d1 = freshTable("cbo_d1")
    val d2 = freshTable("cbo_d2")
    // fact joins d1 on a (every key matches: output stays 20k rows) and d2 on
    // b (2 of 1000 keys match: output ~40 rows). Written with the UNSELECTIVE
    // join first — only cardinality estimates can justify flipping it.
    (0L until 20000L).map(i => (i % 1000L, i % 1000L, i)).toDF("a", "b", "p")
      .writeTo(fact).create()
    (0L until 1000L).map(i => (i, s"d1-$i")).toDF("a", "nm1").writeTo(d1).create()
    Seq((3L, "d2-3"), (7L, "d2-7")).toDF("b", "nm2").writeTo(d2).create()
    val sql = s"""SELECT p, nm1, nm2 FROM $fact f
                  JOIN $d1 ON f.a = $d1.a
                  JOIN $d2 ON f.b = $d2.b"""
    def joinOrder(): Seq[String] = {
      val plan = spark.sql(sql).queryExecution.optimizedPlan
      plan.collectLeaves().map(_.toString)
        .map(s => Seq("cbo_fact", "cbo_d1", "cbo_d2").find(s.contains).getOrElse("?"))
    }
    val flipped = withSQLConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")(joinOrder())
    // With stats, the selective d2 join must execute first (appear before d1
    // in the depth-first leaf order).
    assert(flipped.indexOf("cbo_d2") < flipped.indexOf("cbo_d1"),
      s"CBO should reorder the selective join first, got $flipped")
    val asWritten = joinOrder() // CBO off: order stays as the SQL wrote it
    assert(asWritten.indexOf("cbo_d1") < asWritten.indexOf("cbo_d2"),
      s"without CBO the written order should survive, got $asWritten")
  }

  private def withSQLConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("cluster table property range-clusters commits so file stats are disjoint") {
    import spark.implicits._
    val t = freshTable("clus")
    // Shuffled insert order; the WRITE PATH must impose the clustering.
    val df = (0L until 4000L).map(i => ((i * 2654435761L) % 4000L, i))
      .toDF("ck", "payload").distinct()
    df.writeTo(t)
      .tableProperty("cluster", "ck").tableProperty("cluster.parts", "4")
      .create()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root, "clus")
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.entries.size == 4, s"cluster.parts=4 should pin 4 files, got ${m.entries}")
    // Each file's ck range from the manifest stats; ranges must be pairwise
    // disjoint (range distribution) — which is exactly what makes min/max
    // skipping bite on key predicates.
    val ranges = m.entries.map { case (_, rel) =>
      val st = graft.sources.GraftFileStats.parse(m.fileStats(rel))("ck")
      (st._2.get.toLong, st._3.get.toLong)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping ranges: $ranges")
      case _ =>
    }
    // And a key-range predicate provably skips most files via the evaluator.
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val filters: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThanOrEqual("ck", 0L), LessThan("ck", 100L))
    val skipped = m.entries.count { case (_, rel) =>
      !graft.sources.GraftFileStats.mayMatch(m.fileStats.get(rel), filters, m.dataSchema) }
    assert(skipped == 3, s"expected 3 of 4 files skipped, got $skipped")
    assert(spark.table(t).filter(col("ck") < 100).count() ==
      df.filter(col("ck") < 100).count())
  }

  test("streaming source admission control: maxGensPerTrigger paces the drain") {
    import spark.implicits._
    val t = freshTable("paced")
    base.writeTo(t).partitionedBy(col("pk")).create()        // gen 1
    (300L until 350L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 2
    (350L until 400L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 3
    val ckpt = tmpDir("graft_paced_ckpt")
    val q = spark.readStream.option("maxGensPerTrigger", "1").table(t)
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("graft_paced_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    // One generation per micro-batch: the drain must have taken >= 3 batches
    // with input, and still land on the complete table.
    val withInput = q.recentProgress.count(_.numInputRows > 0)
    assert(withInput >= 3, s"expected a paced >=3-batch drain, got $withInput")
    val snap = spark.table("graft_paced_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(snap.values.sum == 400, s"got $snap")
  }

  test("streaming source reads across ADD COLUMN evolution: old files NULL-fill") {
    import spark.implicits._
    val t = freshTable("evostream")
    base.writeTo(t).partitionedBy(col("pk")).create()
    spark.sql(s"ALTER TABLE $t ADD COLUMN extra BIGINT")
    (300L until 320L).map(i => (i, i % 3, s"v$i", i * 2))
      .toDF("id", "pk", "s", "extra").writeTo(t).append()
    val ckpt = tmpDir("graft_evo_ckpt")
    val q = spark.readStream.table(t)
      .agg(count(lit(1)).as("n"), count(col("extra")).as("n_extra"),
        sum(col("extra")).as("sum_extra"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("graft_evo_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    val r = spark.table("graft_evo_sink").collect()(0)
    assert(r.getLong(0) == 320, "all rows, old and new generations")
    assert(r.getLong(1) == 20, "pre-evolution rows NULL-fill the new column")
    assert(r.getLong(2) == (300L until 320L).map(_ * 2).sum)
  }

  test("bloom table property prunes equality probes min/max stats cannot") {
    import spark.implicits._
    val t = freshTable("bloomy")
    // Two commits whose s-value SETS are disjoint but whose s RANGES fully
    // overlap (even vs odd ids, same lexical span) — min/max can never prune
    // an equality probe here; only the per-file bloom can.
    (0L until 200L by 2).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).writeTo(t).tableProperty("bloom", "s").create()
    (1L until 200L by 2).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).writeTo(t).append()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root, "bloomy")
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.fileBlooms.size == 2, s"expected 2 blooms, got ${m.fileBlooms.keys}")
    assert(m.bloomCol.contains("s"))
    // min/max genuinely cannot decide: both files' s-ranges contain "v33".
    val evenRel = m.entries.map(_._2).find(_.startsWith("gen-1-")).get
    val oddRel = m.entries.map(_._2).find(_.startsWith("gen-2-")).get
    // Find an odd value the bloom provably excludes from the EVEN file (fp
    // rate ~0.1%, deterministic hashes — scan a few candidates). Payloads
    // are column-keyed even for a single declared column.
    val evenBloom = graft.sources.GraftBloom.bloomFor(
      m.fileBlooms(evenRel), "s", m.bloomCol).get
    val probe = (1L until 200L by 2).map(i => s"v$i").find(v =>
      !graft.sources.GraftBloom.mightContain(evenBloom, v)).get
    // Vandalize the even file; an equality read for `probe` must succeed
    // without opening it, and return exactly the one odd row.
    val fs = dir.getFileSystem(conf)
    val evenFile = fs.globStatus(new Path(dir, "gen-1-*/*.parquet"))
    evenFile.foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write("junk".getBytes) finally out.close()
    }
    val got = spark.table(t).filter(col("s") === probe).collect()
    assert(got.length == 1 && got(0).getString(1) == probe)
    // Soundness: a value genuinely in the even file must try to read it.
    intercept[Exception] {
      spark.table(t).filter(col("s") === "v42").collect()
    }
  }

  test("multi-column blooms: equality probes on EITHER column prune independently") {
    import spark.implicits._
    val t = freshTable("bloomy2")
    // Two files with disjoint value SETS but fully-overlapping RANGES on
    // BOTH columns — only the per-column blooms can prune equality probes.
    (0L until 200L by 2).map(i => (i, s"v$i", s"w$i")).toDF("id", "s", "u")
      .coalesce(1).writeTo(t).tableProperty("bloom", "s,u").create()
    (1L until 200L by 2).map(i => (i, s"v$i", s"w$i")).toDF("id", "s", "u")
      .coalesce(1).writeTo(t).append()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root, "bloomy2")
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.bloomCols == Seq("s", "u"))
    assert(m.fileBlooms.values.forall(_.contains(":")),
      "two declared columns must use the named multi payload")
    val evenRel = m.entries.map(_._2).find(_.startsWith("gen-1-")).get
    import graft.sources.{GraftBloom, GraftCatalogOps}
    import org.apache.spark.sql.sources.EqualTo
    // Per-column pruning, via the library evaluator: find odd values each
    // column's bloom provably excludes from the even file.
    val probeS = (1L until 200L by 2).map(i => s"v$i").find(v =>
      !GraftCatalogOps.mayTouch(m, Array(EqualTo("s", v)))
        .exists(_._2 == evenRel)).get
    val probeU = (1L until 200L by 2).map(i => s"w$i").find(v =>
      !GraftCatalogOps.mayTouch(m, Array(EqualTo("u", v)))
        .exists(_._2 == evenRel)).get
    // Vandalize the even file: probes on EITHER column succeed without it.
    val fs = dir.getFileSystem(conf)
    fs.globStatus(new Path(dir, "gen-1-*/*.parquet")).foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write("junk".getBytes) finally out.close()
    }
    assert(spark.table(t).filter(col("s") === probeS).count() == 1L)
    assert(spark.table(t).filter(col("u") === probeU).count() == 1L)
    // Soundness: values genuinely in the even file must try to read it.
    intercept[Exception] { spark.table(t).filter(col("s") === "v42").collect() }
    intercept[Exception] { spark.table(t).filter(col("u") === "w42").collect() }
    // Legacy single-column payloads still parse (raw base64, no marker).
    val legacy = GraftBloom.encode {
      val b = new java.util.BitSet(); GraftBloom.positions("x").foreach(b.set); b
    }
    assert(GraftBloom.mayMatchCols(Some(legacy), Seq("s"), Array(EqualTo("s", "x"))))
    assert(!GraftBloom.mayMatchCols(Some(legacy), Seq("s"), Array(EqualTo("s", "zz"))))
    // A rename of either bloom column refuses.
    val ex = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN u TO u2")
    }
    assert(ex.getMessage.contains("bloom"))
  }

  test("vacuum reclaims only unreferenced files; live snapshot stays readable") {
    val t = freshTable("vac")
    base.writeTo(t).partitionedBy(col("pk")).create()   // gen-1 files
    base.writeTo(t).append()                            // gen-2 files (gen-1 still live)
    // Dynamic overwrite of every partition: gen-1/gen-2 files all become dead.
    base.writeTo(t).overwritePartitions()               // gen-3
    val dir = new Path(root, "vac")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preDead = fs.globStatus(new Path(dir, "gen-{1,2}-*/pk=*/*.parquet")).length
    assert(preDead > 0, "fixture needs dead files")
    val (files, manifests) =
      graft.sources.GraftCatalogOps.vacuum(spark, root, "vac", keepGens = 1, uncommittedGraceMs = 0)
    assert(files == preDead, s"expected $preDead reclaimed, got $files")
    assert(manifests == 3) // manifest-0 (create), -1, -2; current manifest-3 kept
    // Live data intact, byte for byte.
    assert(spark.table(t).count() == 300)
    assert(spark.table(t).agg(sum(col("id"))).collect()(0).getLong(0)
      == (0L until 300L).sum)
    // Time travel past the horizon is gone — that's the vacuum contract.
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect()
    }
    // Idempotent: nothing left to reclaim.
    assert(graft.sources.GraftCatalogOps.vacuum(spark, root, "vac", 1, uncommittedGraceMs = 0) == ((0L, 0L)))
  }

  test("file min/max stats skip files a data predicate provably excludes") {
    import spark.implicits._
    val t = freshTable("skipstats")
    // Two commits with disjoint id ranges → two files whose manifest stats
    // don't overlap (unpartitioned table: every filter is a data filter).
    (0L until 100L).map(i => (i, s"lo$i")).toDF("id", "s")
      .coalesce(1).writeTo(t).create()
    (1000L until 1100L).map(i => (i, s"hi$i")).toDF("id", "s")
      .coalesce(1).writeTo(t).append()
    // The manifest carries stats for both files.
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root, "skipstats")
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.entries.size == 2 && m.fileStats.size == 2,
      s"expected 2 files with stats, got ${m.entries} / ${m.fileStats}")
    // Vandalize the high-range file. A read whose predicate excludes it must
    // succeed WITHOUT opening it; an unfiltered read must hit the corruption.
    val fs = dir.getFileSystem(conf)
    val hi = fs.globStatus(new Path(dir, "gen-2-*/*.parquet"))
    assert(hi.nonEmpty)
    hi.foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write("not parquet".getBytes) finally out.close()
    }
    assert(spark.table(t).filter(col("id") < 100).count() == 100)
    assert(spark.table(t).filter(col("id") === 7L).count() == 1)
    // Every file pruned: the scan must produce an empty relation, not crash.
    assert(spark.table(t).filter(col("id") === 555L).count() == 0)
    assert(spark.table(t).filter(col("s").startsWith("lo")).count() == 100)
    // An expression-input SUM must read files (plain count(*) AND sum(col)
    // are metadata-answered these days — B166/B202).
    intercept[Exception] { spark.table(t).agg(sum(col("id") * col("id"))).collect() }
    // Skipping is sound, not just lucky: a predicate that DOES touch the
    // vandalized range must try to read it and fail.
    intercept[Exception] { spark.table(t).filter(col("id") >= 1000).count() }
  }

  test("deletion vectors: merge-on-read DML never rewrites existing files") {
    import spark.implicits._
    val t = freshTable("dv")
    base.writeTo(t).partitionedBy(col("pk")).tableProperty("dml", "dv").create()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.globStatus(new Path(new Path(root, "dv"), "gen-*/pk=*/*.parquet"))
      .map(_.getPath.toString).toSet
    val created = dataFiles()
    def manifest() = {
      val conf = spark.sessionState.newHadoopConf()
      val dir = new Path(root, "dv")
      graft.sources.GraftManifest.load(dir,
        graft.sources.GraftManifest.currentGen(dir, conf), conf)
    }
    // Point DELETE: zero data files written — only a deletion vector.
    spark.sql(s"DELETE FROM $t WHERE id = 7")
    assert(dataFiles() == created, "a DV delete must not write or rewrite data files")
    assert(spark.table(t).count() == 299)
    assert(spark.table(t).filter(col("id") === 7).count() == 0)
    assert(manifest().fileDVs.size == 1, s"expected one DV, got ${manifest().fileDVs}")
    // Second delete hitting the same file: DVs merge, still no data writes.
    spark.sql(s"DELETE FROM $t WHERE id = 10")
    assert(dataFiles() == created)
    assert(spark.table(t).count() == 298)
    // UPDATE = delete+insert: the old file is untouched; a new file carries
    // the updated row.
    spark.sql(s"UPDATE $t SET s = 'upd' WHERE id = 20")
    assert(created.subsetOf(dataFiles()), "update must not rewrite existing files")
    assert(dataFiles().size == created.size + 1, "update appends exactly one new file")
    assert(spark.table(t).filter(col("s") === "upd").select(col("id"))
      .collect().map(_.getLong(0)).toSeq == Seq(20L))
    assert(spark.table(t).count() == 298)
    // MERGE INTO: matched update + unmatched insert, same merge-on-read shape.
    Seq((1L, 1L, "merged"), (2000L, 2L, "new")).toDF("id", "pk", "s")
      .createOrReplaceTempView("dv_src")
    val filesBeforeMerge = dataFiles()
    spark.sql(
      s"""MERGE INTO $t tgt USING dv_src src ON tgt.id = src.id
         |WHEN MATCHED THEN UPDATE SET s = src.s
         |WHEN NOT MATCHED THEN INSERT (id, pk, s) VALUES (src.id, src.pk, src.s)
         |""".stripMargin)
    assert(filesBeforeMerge.subsetOf(dataFiles()), "merge must not rewrite existing files")
    assert(spark.table(t).count() == 299)
    assert(spark.table(t).filter(col("id") === 1).select(col("s"))
      .collect()(0).getString(0) == "merged")
    assert(spark.table(t).filter(col("id") === 2000).count() == 1)
    // Untouched provenance: rows outside the DML keys keep their original
    // generation — the DML-without-rewrite proof.
    val gens = spark.table(t).filter(col("pk") === 0).select(col("_gen"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(gens == Set(1L), s"pk=0 rows must still come from gen 1, got $gens")
    // Whole-table contents equal a from-scratch prediction.
    val want = (0L until 300L).filterNot(i => i == 7 || i == 10).map { i =>
      val s = if (i == 20) "upd" else if (i == 1) "merged" else s"v$i"
      (i, i % 3, s)
    } :+ ((2000L, 2L, "new"))
    assert(spark.table(t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).toSet == want.toSet)
    // Time travel: the pre-DML snapshot still reads all 300 original rows
    // (old manifests reference old DVs — or none).
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1")
      .collect()(0).getLong(0) == 300)
    // The streaming source's snapshot batch applies DVs too.
    val ckpt = tmpDir("graft_dv_ckpt")
    val q = spark.readStream.table(t)
      .agg(count(lit(1)).as("n"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("graft_dv_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    assert(spark.table("graft_dv_sink").collect()(0).getLong(0) == 299)
    // VACUUM keeps referenced DVs alive: live data still correct after.
    graft.sources.GraftCatalogOps.vacuum(spark, root, "dv", keepGens = 1, uncommittedGraceMs = 0)
    assert(spark.table(t).count() == 299)
    assert(spark.table(t).filter(col("id").isin(7L, 10L)).count() == 0)
  }

  test("V2 runtime partition pruning reaches the scan and drops manifest entries") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = freshTable("dppspec")
    base.writeTo(t).partitionedBy(col("pk")).create() // pk = id % 3: 3 partitions
    // The PartitionPruning rule only injects when the build side carries a
    // LIKELY-SELECTIVE predicate that SURVIVES optimization — a filtered
    // LocalRelation constant-folds away, so the dim is a filtered Range.
    val dim = spark.range(0, 3).select(col("id").as("pk"))
      .filter(col("pk") === 1L)
    // AQE off for THIS plan only, so the BatchScanExec (and its scan
    // instance) is directly reachable; the pruning itself is AQE-agnostic.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val q = spark.table(t).join(broadcast(dim), "pk").agg(sum(col("id")))
      val plan = q.queryExecution.executedPlan
      assert(plan.toString.contains("dynamicpruning"),
        s"expected a dynamicpruning runtime filter in:\n$plan")
      assert(q.collect()(0).getLong(0) == (0L until 300L).filter(_ % 3 == 1).sum)
      val scans = plan.collect { case b: BatchScanExec => b.scan }
      val gs = scans.collectFirst { case g: graft.sources.GraftScan => g }
      assert(gs.isDefined, s"no GraftScan under:\n$plan")
      // The runtime filter must have REACHED the scan: only pk=1's files stay.
      assert(gs.get.currentEntries.nonEmpty &&
        gs.get.currentEntries.forall(_._1 == "pk=1"),
        s"kept entries not pruned to pk=1: ${gs.get.currentEntries.map(_._1).distinct}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("highestClaimedGen probes forward from the pointer, glob fallback intact") {
    import org.apache.hadoop.fs.Path
    import graft.sources.GraftManifest
    val dir = new Path(root, "hcg")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    GraftManifest.publish(dir, GraftManifest(0L, schema, Nil, Nil), conf)
    (1 to 4).foreach { i =>
      GraftManifest.publishNext(dir, conf)(cur =>
        cur.copy(gen = cur.gen + 1, txns = cur.txns + s"hcg:$i"))
    }
    assert(GraftManifest.highestClaimedGen(dir, conf) == 4L)
    // Pointer LAG (a crashed writer advanced claims but not CURRENT): the
    // forward probe must cross the lag without listing the directory.
    val cur = new Path(dir, "CURRENT")
    val o = fs.create(cur, true)
    try o.write("1".getBytes) finally o.close()
    assert(GraftManifest.highestClaimedGen(dir, conf) == 4L)
    // No pointer at all (pre-pointer vintage / manual surgery): glob fallback.
    fs.delete(cur, false)
    assert(GraftManifest.highestClaimedGen(dir, conf) == 4L)
    // currentGen self-heals the pointer from the claims either way.
    assert(GraftManifest.currentGen(dir, conf) == 4L)
  }

  test("cross-process commit races: two real JVMs + this one, no lost commit") {
    // The in-JVM concurrency tests share `currentSwapLock` and one FS handle,
    // which the cross-process CAS path never sees — this test drives the
    // protocol residue the r7 verdict flagged (advanceCurrent's cross-process
    // window, the stale-claim reaper) with REAL separate JVMs. Test / fork is
    // on, so java.class.path is the literal test classpath and the child JVMs
    // (plain Hadoop FS, no SparkSession — startup is ~1 s) run the same code.
    import org.apache.hadoop.fs.Path
    val table = "racecp"
    val dirStr = s"$root/$table"
    val dir = new Path(dirStr)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    graft.sources.GraftManifest.publish(dir,
      graft.sources.GraftManifest(0L, schema, Nil, Nil), conf)
    val per = 30
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val cp = System.getProperty("java.class.path")
    def launch(id: String): (Process, java.io.File) = {
      val log = java.io.File.createTempFile(s"race-$id-", ".log")
      val p = new ProcessBuilder(javaBin, "-cp", cp, "graft.RaceCommitMain",
          dirStr, id, per.toString)
        .redirectErrorStream(true).redirectOutput(log).start()
      (p, log)
    }
    val (p1, log1) = launch("p1")
    val (p2, log2) = launch("p2")
    // This JVM commits concurrently, interleaving NON-destructive vacuums
    // (dry run + keep-everything) so reclamation's listing/read path runs
    // against in-flight cross-process commits.
    var i = 0
    var exhaust = 0
    while (i < per) {
      try {
        graft.sources.GraftManifest.publishNext(dir, conf)(cur =>
          cur.copy(gen = cur.gen + 1, txns = cur.txns + s"race:p0:$i"))
        i += 1
        if (i % 10 == 0) {
          graft.sources.GraftCatalogOps.vacuum(spark, root, table, dryRun = true)
          graft.sources.GraftCatalogOps.vacuum(spark, root, table, keepGens = 10000)
        }
      } catch {
        case e: IllegalStateException if e.getMessage.contains("CAS races") =>
          exhaust += 1
          assert(exhaust <= 50, s"starved out: $e")
          Thread.sleep(10L * exhaust)
      }
    }
    def await(p: Process, log: java.io.File, id: String): Unit = {
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"$id did not finish in 240s")
      assert(p.exitValue == 0, s"$id failed:\n" +
        new String(java.nio.file.Files.readAllBytes(log.toPath)).takeRight(4000))
      log.delete()
    }
    await(p1, log1, "p1")
    await(p2, log2, "p2")
    // Audit: 90 commits from 3 writers -> exactly 90 generations, CURRENT at
    // the top, every manifest body complete, no marker lost, txns monotone.
    val cur = graft.sources.GraftManifest.currentGen(dir, conf)
    assert(cur == 3L * per, s"lost/duplicated generations: CURRENT=$cur")
    val fin = graft.sources.GraftManifest.load(dir, cur, conf)
    val expected = (for {
      p <- Seq("p0", "p1", "p2"); k <- 0 until per
    } yield s"race:$p:$k").toSet
    assert(expected.subsetOf(fin.txns),
      s"lost commits: ${(expected -- fin.txns).toSeq.sorted.take(5)}")
    (0L to cur).foreach { g =>
      assert(graft.sources.GraftManifest.bodyComplete(dir, g, conf),
        s"generation $g has an incomplete body")
    }
    // A real reclaiming vacuum afterwards leaves the head intact and loadable.
    graft.sources.GraftCatalogOps.vacuum(spark, root, table,
      keepGens = 1, uncommittedGraceMs = 0L)
    assert(graft.sources.GraftManifest.currentGen(dir, conf) == cur)
    assert(graft.sources.GraftManifest.load(dir, cur, conf).txns == fin.txns)
  }

  test("metadata COUNT/SUM subtract DV aggregates; MIN/MAX refuse under a DV") {
    val t = freshTable("dvsum")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").tableProperty("dvaggs", "true").create()
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 3")
    val live = (0L until 300L).filterNot(_ % 7 == 3)
    // COUNT(*) / COUNT(col) / SUM stay metadata-only AFTER the DV delete —
    // and the answers equal the live set exactly (subtraction, not refusal).
    val q = spark.table(t).agg(count(lit(1)).as("n"),
      sum(col("id")).as("sid"), count(col("s")).as("ns"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"COUNT/SUM under a DV must stay metadata-only:\n$plan")
    val r = q.collect()(0)
    assert(r.getLong(0) == live.size && r.getLong(1) == live.sum &&
      r.getLong(2) == live.size)
    // The metadata answer must EQUAL a forced real scan (expression input).
    assert(spark.table(t).agg(sum(col("id") * col("id"))).collect()(0).getLong(0)
      == live.map(i => i * i).sum)
    // MIN/MAX cannot subtract a bound: they must fall back to the scan (and
    // the scan answer respects the DV).
    val mm = spark.table(t).agg(min(col("id")), max(col("id")))
    assert(!mm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "MIN/MAX must NOT be metadata-answered under a DV")
    val mmr = mm.collect()(0)
    assert(mmr.getLong(0) == live.min && mmr.getLong(1) == live.max)
    // A second delete on already-DV'd files recomputes the FULL union
    // aggregates; emptying partition pk=2 entirely must drop its group from
    // the (still metadata-only) partition-grouped aggregate.
    spark.sql(s"DELETE FROM $t WHERE id % 3 = 2")
    val live2 = live.filterNot(_ % 3 == 2)
    val g = spark.table(t).groupBy(col("pk"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sid"))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("LocalTableScan") && !gPlan.contains("BatchScan"),
      s"grouped COUNT/SUM under DVs must stay metadata-only:\n$gPlan")
    val groups = g.collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(!groups.contains(2L), "a fully-DV-deleted partition must emit no group")
    Seq(0L, 1L).foreach { pk =>
      val ids = live2.filter(_ % 3 == pk)
      assert(groups(pk) == (ids.size.toLong, ids.sum), s"pk=$pk mismatch")
    }
  }

  test("DV aggregates keep data columns named like the change-feed columns") {
    // The aggregates read the deleted rows' OWN values: no column of the
    // change feed (`_change_type`, `_commit_version`) may replace them.
    val t = freshTable("dvsumcdc")
    base.select(col("id"), col("pk"), (col("id") * 3).as("_commit_version"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("s")).as("_change_type"))
      .writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").tableProperty("dvaggs", "true").create()
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 3")
    val live = (0L until 300L).filterNot(_ % 7 == 3)
    val q = spark.table(t).agg(count(lit(1)), sum(col("_commit_version")),
      count(col("_change_type")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"COUNT/SUM under a DV must stay metadata-only:\n$plan")
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (live.size.toLong, live.map(_ * 3).sum, live.count(_ % 5 != 0).toLong))
    // And the metadata answer equals a real scan of the same columns.
    val scan = spark.table(t).where(col("_change_type").isNull || col("id") >= 0)
      .agg(sum(col("_commit_version")), count(col("_change_type"))).collect()(0)
    assert((scan.getLong(0), scan.getLong(1)) == (r.getLong(1), r.getLong(2)))
  }

  test("deletion-vector codec roundtrip and _pos metadata column") {
    // Varint-delta codec: sparse, dense, dup, and boundary positions.
    val cases = Seq(Array.empty[Long], Array(0L), Array(0L, 1L, 2L),
      Array(5L, 1000000L, 1234567890123L), Array(7L, 7L, 3L))
    cases.foreach { ps =>
      val back = graft.sources.GraftDV.decode(graft.sources.GraftDV.encode(ps))
      assert(back.toSeq == ps.distinct.sorted.toSeq, s"roundtrip failed for ${ps.toSeq}")
    }
    // _pos rides the normal read path: (file, pos) is unique and stable.
    val t = freshTable("posmeta")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val rows = spark.table(t).select(col("_file"), col("_pos"), col("id")).collect()
    assert(rows.length == 300)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length == 300,
      "(_file,_pos) must be a unique row id")
    val perFile = rows.groupBy(_.getString(0)).values
    perFile.foreach { fr =>
      val ps = fr.map(_.getLong(1)).sorted
      assert(ps.head == 0 && ps.last == ps.length - 1,
        s"per-file positions must be dense 0..n-1, got ${ps.take(5).toSeq}…")
    }
  }

  test("input_file_name() names each row's file on catalog scans, columnar or under a DV") {
    import spark.implicits._
    val t = freshTable("infile")
    (0L until 200L).toDF("id").repartition(8).writeTo(t).tableProperty("dml", "dv").create()
    def check(label: String): Unit = {
      val files = spark.table(t).select(col("_file")).distinct().count()
      assert(files === 8L, label)
      assert(spark.table(t).select(input_file_name()).distinct().count() === files, label)
      spark.table(t).select(input_file_name(), col("_file")).collect().foreach { r =>
        assert(r.getString(0).endsWith(r.getString(1)), s"$label: $r")
      }
    }
    check("columnar scan")
    // A deletion vector turns the whole scan row-based.
    spark.sql(s"DELETE FROM $t WHERE id % 50 = 0")
    check("row scan under a DV")
  }

  test("mixed finite+NaN/Inf files publish no bounds and are never mis-pruned") {
    import spark.implicits._
    val t = freshTable("nonfinite")
    // One file whose double column mixes finite values with +Inf and NaN: its
    // finite sub-range [1,2] must NOT become the published bounds — `x > 10`
    // would then prune a file that contains +Infinity (which satisfies it).
    Seq((1L, 1.0), (2L, 2.0), (3L, Double.PositiveInfinity), (4L, Double.NaN))
      .toDF("id", "x").coalesce(1).writeTo(t).create()
    // And a finite-only file far below the predicate, to prove skipping still
    // works where it is sound.
    Seq((10L, 5.0), (11L, 6.0)).toDF("id", "x").coalesce(1).writeTo(t).append()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root, "nonfinite")
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    val mixedRel = m.entries.map(_._2).find(_.startsWith("gen-1-")).get
    val finiteRel = m.entries.map(_._2).find(_.startsWith("gen-2-")).get
    val mixedStats = graft.sources.GraftFileStats.parse(m.fileStats(mixedRel))
    assert(!mixedStats.contains("x"),
      s"mixed finite+non-finite column must publish NO bounds, got $mixedStats")
    assert(mixedStats.contains("id"), "finite columns in the same file keep stats")
    assert(graft.sources.GraftFileStats.parse(m.fileStats(finiteRel)).contains("x"))
    // The range predicate keeps the mixed file (Inf and NaN both exceed 10
    // under Spark's ordering) and may skip the finite file.
    import org.apache.spark.sql.sources.GreaterThan
    val filters: Array[org.apache.spark.sql.sources.Filter] = Array(GreaterThan("x", 10.0))
    assert(graft.sources.GraftFileStats.mayMatch(
      m.fileStats.get(mixedRel), filters, m.dataSchema), "must keep the Inf/NaN file")
    assert(!graft.sources.GraftFileStats.mayMatch(
      m.fileStats.get(finiteRel), filters, m.dataSchema), "finite file provably excluded")
    // End to end: the rows actually come back.
    val got = spark.table(t).filter(col("x") > 10.0).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 4L), s"Inf and NaN rows must survive skipping, got $got")
  }

  test("paced stream on a vacuumed table clamps its first offset forward") {
    import spark.implicits._
    val t = freshTable("pacedvac")
    base.writeTo(t).partitionedBy(col("pk")).create()        // gens 0,1
    (300L until 350L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 2
    (350L until 400L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 3
    // Reclaim everything below the current generation: manifests 0..2 die.
    val (_, manifests) =
      graft.sources.GraftCatalogOps.vacuum(spark, root, "pacedvac", keepGens = 1, uncommittedGraceMs = 0)
    assert(manifests == 3)
    // A FRESH paced query starts at -1; its first paced end (-1+1 = 0) names a
    // vacuumed manifest. The source must clamp forward to the oldest retained
    // generation and deliver the full surviving snapshot — not crash on
    // manifest-0.
    val ckpt = tmpDir("graft_pacedvac_ckpt")
    val q = spark.readStream.option("maxGensPerTrigger", "1").table(t)
      .agg(count(lit(1)).as("n"), sum(col("id")).as("ids"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("graft_pacedvac_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    val r = spark.table("graft_pacedvac_sink").collect()(0)
    assert(r.getLong(0) == 400, s"full snapshot must arrive, got ${r.getLong(0)}")
    assert(r.getLong(1) == (0L until 400L).sum)
  }

  test("reader leases: streams renew them, vacuum honors them, TTL expires them") {
    import spark.implicits._
    val t = freshTable("leased")
    base.writeTo(t).partitionedBy(col("pk")).create()        // gens 0,1
    (300L until 350L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 2
    (350L until 400L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 3
    val ckpt = tmpDir("graft_lease_ckpt")
    val q = spark.readStream.option("maxGensPerTrigger", "1").table(t)
      .agg(count(lit(1)).as("n"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("graft_lease_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    // The drain's commits must have left a lease recording its position.
    val conf = spark.sessionState.newHadoopConf()
    val tdir = new Path(root, "leased")
    val leaseMin = graft.sources.GraftLease.activeMinGen(
      tdir, conf, graft.sources.GraftLease.DefaultTtlMs, System.currentTimeMillis())
    assert(leaseMin.contains(3L), s"drained stream's lease should sit at gen 3, got $leaseMin")
    // Simulate a SECOND drain mid-flight: its checkpoint has committed gen 1
    // and will come back for manifest-1. Vacuum must clamp its horizon there.
    graft.sources.GraftLease.renew(tdir, "fake-ckpt-midway", 1L, conf)
    val (_, m1) = graft.sources.GraftCatalogOps.vacuum(spark, root, "leased", keepGens = 1, uncommittedGraceMs = 0)
    assert(m1 == 1, s"lease at gen 1 must limit reclaim to manifest-0, deleted $m1")
    val fs = tdir.getFileSystem(conf)
    assert(fs.exists(new Path(tdir, "manifest-1.txt")),
      "the leased generation's manifest must survive vacuum")
    // Expired leases stop blocking: ttl=0 disables the guard and the same
    // vacuum now reclaims through the requested horizon.
    val (_, m2) = graft.sources.GraftCatalogOps.vacuum(spark, root, "leased",
      keepGens = 1, leaseTtlMs = 0L, uncommittedGraceMs = 0)
    assert(m2 == 2, s"with leases expired, manifests 1..2 reclaim, deleted $m2")
    assert(spark.table(t).count() == 400, "live snapshot must stay readable")
  }

  test("streaming source admission control: maxBytesPerTrigger paces by file bytes") {
    import spark.implicits._
    val t = freshTable("bytepaced")
    base.writeTo(t).partitionedBy(col("pk")).create()        // gens 0,1
    (300L until 350L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 2
    (350L until 400L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).append()                                   // gen 3
    // A 1-byte cap can never admit a whole extra generation, so the drain
    // advances one generation per batch (progress guarantee) — same cadence
    // the maxGensPerTrigger pin shows, but driven by the manifest byte stats.
    val ckpt = tmpDir("graft_bytepace_ckpt")
    val q = spark.readStream.option("maxBytesPerTrigger", "1").table(t)
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("graft_bytepace_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    val withInput = q.recentProgress.count(_.numInputRows > 0)
    assert(withInput >= 3, s"1-byte cap must pace the drain, got $withInput batches")
    assert(spark.table("graft_bytepace_sink").collect().map(_.getLong(1)).sum == 400)
    // A generous cap admits everything in ONE batch: byte pacing must not
    // fragment a drain that fits the budget.
    val ckpt2 = tmpDir("graft_bytepace2_ckpt")
    val q2 = spark.readStream.option("maxBytesPerTrigger", s"${1L << 30}").table(t)
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      .writeStream.option("checkpointLocation", ckpt2)
      .outputMode("complete").format("memory").queryName("graft_bytepace2_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000); q2.stop()
    val withInput2 = q2.recentProgress.count(_.numInputRows > 0)
    assert(withInput2 <= 1, s"1 GiB cap must drain in one batch, got $withInput2")
    assert(spark.table("graft_bytepace2_sink").collect().map(_.getLong(1)).sum == 400)
  }

  test("continuous rate-limited drain keeps pace with live commits") {
    import spark.implicits._
    val t = freshTable("livedrain")
    base.writeTo(t).partitionedBy(col("pk")).create()        // gens 0,1
    val ckpt = tmpDir("graft_livedrain_ckpt")
    // ProcessingTime trigger (a real long-running drain, not AvailableNow):
    // admission still paces each micro-batch to one generation, so commits
    // that land WHILE the stream runs are absorbed incrementally.
    val q = spark.readStream.option("maxGensPerTrigger", "1").table(t)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").format("memory").queryName("graft_livedrain_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable() // snapshot drained
      (300L until 350L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
        .writeTo(t).append()                                 // gen 2, mid-flight
      q.processAllAvailable()
      (350L until 400L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
        .writeTo(t).append()                                 // gen 3, mid-flight
      q.processAllAvailable()
      val got = spark.table("graft_livedrain_sink").agg(
        count(lit(1)), sum(col("id"))).collect()(0)
      assert(got.getLong(0) == 400, s"live commits must stream in, got ${got.getLong(0)}")
      assert(got.getLong(1) == (0L until 400L).sum, "no duplicates, no loss")
      // The long-running reader's lease tracks its committed position, so a
      // concurrent VACUUM cannot reclaim the generations it still needs.
      val conf = spark.sessionState.newHadoopConf()
      val leaseMin = graft.sources.GraftLease.activeMinGen(
        new Path(root, "livedrain"), conf,
        graft.sources.GraftLease.DefaultTtlMs, System.currentTimeMillis())
      assert(leaseMin.exists(_ >= 0L), s"running drain must hold a lease, got $leaseMin")
    } finally q.stop()
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answer from the manifest, no file IO") {
    import spark.implicits._
    val t = freshTable("aggpush")
    (0L until 1000L).map(i => (i, i % 3, s"v${1000 + i}",
        if (i % 5 == 0) null else s"w$i"))
      .toDF("id", "pk", "s", "w")
      .writeTo(t).partitionedBy(col("pk")).create()
    // Ungrouped COUNT(*)/COUNT(col)/MIN/MAX with no residual filters: the
    // plan must be a LocalTableScan (driver-computed from the manifest) —
    // no BatchScan, no tasks touching parquet.
    val q = spark.sql(s"SELECT count(*), count(w), min(id), max(id), min(s), max(s), min(pk), max(pk) FROM $t")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected a metadata-only LocalTableScan plan, got:\n$plan")
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == (1000L, 800L, 0L, 999L))
    assert((r.getString(4), r.getString(5)) == ("v1000", "v1999"))
    assert((r.getLong(6), r.getLong(7)) == (0L, 2L))
    // Partition filters compose: they prune the entry list the totals sum
    // over (fully-handled, so the pushdown stays legal).
    val q2 = spark.sql(s"SELECT count(*), min(id) FROM $t WHERE pk = 1")
    assert(q2.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val r2 = q2.collect()(0)
    assert((r2.getLong(0), r2.getLong(1)) == (333L, 1L))
    // Soundness fallbacks — each of these must NOT be metadata-answered:
    // a residual data filter, a distinct count, and a deletion vector.
    val q3 = spark.sql(s"SELECT count(*) FROM $t WHERE id >= 500")
    assert(!q3.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q3.collect()(0).getLong(0) == 500L)
    val q4 = spark.sql(s"SELECT count(DISTINCT pk) FROM $t")
    assert(!q4.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q4.collect()(0).getLong(0) == 3L)
    val tdv = freshTable("aggpushdv")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .writeTo(tdv).tableProperty("dml", "dv").create()
    spark.sql(s"DELETE FROM $tdv WHERE id = 0") // DV: min(id) is now 1
    val q5 = spark.sql(s"SELECT count(*), min(id) FROM $tdv")
    assert(!q5.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "deletion vectors must refuse the metadata answer")
    val r5 = q5.collect()(0)
    assert((r5.getLong(0), r5.getLong(1)) == (99L, 1L))
    // GROUP BY over partition columns: the directory values are the group
    // keys, per-group totals come from the same manifest stats — still a
    // LocalTableScan. GROUP BY a DATA column must refuse.
    val q6 = spark.sql(
      s"SELECT pk, count(*) AS n, min(id) AS mn, max(id) AS mx FROM $t GROUP BY pk ORDER BY pk")
    assert(q6.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val r6 = q6.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(r6.toSeq == Seq((0L, 334L, 0L, 999L), (1L, 333L, 1L, 997L), (2L, 333L, 2L, 998L)))
    val q7 = spark.sql(s"SELECT s, count(*) FROM $t GROUP BY s")
    assert(!q7.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "group-by on a data column must take the real scan")
    assert(q7.count() == 1000)
    // SUM over integral columns (B202): per-file manifest sums answer it —
    // ungrouped, over a partition column, and per partition group.
    val q8 = spark.sql(s"SELECT sum(id), sum(pk) FROM $t")
    assert(q8.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"sum must be metadata-only:\n${q8.queryExecution.executedPlan}")
    val r8 = q8.collect()(0)
    assert((r8.getLong(0), r8.getLong(1)) ==
      ((0L until 1000L).sum, (0L until 1000L).map(_ % 3).sum))
    val q9 = spark.sql(s"SELECT pk, sum(id) AS s FROM $t GROUP BY pk ORDER BY pk")
    assert(q9.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q9.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq(0L, 1L, 2L).map(p => (p, (0L until 1000L).filter(_ % 3 == p).sum)))
    // Fallbacks: DISTINCT sums and string columns take the real scan.
    val q10 = spark.sql(s"SELECT sum(DISTINCT id) FROM $t")
    assert(!q10.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(q10.collect()(0).getLong(0) == (0L until 1000L).sum)
  }

  test("native reads are columnar (vectorized) until a deletion vector forces rows") {
    import spark.implicits._
    val t = freshTable("colread")
    (0L until 1000L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).tableProperty("dml", "dv").create()
    // Plain scan: ColumnarToRow above the BatchScan = whole ColumnarBatches
    // flow out of the scan (vectorized end to end, no per-row materialization
    // at the scan boundary).
    val q = spark.table(t).filter(col("id") >= 10)
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      s"expected a columnar scan:\n${q.queryExecution.executedPlan}")
    assert(q.count() == 990)
    // A deletion vector needs exact row ordinals — the scan must drop to the
    // row-based reader (and still be correct).
    spark.sql(s"DELETE FROM $t WHERE id = 500")
    val q2 = spark.table(t).filter(col("id") >= 10)
    assert(!q2.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a DV'd snapshot must read row-based")
    assert(q2.count() == 989)
    assert(q2.agg(sum(col("id"))).collect()(0).getLong(0) ==
      (10L until 1000L).sum - 500L)
  }

  test("manifest publish keeps a bloom even when the file has no byte size") {
    // Mixed-vintage manifests can carry a bloom without a byte entry; the
    // line encoding must not silently drop it into a shorter arity.
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(tmpDir("graft_bloomkeep"), "t")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, s STRING")
    val bloom = graft.sources.GraftBloom.encode {
      val b = new java.util.BitSet(graft.sources.GraftBloom.Bits)
      graft.sources.GraftBloom.positions("v1").foreach(b.set); b
    }
    val m = graft.sources.GraftManifest(0L, schema, Seq.empty,
      entries = Seq(("", "gen-0/f.parquet")),
      fileBlooms = Map("gen-0/f.parquet" -> bloom)) // note: no fileBytes entry
    graft.sources.GraftManifest.publish(dir, m, conf)
    val back = graft.sources.GraftManifest.load(dir, 0L, conf)
    assert(back.fileBlooms.get("gen-0/f.parquet").contains(bloom),
      "bloom must survive a publish/load roundtrip without byte stats")
    assert(back.fileBytes.isEmpty && back.entries == m.entries)
  }

  test("non-partition filters reach the inner parquet scan (row-group skipping)") {
    val t = freshTable("push")
    base.writeTo(t).partitionedBy(col("pk")).create()
    // The scan must advertise the pushed data filters (correctness is separate:
    // Spark re-applies them above, so we also check the values).
    val q = spark.table(t).filter(col("id") >= 290 && col("pk") === 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dataFilters=") && !plan.contains("dataFilters=0"),
      s"expected a non-empty dataFilters marker in:\n$plan")
    assert(q.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq == Seq(292L, 295L, 298L))
  }

  private def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join: co-partitioned catalog tables join with zero shuffle") {
    val a = freshTable("spja")
    val b = freshTable("spjb")
    base.writeTo(a).partitionedBy(col("pk")).create()
    base.select(col("id").as("bid"), col("pk"), (col("id") * 2).as("d"))
      .writeTo(b).partitionedBy(col("pk")).create()
    def joined = spark.table(a).join(spark.table(b), "pk")
      .agg(count(lit(1)).as("n"), sum(col("id") + col("d")).as("t"))
    // Both scans report KeyGroupedPartitioning over pk; with V2 bucketing on
    // (and broadcast off so the planner can't sidestep the distribution
    // question) the join's children already satisfy clustering — NO exchange.
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val q = joined
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected a shuffle-free storage-partitioned join, got:\n$plan")
      val r = q.collect()(0)
      assert(r.getLong(0) == 3 * 100L * 100L, s"row count ${r.getLong(0)}")
    }
    // Negative control: same query without V2 bucketing shuffles both sides.
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange hashpartitioning"),
        s"negative control should shuffle:\n$plan")
    }
  }

  test("bucketed SPJ: join on the real key over bucket-partitioned tables needs no shuffle; agg on partition key too") {
    import spark.implicits._
    val a = freshTable("bspja")
    val b = freshTable("bspjb")
    // The bucketed-table pattern at this catalog's surface: a derived bucket
    // column (Spark's own murmur3 hash mod N) as the partition key. Both
    // sides derive it identically, so co-location is by construction.
    val left = (0L until 500L).map(i => (i, s"l$i")).toDF("k", "lv")
      .withColumn("bk", pmod(hash(col("k")), lit(8)).cast("int"))
    val right = (0L until 500L by 2).map(i => (i, i * 10)).toDF("k", "rv")
      .withColumn("bk", pmod(hash(col("k")), lit(8)).cast("int"))
    left.writeTo(a).partitionedBy(col("bk")).create()
    right.writeTo(b).partitionedBy(col("bk")).create()
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      // Join keys (bk, k) ⊇ partition keys (bk): the key-grouped layout
      // satisfies both sides' clustering — no exchange anywhere.
      val q = spark.table(a).join(spark.table(b), Seq("bk", "k"))
        .agg(count(lit(1)).as("n"), sum(col("rv")).as("s"))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      val r = q.collect()(0)
      assert(r.getLong(0) == 250 && r.getLong(1) == (0L until 500L by 2).map(_ * 10).sum)
      // Aggregation keyed on the partition column rides the same layout:
      // partial+final hash agg collapse onto the key-grouped scan, exchange-free.
      val agg = spark.table(a).groupBy(col("bk")).agg(count(lit(1)).as("n"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free partition-key aggregation:\n$aggPlan")
      assert(agg.collect().map(_.getLong(1)).sum == 500)
    }
  }

  test("TIMESTAMP AS OF resolves to the last commit at or before the instant") {
    val t = freshTable("tsasof")
    base.writeTo(t).partitionedBy(col("pk")).create()                // gen 1
    Thread.sleep(1100)
    val mid = java.time.Instant.now()
    Thread.sleep(1100)
    base.limit(50).writeTo(t).append()                               // gen 2
    val midStr = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(mid)
    val n = spark.sql(s"SELECT count(*) AS n FROM $t TIMESTAMP AS OF '$midStr'")
      .collect()(0).getLong(0)
    assert(n == 300, s"mid-instant snapshot should be gen 1, got $n rows")
    assert(spark.table(t).count() == 350)
    // An instant before the table existed fails loudly.
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '2001-01-01 00:00:00'")
        .collect()
    }
  }

  test("_file predicates prune manifest entries before any IO") {
    val t = freshTable("fprune")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val dir = new Path(root, "fprune")
    val conf = spark.sparkContext.hadoopConfiguration
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    val target = m.entries.collectFirst { case ("pk=1", rel) => rel }.get
    // Vandalize every OTHER data file: only manifest-entry pruning on the
    // `_file` predicate (before IO) lets the filtered read succeed.
    val fs = dir.getFileSystem(conf)
    m.entries.filter(_._2 != target).foreach { case (_, rel) =>
      val out = fs.create(new Path(dir, rel), true)
      try out.write("not parquet".getBytes) finally out.close()
    }
    val got = spark.table(t).where(col("_file") === target)
      .agg(count(lit(1)).as("n"), sum(col("id")).as("ids")).collect()(0)
    assert(got.getLong(0) == 100 && got.getLong(1) == (1L until 300L by 3).sum)
    // Expression-input sum: not metadata-answerable (B202 answers plain
    // sum(col) from the manifest), so the unfiltered read hits the vandalism.
    intercept[Exception] { spark.table(t).agg(sum(col("id") * col("id"))).collect() }
  }

  test("streaming change feed: $changes streams snapshot inserts, DV deletes, update pairs; rewrites fail loudly") {
    val t = freshTable("scdf")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    val ckpt = tmpDir("scdf_ckpt")
    val out = tmpDir("scdf_out")
    // Parquet file sink: append-mode with exactly-once checkpoint recovery
    // (the memory sink cannot resume a checkpoint in append mode).
    def drain(): Unit = {
      val q = spark.readStream.table("gtest.`scdf$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      assert(q.awaitTermination(120000), "change-feed drain timed out")
      q.stop()
    }
    drain() // snapshot batch: the live table arrives as inserts @ version 1
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")                   // gen 2
    spark.sql(s"UPDATE $t SET s = 'upd' WHERE id = 7")               // gen 3
    drain() // delta batches: 30 deletes @2, delete+insert pair @3
    val sink = spark.read.parquet(out)
    val byGen = sink.groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byGen == Map(
      (1L, "insert") -> 300L, (2L, "delete") -> 30L,
      (3L, "delete") -> 1L, (3L, "insert") -> 1L), byGen.toString)
    val pair = sink.filter(col("_commit_version") === 3)
      .orderBy(col("_change_type")).select(col("_change_type"), col("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(pair == Seq("delete" -> "v7", "insert" -> "upd"), pair.toString)
    // The stream's delta window must agree with the batch feed over (1, 3].
    val batch = graft.sources.GraftCatalogOps.changes(spark, root, "scdf", 1L, 3L)
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch == byGen.filter(_._1._1 > 1L), s"stream $byGen vs batch $batch")
    // A rewrite generation cannot stream: OPTIMIZE then drain fails loudly
    // (the batch feed remains the documented path across rewrites).
    graft.sources.GraftCatalogOps.optimize(spark, t, root, "scdf")   // gen 4
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.table("gtest.`scdf$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      try q.awaitTermination(120000) finally q.stop()
    }
    assert(ex.getMessage.contains("cannot") || ex.getCause != null)
  }

  test("CHECK constraints: every write path enforces, violations reject the WHOLE commit") {
    import spark.implicits._
    val t = freshTable("chk")
    (0L until 100L).map(i => (i, i % 3, s"v$i")).toDF("id", "pk", "s")
      .writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv")
      .tableProperty("check", "id >= 0 AND length(s) < 10").create()
    assert(spark.table(t).count() == 100)
    // Batch append with ONE bad row in 50: nothing lands (atomicity), the
    // generation pointer does not advance.
    val genBefore = graft.sources.GraftManifest.currentGen(
      new Path(root, "chk"), spark.sparkContext.hadoopConfiguration)
    val ex = intercept[Exception] {
      (100L until 150L).map(i => (i, i % 3, if (i == 137) "wayTooLongValue" else s"v$i"))
        .toDF("id", "pk", "s").writeTo(t).append()
    }
    assert(serializedCauses(ex).exists(_.contains("CHECK constraint")), ex.toString)
    assert(spark.table(t).count() == 100, "failed append must land zero rows")
    assert(graft.sources.GraftManifest.currentGen(
      new Path(root, "chk"), spark.sparkContext.hadoopConfiguration) == genBefore)
    // Row-level DML writes enforce too: an UPDATE whose result violates fails
    // and the table is untouched; a compliant UPDATE passes.
    val ex2 = intercept[Exception] {
      spark.sql(s"UPDATE $t SET s = 'alsoWayTooLong' WHERE id = 7")
    }
    assert(serializedCauses(ex2).exists(_.contains("CHECK constraint")), ex2.toString)
    assert(spark.table(t).filter(col("id") === 7).select("s").collect()(0).getString(0) == "v7")
    spark.sql(s"UPDATE $t SET s = 'ok' WHERE id = 7")
    assert(spark.table(t).filter(col("id") === 7).select("s").collect()(0).getString(0) == "ok")
    // SQL tri-state: NULL is not a violation (the standard CHECK rule).
    Seq((200L, 0L, null.asInstanceOf[String])).toDF("id", "pk", "s").writeTo(t).append()
    assert(spark.table(t).filter(col("id") === 200).count() == 1)
    // CREATE-time validation: unknown column and non-boolean both fail fast.
    intercept[Exception] {
      spark.sql("CREATE TABLE gtest.chkbad (id BIGINT) TBLPROPERTIES ('check' = 'nope > 0')")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE gtest.chkbad2 (id BIGINT) TBLPROPERTIES ('check' = 'id + 1')")
    }
    // Nondeterministic constraints are refused at definition time.
    intercept[Exception] {
      spark.sql("CREATE TABLE gtest.chkbad3 (id BIGINT) TBLPROPERTIES ('check' = 'rand() < 0.5')")
    }
  }

  test("null partition values roundtrip: marker on disk, NULL on read, SPJ groups them") {
    import spark.implicits._
    val t = freshTable("nullpart")
    Seq((1L, java.lang.Long.valueOf(1L), "a"),
        (2L, null.asInstanceOf[java.lang.Long], "b"),
        (3L, java.lang.Long.valueOf(1L), "c"))
      .toDF("id", "pk", "s").writeTo(t).partitionedBy(col("pk")).create()
    val all = spark.table(t).select("id", "pk").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(all == Map(1L -> 1L, 2L -> -1L, 3L -> 1L), all.toString)
    assert(spark.table(t).filter(col("pk").isNull).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // SPJ grouping must not crash on (and must group) the null key.
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false") {
      val agg = spark.table(t).groupBy(col("pk")).agg(count(lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
      val got = agg.collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 2L, -1L -> 1L), got.toString)
    }
  }

  /** Task failures surface wrapped (SparkException → ... → our message):
    * collect every message down the cause chain. */
  private def serializedCauses(e: Throwable): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur: Throwable = e
    while (cur != null && buf.size < 10) {
      if (cur.getMessage != null) buf += cur.getMessage
      cur = cur.getCause
    }
    buf.toSeq
  }

  test("streaming CDC replication: applying $changes via MERGE keeps a replica exact") {
    val src = freshTable("repsrc")
    val dst = freshTable("repdst")
    base.writeTo(src).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()
    base.limit(0).writeTo(dst).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()
    val ckpt = tmpDir("rep_ckpt")
    // The canonical CDC-apply loop: per commit version in order, deletes
    // first (MERGE ... WHEN MATCHED THEN DELETE on the key), then inserts —
    // an update's delete+insert pair lands as an exact row replacement.
    def sync(): Unit = {
      val q = spark.readStream.table("gtest.`repsrc$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val versions = df.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          // foreachBatch hands an isolated session clone — run the MERGE on
          // IT so the temp view resolves.
          val ss = df.sparkSession
          versions.foreach { v =>
            val batch = df.filter(col("_commit_version") === v)
            batch.filter(col("_change_type") === "delete")
              .select("id").createOrReplaceTempView("rep_dels")
            ss.sql(s"MERGE INTO $dst t USING rep_dels d ON t.id = d.id " +
              "WHEN MATCHED THEN DELETE")
            batch.filter(col("_change_type") === "insert")
              .select("id", "pk", "s").writeTo(dst).append()
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "replication drain timed out")
      q.stop()
    }
    sync() // snapshot lands the full table
    spark.sql(s"DELETE FROM $src WHERE id % 10 = 3")
    spark.sql(s"UPDATE $src SET s = 'upd' WHERE id % 50 = 7")
    base.limit(20).withColumn("id", col("id") + 5000L).writeTo(src).append()
    sync() // delta commits replicate
    val srcRows = spark.table(src).select("id", "pk", "s")
    val dstRows = spark.table(dst).select("id", "pk", "s")
    assert(srcRows.exceptAll(dstRows).isEmpty && dstRows.exceptAll(srcRows).isEmpty,
      s"replica diverged: src=${srcRows.count()} dst=${dstRows.count()}")
  }

  test("OPTIMIZE ZORDER: rewritten files prune probes on BOTH columns, content lossless") {
    import spark.implicits._
    val t = freshTable("zopt")
    // Uniform (x, y) in [0, 64)² with decorrelated axes, scattered input order.
    (0L until 4096L).map(i => (i, i % 64, (i * 31) % 64)).toDF("id", "x", "y")
      .repartition(8).writeTo(t).create()
    val before = spark.table(t).agg(count(lit(1)), sum(col("id"))).collect()(0)
    val (_, filesAfter) = graft.sources.GraftCatalogOps.optimizeZorder(
      spark, t, root, "zopt", "x", "y", numFiles = 8)
    assert(filesAfter == 8, s"expected 8 z-files, got $filesAfter")
    val after = spark.table(t).agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(before == after, "z-order rewrite must be lossless")
    // Each z-file is a quadtree tile: a single-axis probe on x AND one on y
    // must each provably exclude files by min/max stats alone — the property
    // a one-column sort cannot give both axes.
    import org.apache.spark.sql.sources.LessThan
    val (skipX, totX) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, root, "zopt", Array(LessThan("x", 16L)))
    val (skipY, totY) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, root, "zopt", Array(LessThan("y", 16L)))
    assert(totX == 8 && skipX >= 2, s"x-probe skipped $skipX of $totX")
    assert(totY == 8 && skipY >= 2, s"y-probe skipped $skipY of $totY")
    // Z-ordering ON a partition column refuses (it already prunes at
    // partition granularity), as does a `cluster`ed table (the two layout
    // contracts are mutually exclusive on one copy).
    val t2 = freshTable("zoptp")
    base.writeTo(t2).partitionedBy(col("pk")).create()
    intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.optimizeZorder(spark, t2, root, "zoptp", "id", "pk", 4)
    }
    val t3 = freshTable("zoptc")
    spark.sql(s"CREATE TABLE $t3 (id BIGINT, x BIGINT, y BIGINT) TBLPROPERTIES ('cluster' = 'id')")
    spark.sql(s"INSERT INTO $t3 VALUES (1, 2, 3)")
    intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.optimizeZorder(spark, t3, root, "zoptc", "x", "y", 4)
    }
  }

  test("OPTIMIZE ZORDER on a PARTITIONED table: per-partition tiles, both axes prune, lossless") {
    import spark.implicits._
    val t = freshTable("zoptpart")
    // Two partitions, each with uniform decorrelated (x, y) in [0, 64)².
    (0L until 8192L).map(i => (i, i % 2, (i / 2) % 64, ((i / 2) * 31) % 64))
      .toDF("id", "pk", "x", "y")
      .repartition(8).writeTo(t).partitionedBy(col("pk")).create()
    val before = spark.table(t).agg(count(lit(1)), sum(col("id"))).collect()(0)
    graft.sources.GraftCatalogOps.optimizeZorder(
      spark, t, root, "zoptpart", "x", "y", numFiles = 8)
    val after = spark.table(t).agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(before == after, "per-partition z-order rewrite must be lossless")
    // The partition layout survived: files live under their pk dirs, and the
    // table's partition pruning still works.
    assert(spark.table(t).filter(col("pk") === 1).count() == 4096)
    val m = graft.sources.GraftManifest.load(new Path(root, "zoptpart"),
      graft.sources.GraftManifest.currentGen(new Path(root, "zoptpart"),
        spark.sparkContext.hadoopConfiguration),
      spark.sparkContext.hadoopConfiguration)
    val byPart = m.entries.groupBy(_._1)
    assert(byPart.keySet == Set("pk=0", "pk=1"), byPart.keySet.toString)
    assert(byPart.values.forall(_.size >= 2),
      s"each partition must split into multiple z-tiles: ${byPart.view.mapValues(_.size).toMap}")
    // WITHIN each partition the tiles are quadtree cells: single-axis probes
    // on x AND y each exclude files by min/max stats alone.
    import org.apache.spark.sql.sources.LessThan
    val (skipX, tot) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, root, "zoptpart", Array(LessThan("x", 16L)))
    val (skipY, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, root, "zoptpart", Array(LessThan("y", 16L)))
    assert(skipX >= 2, s"x-probe skipped $skipX of $tot")
    assert(skipY >= 2, s"y-probe skipped $skipY of $tot")
  }

  test("optimistic concurrency: CAS claims one winner per generation, CURRENT never moves backward") {
    import graft.sources.GraftManifest
    val t = freshTable("casprim")
    base.writeTo(t).partitionedBy(col("pk")).create() // gen 0 + gen 1
    val dir = new Path(root, "casprim")
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    val next = cur.copy(gen = cur.gen + 1)
    assert(GraftManifest.publishCas(dir, next, conf), "first claim must win")
    assert(!GraftManifest.publishCas(dir, next, conf), "second claim of the same generation must lose")
    // A stale writer's pointer update must not roll the table back.
    GraftManifest.advanceCurrent(dir, cur.gen, conf)
    assert(GraftManifest.currentGen(dir, conf) == next.gen)
  }

  test("optimistic concurrency: the conflict matrix rebases appends, rejects overlapping replaces") {
    import graft.sources.{GraftCommitProtocol, GraftManifest}
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT, pk BIGINT")
    def m(gen: Long, entries: (String, String)*) =
      GraftManifest(gen, schema, Seq("pk"), entries.toSeq)
    val orig = m(1, "pk=0" -> "gen-1/a", "pk=1" -> "gen-1/b")
    val fresh = Seq("pk=0" -> "gen-2/c")
    // Append rebases over any concurrent commit.
    val moved = m(2, "pk=0" -> "gen-1/a", "pk=1" -> "gen-2/b2")
    assert(GraftCommitProtocol.rebasedEntries("append", orig, moved, fresh,
      Array.empty, Set.empty) == moved.entries ++ fresh)
    // Truncate conflicts with ANY concurrent commit.
    intercept[java.util.ConcurrentModificationException] {
      GraftCommitProtocol.rebasedEntries("truncate", orig, moved, fresh,
        Array.empty, Set.empty)
    }
    // Dynamic overwrite: rebases when the concurrent commit touched OTHER
    // partitions, conflicts when it touched an overwritten one.
    val r = GraftCommitProtocol.rebasedEntries("dynamic", orig, moved, fresh,
      Array.empty, Set.empty)
    assert(r.toSet == Set("pk=1" -> "gen-2/b2", "pk=0" -> "gen-2/c"))
    val movedSame = m(2, "pk=0" -> "gen-2/a2", "pk=1" -> "gen-1/b")
    intercept[java.util.ConcurrentModificationException] {
      GraftCommitProtocol.rebasedEntries("dynamic", orig, movedSame, fresh,
        Array.empty, Set.empty)
    }
    // Row-level CoW: conflicts when a replaced file is gone or its DV moved.
    intercept[java.util.ConcurrentModificationException] {
      GraftCommitProtocol.rebasedEntries("replace-groups", orig, movedSame, fresh,
        Array.empty, Set("pk=0" -> "gen-1/a"))
    }
    val dvMoved = m(2, orig.entries: _*).copy(fileDVs = Map("gen-1/a" -> "gen-2/dv"))
    intercept[java.util.ConcurrentModificationException] {
      GraftCommitProtocol.rebasedEntries("replace-groups", orig, dvMoved, fresh,
        Array.empty, Set("pk=0" -> "gen-1/a"))
    }
    assert(GraftCommitProtocol.rebasedEntries("replace-groups", orig, moved, fresh,
      Array.empty, Set("pk=0" -> "gen-1/a"))
      .toSet == Set("pk=1" -> "gen-2/b2", "pk=0" -> "gen-2/c"))
  }

  test("optimistic concurrency: the conflict matrix for delta DML rebases appends, rejects touched files") {
    import graft.sources.{GraftCommitProtocol, GraftManifest}
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT, pk BIGINT")
    def m(gen: Long, entries: (String, String)*) =
      GraftManifest(gen, schema, Seq("pk"), entries.toSeq)
    val orig = m(1, "pk=0" -> "gen-1/a", "pk=1" -> "gen-1/b")
      .copy(fileDVs = Map("gen-1/b" -> "gen-1/dv-b"))
    val touched = Set("gen-1/a")
    // Same base: nothing to rebase over.
    GraftCommitProtocol.requireDeltaRebasable(orig, orig, touched)
    // An unrelated concurrent append, or a DV on another file, rebases.
    val appended = orig.copy(gen = 2, entries = orig.entries :+ ("pk=0" -> "gen-2/c"),
      fileDVs = Map("gen-1/b" -> "gen-2/dv-b"))
    GraftCommitProtocol.requireDeltaRebasable(orig, appended, touched)
    // A touched file removed (or rewritten) concurrently conflicts...
    val removed = orig.copy(gen = 2, entries = Seq("pk=1" -> "gen-1/b", "pk=0" -> "gen-2/a2"))
    intercept[java.util.ConcurrentModificationException] {
      GraftCommitProtocol.requireDeltaRebasable(orig, removed, touched)
    }
    // ...and so does a DV that moved on a touched file.
    val dvMoved = orig.copy(gen = 2, fileDVs = orig.fileDVs + ("gen-1/a" -> "gen-2/dv-a"))
    intercept[java.util.ConcurrentModificationException] {
      GraftCommitProtocol.requireDeltaRebasable(orig, dvMoved, touched)
    }
  }

  test("optimistic concurrency: racing appenders all land, no rows lost, generations contiguous") {
    import spark.implicits._
    val t = freshTable("casrace")
    base.limit(0).writeTo(t).partitionedBy(col("pk")).create()
    val writers = 2
    val rounds = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        try (0 until rounds).foreach { r =>
          (0L until 10L).map(i => (w * 1000L + r * 10L + i, i % 3, s"w$w-r$r-$i"))
            .toDF("id", "pk", "s").writeTo(t).append()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    if (!errs.isEmpty) {
      val e = errs.peek()
      var c: Throwable = e
      while (c != null) { System.err.println(s"[race] cause: $c"); c = c.getCause }
    }
    assert(errs.isEmpty, s"racing appends must all succeed, got: ${errs.peek()}")
    // Every row from every append is present exactly once...
    assert(spark.table(t).count() == writers * rounds * 10L)
    assert(spark.table(t).select("id").distinct().count() == writers * rounds * 10L)
    // ...and the claimed generations are contiguous (one CAS winner each).
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(root, "casrace")
    val cur = graft.sources.GraftManifest.currentGen(dir, conf)
    // create publishes gen 0 and the CTAS write commits gen 1; each append
    // then claims exactly one slot.
    assert(cur == writers * rounds + 1,
      s"expected ${writers * rounds + 1} commit generations, CURRENT at $cur")
    (0L to cur).foreach { g =>
      assert(dir.getFileSystem(conf).exists(new Path(dir, s"manifest-$g.txt")),
        s"generation $g missing — CAS must hand out contiguous slots")
    }
  }

  test("optimistic concurrency: a delta DELETE racing appenders commits or conflicts, never loses rows") {
    import spark.implicits._
    val t = freshTable("casracedv")
    base.writeTo(t).partitionedBy(col("pk")).tableProperty("dml", "dv").create()
    val writers = 2
    val rounds = 5
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (0 until writers).map { w =>
      new Thread(() => {
        try (0 until rounds).foreach { r =>
          (0L until 10L).map(i => (10000L + w * 1000L + r * 10L + i, i % 3, s"w$w-r$r-$i"))
            .toDF("id", "pk", "s").writeTo(t).append()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    @volatile var deleteError: Throwable = null
    val deleter = new Thread(() =>
      try spark.sql(s"DELETE FROM $t WHERE id < 100") catch { case e: Throwable => deleteError = e })
    (appenders :+ deleter).foreach(_.start())
    (appenders :+ deleter).foreach(_.join(120000))
    assert(errs.isEmpty, s"racing appends must all succeed, got: ${errs.peek()}")
    val deleted = deleteError == null
    if (!deleted) {
      val chain = Iterator.iterate(deleteError)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
        s"a losing DELETE must fail as a conflict, got: $deleteError")
    }
    // Every appended row landed once; the DELETE applied all or nothing.
    val df = spark.table(t)
    assert(df.filter(col("id") >= 10000L).count() == writers * rounds * 10L)
    assert(df.filter(col("id") < 100L).count() == (if (deleted) 0L else 100L))
    assert(df.count() == (if (deleted) 200L else 300L) + writers * rounds * 10L)
  }

  test("change-feed stream honors admission pacing (inherits the base source's knobs)") {
    val t = freshTable("cdfpace")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    base.limit(30).withColumn("id", col("id") + 1000L).writeTo(t).append() // gen 2
    spark.sql(s"DELETE FROM $t WHERE id = 7")                        // gen 3
    val ckpt = tmpDir("cdfpace_ckpt")
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.option("maxGensPerTrigger", "1")
      .table("gtest.`cdfpace$changes`")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (df.count() > 0) batches.incrementAndGet(): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "paced change-feed drain timed out")
    q.stop()
    // Snapshot batch (start=-1 jumps to the paced end) + one batch per later
    // commit: the drain is bounded per trigger, never one giant batch.
    assert(batches.get() >= 3,
      s"expected >=3 paced non-empty batches, got ${batches.get()}")
  }

  test("vacuum grace window protects an in-flight writer's uncommitted files") {
    val t = freshTable("vacgrace")
    base.writeTo(t).partitionedBy(col("pk")).create()
    base.writeTo(t).overwritePartitions() // gen-1 files now dead
    val dir = new Path(root, "vacgrace")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = fs.globStatus(new Path(dir, "gen-1-*/pk=*/*.parquet")).length
    assert(dead > 0)
    // With a generous grace window the just-written dead files are spared —
    // metadata alone cannot distinguish them from a concurrent writer's
    // pre-commit data. With grace 0 they reclaim.
    val (spared, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "vacgrace",
      keepGens = 1, uncommittedGraceMs = 3600000L)
    assert(spared == 0, s"grace window must spare fresh files, reclaimed $spared")
    val (reclaimed, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "vacgrace",
      keepGens = 1, uncommittedGraceMs = 0L)
    assert(reclaimed == dead, s"expected $dead reclaimed, got $reclaimed")
  }

  test("partition values with path/manifest hazards escape and roundtrip") {
    import spark.implicits._
    val t = freshTable("escparts")
    Seq((1L, "a/b=c%d", "x"), (2L, "tab\there", "y"), (3L, "plain", "z"))
      .toDF("id", "pk", "s").writeTo(t).partitionedBy(col("pk")).create()
    val got = spark.table(t).select("id", "pk").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a/b=c%d", 2L -> "tab\there", 3L -> "plain"), got.toString)
    // Partition-filter equality on the hazardous value prunes correctly.
    assert(spark.table(t).filter(col("pk") === "a/b=c%d").select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.table(t).count() == 3)
  }

  test("numeric partition filters take null semantics on the null partition, never crash") {
    import spark.implicits._
    val t = freshTable("nullfilt")
    Seq((1L, java.lang.Long.valueOf(1L)), (2L, null.asInstanceOf[java.lang.Long]),
        (3L, java.lang.Long.valueOf(3L)))
      .toDF("id", "pk").writeTo(t).partitionedBy(col("pk")).create()
    // Equality against a numeric partition key used to NumberFormatException
    // on the null marker; now it prunes the null partition (SQL semantics).
    assert(spark.table(t).filter(col("pk") === 1L).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.table(t).filter(col("pk").isNull).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    spark.sql(s"DELETE FROM $t WHERE pk = 3")   // metadata delete on a keyed filter
    assert(spark.table(t).count() == 2)
    // Unsupported partition-key types refuse at CREATE, not at first read.
    intercept[Exception] {
      spark.sql("CREATE TABLE gtest.badpart (id BIGINT, d DOUBLE) PARTITIONED BY (d)")
    }
  }

  test("streaming change feed emits rows a RESTORE resurrects, matching the batch feed") {
    val t = freshTable("scdfrst")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")                   // gen 2 (30 DVs)
    val ckpt = tmpDir("scdfrst_ckpt")
    val out = tmpDir("scdfrst_out")
    def drain(): Unit = {
      val q = spark.readStream.table("gtest.`scdfrst$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out)
      assert(q.awaitTermination(120000)); q.stop()
    }
    drain() // snapshot (270 live rows as inserts)
    graft.sources.GraftCatalogOps.restore(spark, root, "scdfrst", 1L) // gen 3: DV rewind only
    drain() // must stream the 30 resurrected rows as inserts @3
    val byGen = spark.read.parquet(out)
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byGen == Map((1L, "insert") -> 270L, (3L, "insert") -> 30L), byGen.toString)
  }

  test("vacuum reclaims dead streaming-epoch files; history survives vacuum") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshTable("epvac")
    base.limit(0).writeTo(t).partitionedBy(col("pk")).create()
    val src = MemoryStream[Long]
    val q = src.toDF().select(col("value").as("id"), (col("value") % 3).as("pk"),
        concat(lit("v"), col("value")).as("s"))
      .writeStream.option("checkpointLocation", tmpDir("epvac_ckpt"))
      .toTable(t)
    src.addData(0L until 50L: _*)
    q.processAllAvailable(); q.stop()
    assert(spark.table(t).count() == 50)
    spark.sql(s"TRUNCATE TABLE $t") // epoch files now dead
    val dir = new Path(root, "epvac")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadEp = fs.globStatus(new Path(dir, "ep-*/pk=*/*.parquet")).length
    assert(deadEp > 0, "fixture needs dead epoch files")
    val (files, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "epvac", keepGens = 1, uncommittedGraceMs = 0)
    assert(files >= deadEp, s"expected >= $deadEp epoch files reclaimed, got $files")
    assert(fs.globStatus(new Path(dir, "ep-*/pk=*/*.parquet")).isEmpty)
    // history() tolerates the vacuumed gap instead of crashing.
    val hist = graft.sources.GraftCatalogOps.history(spark, root, "epvac")
      .select("gen").collect().map(_.getLong(0))
    assert(hist.nonEmpty && hist.forall(_ >= 0))
  }

  test("paced stream on a tag-island table starts at the contiguous suffix, not the island") {
    import graft.sources.GraftCatalogOps
    val t = freshTable("tagisle")
    base.writeTo(t).partitionedBy(col("pk")).create()               // gen 1
    GraftCatalogOps.tag(spark, root, "tagisle", "old", 1L)
    base.limit(40).writeTo(t).append()                               // gen 2
    base.limit(20).writeTo(t).append()                               // gen 3
    GraftCatalogOps.vacuum(spark, root, "tagisle", keepGens = 1, leaseTtlMs = 0, uncommittedGraceMs = 0)
    // Manifests left: 1 (tagged island) and 3 (current). A fresh paced drain
    // must start from the suffix (gen 3's full snapshot), not wedge on the
    // gap after the island.
    val ckpt = tmpDir("tagisle_ckpt")
    val q = spark.readStream.option("maxGensPerTrigger", "1").table(t)
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("complete").format("memory").queryName("tagisle_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000)); q.stop()
    assert(spark.table("tagisle_sink").agg(sum(col("n"))).collect()(0).getLong(0) == 360)
  }

  test("metadata twin tables: $history/$files/$partitions answer from manifests, zero tasks") {
    val t = freshTable("meta")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    base.limit(60).withColumn("id", col("id") + 1000L).writeTo(t).append() // gen 2
    spark.sql(s"DELETE FROM $t WHERE id = 5")                        // gen 3 (DV)
    // $history: one row per commit, file counts grow with the append.
    val hist = spark.sql(s"SELECT gen, n_files FROM gtest.`meta$$history` ORDER BY gen")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L), hist.toSeq.toString)
    assert(hist(1)._2 == 3 && hist(2)._2 == 6, hist.toSeq.toString)
    // $files: live files of the current snapshot with rows/bytes/DV flags.
    val files = spark.table("gtest.`meta$files`").collect()
    assert(files.length == 6)
    assert(files.count(_.getAs[Boolean]("has_dv")) == 1, "exactly one file carries the DV")
    assert(files.map(_.getAs[Long]("rows")).sum == 360)
    // $partitions: per-partition rollup, joinable like any relation.
    val parts = spark.sql(
      s"SELECT partition, n_files, rows FROM gtest.`meta$$partitions` ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(parts.length == 3 && parts.forall(_._2 == 2))
    assert(parts.map(_._3).sum == 360)
    // Metadata-only: the plan is a LocalTableScan, no BatchScan, zero file IO.
    val plan = spark.table("gtest.`meta$files`").queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"), plan)
  }

  test("idempotent batch writes: a replayed (txnAppId, txnVersion) publishes nothing") {
    val t = freshTable("idem")
    base.limit(0).writeTo(t).partitionedBy(col("pk")).create()
    def push(ver: String): Unit =
      base.limit(30).writeTo(t)
        .option("txnAppId", "loader").option("txnVersion", ver).append()
    push("1")
    assert(spark.table(t).count() == 30)
    push("1") // orchestrator retry of the same version: no-op
    assert(spark.table(t).count() == 30, "replayed txn version must publish nothing")
    push("2") // next version lands normally
    assert(spark.table(t).count() == 60)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(root, "idem")
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.txns == Set("batch:loader:1", "batch:loader:2"), m.txns.toString)
    // Half-specified keys refuse.
    intercept[Exception] {
      base.limit(1).writeTo(t).option("txnAppId", "loader").append()
    }
  }

  test("an absorbed ledger overwrite is detectable — the recompute race guard's signal") {
    // The r13-advice race: recomputeMview computes floor < to from its
    // entry-time manifest, a concurrent refresh claims `mview:<to>` first,
    // and the recompute's VALUE-REPLACING overwrite silently no-ops as an
    // idempotent replay — the foldmode re-stamp would then bless values the
    // recompute never produced. The window cannot be opened sequentially
    // (the floor is derived FROM the ledger), so pin the guard's signal:
    // a (txnAppId, txnVersion) overwrite whose key is already claimed
    // publishes NOTHING, leaves content untouched, and reports
    // lastPublished=false — the signal recomputeMview abandons its stamp on.
    import spark.implicits._
    val t = freshTable("absorb")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").writeTo(t).create()
    graft.sources.GraftCommitOutcome.reset()
    assert(graft.sources.GraftCommitOutcome.lastPublished.isEmpty)
    Seq((1L, 11L), (2L, 21L)).toDF("k", "v").writeTo(t)
      .option("txnAppId", "rc").option("txnVersion", "5").overwrite(lit(true))
    assert(graft.sources.GraftCommitOutcome.lastPublished.contains(true),
      "a fresh ledger key publishes")
    // Same key, DIFFERENT values — absorbed, detectably.
    graft.sources.GraftCommitOutcome.reset()
    Seq((1L, 99L), (2L, 99L)).toDF("k", "v").writeTo(t)
      .option("txnAppId", "rc").option("txnVersion", "5").overwrite(lit(true))
    assert(graft.sources.GraftCommitOutcome.lastPublished.contains(false),
      "an already-claimed ledger key must report non-publication")
    assert(spark.table(t).orderBy(col("k")).collect().map(_.getLong(1)).toSeq
      === Seq(11L, 21L), "the absorbed overwrite must leave content untouched")
  }

  test("startingVersion streams only commits AFTER the named generation (no snapshot re-emit)") {
    val t = freshTable("startv")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    base.limit(40).withColumn("id", col("id") + 1000L).writeTo(t).append() // gen 2
    spark.sql(s"DELETE FROM $t WHERE id = 3")                        // gen 3
    // Base-table stream from version 1: only gen 2's 40 appended rows.
    val q1 = spark.readStream.option("startingVersion", "1").table(t)
      .writeStream.option("checkpointLocation", tmpDir("startv_c1"))
      .format("memory").queryName("startv_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q1.awaitTermination(120000)); q1.stop()
    assert(spark.table("startv_sink").count() == 40)
    // Change-feed stream from version 1: gen 2's inserts + gen 3's delete,
    // never the 300-row snapshot — the CDC-resume shape.
    val out = tmpDir("startv_out")
    val q2 = spark.readStream.option("startingVersion", "1")
      .table("gtest.`startv$changes`")
      .writeStream.option("checkpointLocation", tmpDir("startv_c2"))
      .format("parquet")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(out)
    assert(q2.awaitTermination(120000)); q2.stop()
    val prof = spark.read.parquet(out)
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(prof == Map((2L, "insert") -> 40L, (3L, "delete") -> 1L), prof.toString)
  }

  test("SHOW TBLPROPERTIES reads manifest properties; $tags lists the refs") {
    val t = freshTable("propst")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").tableProperty("check", "id >= 0").create()
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("dml").contains("dv") && props.get("check").contains("id >= 0"),
      props.toString)
    graft.sources.GraftCatalogOps.tag(spark, root, "propst", "v1", 1L)
    graft.sources.GraftCatalogOps.tag(spark, root, "propst", "stable", 1L)
    val tags = spark.table("gtest.`propst$tags`").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags == Map("v1" -> 1L, "stable" -> 1L), tags.toString)
  }

  test("tags: named time travel, VACUUM retention, untag releases the pin") {
    import graft.sources.GraftCatalogOps
    val t = freshTable("tagt")
    base.writeTo(t).partitionedBy(col("pk")).create()               // gen 1
    GraftCatalogOps.tag(spark, root, "tagt", "baseline", 1L)
    base.limit(40).withColumn("id", col("id") + 1000L).writeTo(t).append() // gen 2
    base.limit(10).withColumn("id", col("id") + 2000L).writeTo(t).append() // gen 3
    // Named time travel reads the pinned generation.
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 'baseline'")
      .collect()(0).getLong(0) == 300)
    // Aggressive vacuum keeps the tagged generation fully readable...
    GraftCatalogOps.vacuum(spark, root, "tagt", keepGens = 1, leaseTtlMs = 0, uncommittedGraceMs = 0)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 'baseline'")
      .collect()(0).getLong(0) == 300)
    // ...while an untagged old generation is gone.
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").collect()
    }
    // Unknown tags fail with the known-tag list; bad names refuse.
    val ex = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'nope'").collect()
    }
    assert(ex.getMessage.contains("baseline") ||
      Option(ex.getCause).exists(_.getMessage.contains("baseline")))
    intercept[IllegalArgumentException] {
      GraftCatalogOps.tag(spark, root, "tagt", "123", 1L)
    }
    // Untag releases the pin: the next vacuum reclaims generation 1.
    assert(GraftCatalogOps.untag(spark, root, "tagt", "baseline"))
    GraftCatalogOps.vacuum(spark, root, "tagt", keepGens = 1, leaseTtlMs = 0, uncommittedGraceMs = 0)
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'baseline'").collect()
    }
    assert(spark.table(t).count() == 350, "current snapshot untouched throughout")
  }

  test("RESTORE rolls content back metadata-only; history survives; the change feed sees the rewind") {
    val t = freshTable("rst")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    base.limit(50).withColumn("id", col("id") + 1000L)
      .writeTo(t).append()                                           // gen 2
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3 AND id < 1000")     // gen 3 (30 DVs)
    assert(spark.table(t).count() == 320)
    val newGen = graft.sources.GraftCatalogOps.restore(spark, root, "rst", 1L)
    assert(newGen == 4L)
    // Content is exactly generation 1; the rolled-back history stays readable.
    assert(spark.table(t).count() == 300)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 3")
      .collect()(0).getLong(0) == 320)
    // Metadata-only: the restored manifest carries generation 1's exact entries.
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(root, "rst")
    val m1 = graft.sources.GraftManifest.load(dir, 1L, conf)
    val m4 = graft.sources.GraftManifest.load(dir, 4L, conf)
    assert(m4.entries == m1.entries && m4.fileDVs.isEmpty)
    // The batch change feed represents the rewind exactly: gen 2's 50 rows
    // leave (removed files), the 30 DV-deleted rows come back (DV rewind).
    val cdf = graft.sources.GraftCatalogOps.changes(spark, root, "rst", 3L, 4L)
    val prof = cdf.groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof == Map("delete" -> 50L, "insert" -> 30L), prof.toString)
    // Restoring past a reclaimed horizon fails loudly.
    intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.restore(spark, root, "rst", 9L)
    }
  }

  test("change data feed: appends, DV deletes, delta updates, OPTIMIZE emit exactly their logical changes") {
    val t = freshTable("cdf")
    base.writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()                           // gen 1
    base.withColumn("id", col("id") + 1000L).writeTo(t).append()     // gen 2
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3 AND id < 1000")     // gen 3 (DVs)
    spark.sql(s"UPDATE $t SET s = 'upd' WHERE id = 7")               // gen 4 (delta)
    graft.sources.GraftCatalogOps.optimize(spark, t, root, "cdf")    // gen 5 (rewrite)
    val cdf = graft.sources.GraftCatalogOps.changes(spark, root, "cdf", 1L, 5L)
    val byGen = cdf.groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byGen == Map(
      (2L, "insert") -> 300L,   // plain append
      (3L, "delete") -> 30L,    // DV point deletes
      (4L, "delete") -> 1L,     // update = its delete+insert pair
      (4L, "insert") -> 1L),
      s"unexpected change profile: $byGen")   // gen 5 (OPTIMIZE): no logical change
    val upd = cdf.filter(col("_commit_version") === 4).orderBy(col("_change_type"))
      .select(col("_change_type"), col("s")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(upd == Seq("delete" -> "v7", "insert" -> "upd"), upd.toString)
    // A feed window covering only the rewrite is empty, and a window past the
    // vacuum horizon fails loudly rather than under-reporting.
    assert(graft.sources.GraftCatalogOps.changes(spark, root, "cdf", 4L, 5L).isEmpty)
    graft.sources.GraftCatalogOps.vacuum(spark, root, "cdf", keepGens = 1, uncommittedGraceMs = 0)
    intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.changes(spark, root, "cdf", 1L, 5L)
    }
  }

  test("change feed nets duplicate-row multiplicities exactly through a rewrite commit") {
    import spark.implicits._
    // Pin of the r16 single-pass netting (one signed-count aggregation
    // replacing the exceptAll pair): a copy-on-write UPDATE rewrites the
    // whole file, so the feed sees removed=old file, added=replacement —
    // verbatim-copied DUPLICATE rows must cancel with their multiplicity,
    // and changed duplicate rows must emit one delete+insert pair PER COPY.
    val t = freshTable("cdfdup")
    Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("id", "s").coalesce(1).writeTo(t).create()               // gen 1
    spark.sql(s"UPDATE $t SET s = 'u' WHERE id = 2")                 // gen 2
    val cdf = graft.sources.GraftCatalogOps.changes(spark, root, "cdfdup", 1L, 2L)
    val rows = cdf.select(col("_change_type"), col("id"), col("s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(rows == Map(
      ("delete", 2L, "b") -> 2,   // both copies of id=2, nothing for id=1
      ("insert", 2L, "u") -> 2), rows.toString)
    // A rewrite that drops 10,000 identical rows emits exactly 10,000 deletes.
    val big = freshTable("cdfdupbig")
    (Seq.fill(10000)((9L, "same")) :+ ((1L, "keep")))
      .toDF("id", "s").coalesce(1).writeTo(big).create()            // gen 1
    spark.sql(s"DELETE FROM $big WHERE id = 9")                      // gen 2
    val dropped = graft.sources.GraftCatalogOps.changes(spark, root, "cdfdupbig", 1L, 2L)
      .select(col("_change_type"), col("id"), col("s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(dropped == Map(("delete", 9L, "same") -> 10000), dropped.toString)
  }

  test("change feed nets on attributes: helper-named user columns survive, ReplicateRows replicates") {
    import spark.implicits._
    // The same copy-on-write history on two tables, one whose columns are
    // named like helper columns a name-based netting would add. Rewritten
    // duplicate rows must cancel on both, and both feeds must agree.
    def feed(name: String, cols: Seq[String]) = {
      val t = freshTable(name)
      Seq((1L, 10L, "a", 5L), (1L, 10L, "a", 5L), (2L, 20L, "b", 6L), (3L, 30L, "c", 7L))
        .toDF("id" +: cols: _*).coalesce(1).writeTo(t).create()      // gen 1
      spark.sql(s"UPDATE $t SET `${cols(1)}` = 'u' WHERE id = 2")      // gen 2 (rewrite)
      val cdf = graft.sources.GraftCatalogOps.changes(spark, root, name, 1L, 2L)
      val rows = cdf.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getString(4), r.getLong(5))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      (cdf, rows)
    }
    val (cdf, plain) = feed("cdfplain", Seq("a", "b", "c"))
    assert(plain == Map((2L, 20L, "b", 6L, "delete", 2L) -> 1,
      (2L, 20L, "u", 6L, "insert", 2L) -> 1), plain.toString)
    // The netting replicates through a generator, never a per-row array.
    val plan = cdf.queryExecution.optimizedPlan
    assert(plan.exists {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate =>
        g.generator.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ReplicateRows]
      case _ => false
    }, plan.toString)
    assert(!plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Sequence]))), plan.toString)
    val (_, helper) = feed("cdfhelper", Seq("__side", "__net", "__dup"))
    assert(helper == plain, s"helper-named columns changed the feed: $helper")
  }

  test("both change feeds refuse a table with a column named like a change column") {
    val t = freshTable("cdfres")
    base.withColumnRenamed("s", "_change_type").writeTo(t)
      .tableProperty("dml", "dv").create()                             // gen 1
    spark.sql(s"DELETE FROM $t WHERE id < 10")                         // gen 2
    val batch = intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.changes(spark, root, "cdfres", 1L, 2L)
    }
    assert(batch.getMessage.contains("`_change_type` collides"), batch.getMessage)
    val stream = intercept[Exception] {
      val q = spark.readStream.table("gtest.`cdfres$changes`")
        .writeStream.format("memory").queryName("cdfres_sink")
        .option("checkpointLocation", tmpDir("cdfres_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    val causes = Iterator.iterate(stream: Throwable)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(e => e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("`_change_type` collides")), stream.toString)
  }

  test("property: the batch change feed equals the streamed one (seeded)") {
    // Random dml=dv histories of appends, DV deletes, delta updates and
    // DV-rewinding RESTOREs (to an earlier generation with the same files —
    // one that removes files cannot stream). changes(1, last) must equal, as
    // a multiset of (row, version, change type), what an AvailableNow drain
    // of `t$changes` emits after its snapshot batch.
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    for (seed <- Seq(11L, 12L, 13L)) {
      val rnd = new scala.util.Random(seed)
      val name = s"cdfsweep$seed"
      val t = freshTable(name)
      val dir = new Path(root, name)
      var nextId = 0L
      def rows(n: Int) = (0 until n).map { _ =>
        nextId += 1; (nextId, nextId % 3, rnd.nextInt(100).toLong) }.toDF("id", "k", "v")
      rows(40).writeTo(t).partitionedBy(col("k")).tableProperty("dml", "dv").create() // gen 1
      val ckpt = tmpDir(s"${name}_ckpt")
      val out = tmpDir(s"${name}_out")
      def drain(): Unit = {
        val q = spark.readStream.table(s"gtest.`$name$$changes`")
          .writeStream.option("checkpointLocation", ckpt).format("parquet")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        assert(q.awaitTermination(120000), s"seed $seed: drain timed out"); q.stop()
      }
      drain() // the snapshot batch
      def files(g: Long) = graft.sources.GraftManifest.load(dir, g, conf).entries.toSet
      val ops = scala.collection.mutable.ListBuffer.empty[String]
      for (_ <- 0 until 6 + rnd.nextInt(5)) {
        val cur = graft.sources.GraftManifest.currentGen(dir, conf)
        val rewinds = (1L until cur).filter(g => files(g) == files(cur))
        rnd.nextInt(4) match {
          case 0 => rows(1 + rnd.nextInt(10)).writeTo(t).append(); ops += "append"
          case 1 =>
            val m = 2 + rnd.nextInt(4)
            spark.sql(s"DELETE FROM $t WHERE id % $m = ${rnd.nextInt(m)}"); ops += s"delete%$m"
          case 2 =>
            spark.sql(s"UPDATE $t SET v = v + 1 WHERE k = ${rnd.nextInt(3)}"); ops += "update"
          case _ if rewinds.nonEmpty =>
            val g = rewinds(rnd.nextInt(rewinds.size))
            graft.sources.GraftCatalogOps.restore(spark, root, name, g); ops += s"restore$g"
          case _ => spark.sql(s"DELETE FROM $t WHERE v < 10"); ops += "delete<10"
        }
      }
      drain()
      val last = graft.sources.GraftManifest.currentGen(dir, conf)
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "k", "v", "_commit_version", "_change_type").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
          .toSeq.groupBy(identity).view.mapValues(_.size).toMap
      val streamed = bag(spark.read.parquet(out).where(col("_commit_version") > 1))
      val batch = bag(graft.sources.GraftCatalogOps.changes(spark, root, name, 1L, last))
      assert(batch == streamed, s"seed $seed (ops ${ops.mkString(",")}): batch feed " +
        s"$batch differs from the streamed feed $streamed")
      info(s"seed $seed: ${ops.mkString(",")} -> ${batch.values.sum} change rows")
    }
  }

  test("crashed CAS writer: a body-less claim never serves reads, never wedges, reaps stale") {
    import graft.sources.GraftManifest
    val t = freshTable("casheal")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val dir = new Path(root, "casheal")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val committed = GraftManifest.currentGen(dir, conf)
    // Simulate a writer that died between claim and body (the pre-round-7
    // failure shape): an EMPTY claim shell above the committed generation.
    val shell = new Path(dir, s"manifest-${committed + 1}.txt")
    fs.create(shell, true).close()
    // Reads are untouched: currentGen skips the incomplete claim.
    assert(GraftManifest.currentGen(dir, conf) == committed)
    assert(spark.table(t).count() == 300)
    // The reaper refuses fresh claims (could be a live writer mid-PUT on an
    // object store) and committed generations, reaps past the window.
    assert(!GraftManifest.reapStaleClaim(dir, committed + 1, conf, staleClaimMs = 60000L))
    assert(!GraftManifest.reapStaleClaim(dir, committed, conf, staleClaimMs = 0L))
    assert(GraftManifest.reapStaleClaim(dir, committed + 1, conf, staleClaimMs = 0L))
    assert(!fs.exists(shell), "reaped claim must be gone")
    // The table is un-wedged: the next commit claims the freed slot.
    base.limit(10).writeTo(t).append()
    assert(GraftManifest.currentGen(dir, conf) == committed + 1)
    assert(spark.table(t).count() == 310)
  }

  test("crashed CAS writer: a stale claim never blocks data commits (append, delta DELETE, stream epoch)") {
    import graft.sources.GraftManifest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshTable("casstale")
    base.writeTo(t).partitionedBy(col("pk")).tableProperty("dml", "dv").create()
    val dir = new Path(root, "casstale")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    // A writer that died between claim and body, well past the 30 s stale
    // window: every data commit path must reap it on its own and land.
    def plantStaleClaim(): Long = {
      val committed = GraftManifest.currentGen(dir, conf)
      val shell = new Path(dir, s"manifest-${committed + 1}.txt")
      fs.create(shell, true).close()
      fs.setTimes(shell, System.currentTimeMillis() - 120000L, -1L)
      committed
    }
    def assertLanded(committed: Long, rows: Long): Unit = {
      assert(GraftManifest.currentGen(dir, conf) == committed + 1)
      assert(GraftManifest.bodyComplete(dir, committed + 1, conf))
      assert(spark.table(t).count() == rows)
    }
    var committed = plantStaleClaim()
    base.limit(10).writeTo(t).append()
    assertLanded(committed, 310)
    committed = plantStaleClaim()
    spark.sql(s"DELETE FROM $t WHERE id < 5") // 5 base rows + 5 appended copies
    assertLanded(committed, 300)
    committed = plantStaleClaim()
    val in = MemoryStream[Long]
    in.addData(1000L until 1020L: _*)
    val q = in.toDF().select(col("value").as("id"),
        (col("value") % 3).as("pk"), concat(lit("v"), col("value")).as("s"))
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("casstale_cp")).toTable(t)
    assert(q.awaitTermination(120000), "streaming drain did not finish")
    q.stop()
    assertLanded(committed, 320)
    assert(spark.table(t).filter(col("id") >= 1000L).count() == 20)
  }

  test("CAS claims are content-atomic on the file scheme: visible => complete, no temp residue") {
    import graft.sources.GraftManifest
    val t = freshTable("casatomic")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val dir = new Path(root, "casatomic")
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
    assert(GraftManifest.publishCas(dir, cur.copy(gen = cur.gen + 1), conf))
    // The claim appeared via hard link of a fully-written body: complete the
    // instant it is visible, and the link source is cleaned up.
    assert(GraftManifest.bodyComplete(dir, cur.gen + 1, conf))
    val fs = dir.getFileSystem(conf)
    assert(fs.globStatus(new Path(dir, ".manifest-*.tmp-*")).isEmpty,
      "no claim temp files may survive a successful publish")
  }

  test("a regressed CURRENT pointer self-heals: reads derive from the claims") {
    import graft.sources.GraftManifest
    import java.nio.charset.StandardCharsets
    val t = freshTable("ptrheal")
    base.writeTo(t).partitionedBy(col("pk")).create()
    base.limit(50).writeTo(t).append()
    val dir = new Path(root, "ptrheal")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val latest = GraftManifest.currentGen(dir, conf)
    // Simulate the cross-process stale-writer race losing at the worst
    // moment: the pointer rolls back to an older generation.
    val out = fs.create(new Path(dir, "CURRENT"), true)
    try out.write("1".getBytes(StandardCharsets.UTF_8)) finally out.close()
    assert(GraftManifest.pointerGen(dir, conf) == 1L, "precondition: pointer regressed")
    // Readers never see the regression — the committed claims win …
    assert(GraftManifest.currentGen(dir, conf) == latest)
    assert(spark.table(t).count() == 350)
    // … and time travel by number still addresses every generation.
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $latest")
      .collect()(0).getLong(0) == 350)
    // The next commit repairs the cache for good.
    base.limit(10).writeTo(t).append()
    assert(GraftManifest.pointerGen(dir, conf) == latest + 1)
  }

  test("TIMESTAMP AS OF never resolves into an uncommitted claim") {
    import graft.sources.GraftManifest
    val t = freshTable("tsuncommitted")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val dir = new Path(root, "tsuncommitted")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val committed = GraftManifest.currentGen(dir, conf)
    Thread.sleep(30)
    // A crashed/in-flight writer's claim with a FRESHER mtime than any commit.
    fs.create(new Path(dir, s"manifest-${committed + 1}.txt"), true).close()
    Thread.sleep(30)
    // Resolving "now" must land on the committed generation, not the shell
    // (which would either read uncommitted state or fail to load).
    val nowTs = java.sql.Timestamp.from(java.time.Instant.now())
    val n = spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$nowTs'")
      .collect()(0).getLong(0)
    assert(n == 300, s"expected the committed snapshot, got $n rows")
    assert(GraftManifest.reapStaleClaim(dir, committed + 1, conf, staleClaimMs = 0L))
  }

  test("CHECK constraints resolve columns case-insensitively; true ambiguity refuses") {
    import org.apache.spark.sql.types.StructType
    // The analyzer default (spark.sql.caseSensitive=false): 'Cents >= 0'
    // binds to column 'cents'.
    val schema = StructType.fromDDL("id BIGINT, cents INT")
    graft.sources.GraftCheck.resolve("Cents >= 0 AND ID >= 0", schema)
    // Two columns differing only by case make a case-mismatched reference
    // ambiguous (an EXACT match always wins, so 'aa' itself still resolves).
    val dup = StructType.fromDDL("aa INT, aA INT, id BIGINT")
    graft.sources.GraftCheck.resolve("aa > 0", dup)
    val e = intercept[IllegalArgumentException] {
      graft.sources.GraftCheck.resolve("AA > 0", dup)
    }
    assert(e.getMessage.contains("ambiguous"), e.getMessage)
    // End to end: the case-mismatched constraint enforces on writes.
    val t = freshTable("checkci")
    spark.sql(s"CREATE TABLE $t (id BIGINT, cents INT) TBLPROPERTIES ('check' = 'Cents >= 0')")
    spark.sql(s"INSERT INTO $t VALUES (1, 5)")
    intercept[Exception] { spark.sql(s"INSERT INTO $t VALUES (2, -1)") }
    assert(spark.table(t).count() == 1)
  }

  test("default VACUUM spares fresh unreferenced files (concurrent-writer-safe by default)") {
    val t = freshTable("vacdefault")
    base.writeTo(t).partitionedBy(col("pk")).create()
    base.limit(30).writeTo(t).overwritePartitions()   // strands gen-1's files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(root, "vacdefault")
    val deadBefore = fs.globStatus(new Path(dir, "gen-1-*/pk=*/*.parquet")).length
    assert(deadBefore > 0)
    // No uncommittedGraceMs argument: the DEFAULT must be the safe hour, so a
    // seconds-old dead file — indistinguishable from an in-flight writer's
    // pre-commit data — survives.
    val (files, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "vacdefault", keepGens = 1)
    assert(files == 0, s"default vacuum must spare fresh files, reclaimed $files")
    // The explicit aggressive override reclaims them.
    val (files2, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "vacdefault",
      keepGens = 1, uncommittedGraceMs = 0)
    assert(files2 == deadBefore, s"expected $deadBefore reclaimed, got $files2")
  }

  test("targeted OPTIMIZE: minDeletedRatio rewrites DV-heavy files only, keeps light DVs") {
    import spark.implicits._
    val t = freshTable("optdv")
    (0L until 300L).map(i => (i, i % 3)).toDF("id", "pk")
      .writeTo(t).partitionedBy(col("pk"))
      .tableProperty("dml", "dv").create()
    // pk=0's single file gets 50% deleted; pk=1's 1%; pk=2 untouched.
    spark.sql(s"DELETE FROM $t WHERE pk = 0 AND id % 2 = 0")
    spark.sql(s"DELETE FROM $t WHERE pk = 1 AND id = 1")
    val dir = new Path(root, "optdv")
    val hconf = spark.sparkContext.hadoopConfiguration
    def manifest = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, hconf), hconf)
    val before = manifest
    val pk1FileBefore = before.entries.collect { case ("pk=1", rel) => rel }
    val pk0FileBefore = before.entries.collect { case ("pk=0", rel) => rel }
    val expected = spark.table(t).select("id", "pk").as[(Long, Long)].collect().toSet
    val (fb, dvb, fa, dva) = graft.sources.GraftCatalogOps.optimize(
      spark, t, root, "optdv", minDeletedRatio = 0.2)
    assert((fb, dvb, fa, dva) == (3L, 2L, 3L, 1L),
      s"expected 3 files/2 DVs -> 3 files/1 DV, got ($fb,$dvb,$fa,$dva)")
    val after = manifest
    // The 50%-deleted pk=0 file was REPLACED (fresh rel, no DV); the
    // 1%-deleted pk=1 file SURVIVED byte-identical with its DV intact.
    val pk0After = after.entries.collect { case ("pk=0", rel) => rel }
    assert(pk0After.nonEmpty && pk0After.toSet.intersect(pk0FileBefore.toSet).isEmpty,
      "DV-heavy file must be rewritten")
    assert(pk0After.forall(rel => !after.fileDVs.contains(rel)),
      "rewritten files must carry no deletion vectors")
    assert(after.entries.collect { case ("pk=1", rel) => rel } == pk1FileBefore,
      "lightly-deleted file must survive untouched")
    assert(pk1FileBefore.forall(after.fileDVs.contains),
      "surviving file keeps its deletion vector")
    // Content identical before/after — the pass moved bytes, never rows.
    assert(spark.table(t).select("id", "pk").as[(Long, Long)].collect().toSet == expected)
    // Below-threshold table: the pass is a metadata no-op (no commit at all).
    val genBefore = graft.sources.GraftManifest.currentGen(dir, hconf)
    val (_, _, fa2, dva2) = graft.sources.GraftCatalogOps.optimize(
      spark, t, root, "optdv", minDeletedRatio = 0.2)
    assert(graft.sources.GraftManifest.currentGen(dir, hconf) == genBefore,
      "nothing qualifies: targeted optimize must not commit")
    assert((fa2, dva2) == (3L, 1L))
  }

  test("OPTIMIZE ZORDER on a partitioned table: per-partition tiles, both axes skip") {
    import spark.implicits._
    val t = freshTable("zpart")
    // Uniform 64x64 grid per partition; 3 partitions.
    (0L until 3000L).map { i =>
      (i, i % 3, (i * 2654435761L % 64L), (i * 40503L % 64L))
    }.toDF("id", "pk", "x", "y").writeTo(t).partitionedBy(col("pk")).create()
    val expected = spark.table(t).select("id").as[Long].collect().toSet
    val (_, nFiles) = graft.sources.GraftCatalogOps.optimizeZorder(
      spark, t, root, "zpart", "x", "y", numFiles = 24)
    assert(nFiles >= 12, s"expected >= 12 tiles across 3 partitions, got $nFiles")
    val dir = new Path(root, "zpart")
    val hconf = spark.sparkContext.hadoopConfiguration
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, hconf), hconf)
    // Every tile lives under exactly one partition directory (the rewrite
    // kept the table partitioned), and within each partition the tiles'
    // MORTON ranges are disjoint (the z-layout contract: recompute each
    // file's zkey interval from its x/y bounds is not possible from stats
    // alone, so pin disjointness on the stronger observable — per-partition
    // (min x,y)-(max x,y) boxes of distinct tiles never all-overlap — via
    // the skip proofs below, and structurally: >= 2 tiles per partition).
    val byPart = m.entries.groupBy(_._1)
    assert(byPart.keySet == Set("pk=0", "pk=1", "pk=2"),
      s"partition dirs must survive the rewrite, got ${byPart.keySet}")
    assert(byPart.values.forall(_.size >= 2),
      "each partition must be carved into multiple z-tiles")
    // Both single-axis probes prune files inside the partitioned table.
    import org.apache.spark.sql.sources.LessThan
    val (skipX, total) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, root, "zpart", Array(LessThan("x", 16L)))
    val (skipY, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, root, "zpart", Array(LessThan("y", 16L)))
    assert(skipX >= 3 && skipY >= 3,
      s"both axes must prune (skipX=$skipX skipY=$skipY of $total)")
    // Lossless: same rows, and partition pruning still works.
    assert(spark.table(t).select("id").as[Long].collect().toSet == expected)
    assert(spark.table(t).filter(col("pk") === 1).count() == 1000)
  }

  test("named CHECK constraints: add via ALTER, violations name the constraint, drop releases") {
    import spark.implicits._
    val t = freshTable("chknamed")
    (0L until 50L).map(i => (i, i % 3)).toDF("id", "pk")
      .writeTo(t)
      .tableProperty("check", "id >= 0")
      .tableProperty("check.small", "id < 1000").create()
    // Violating a NAMED constraint names it in the error.
    val ex = intercept[Exception] {
      Seq((5000L, 0L)).toDF("id", "pk").writeTo(t).append()
    }
    assert(serializedCauses(ex).exists(m =>
      m.contains("CHECK constraint small") && m.contains("id < 1000")), ex.toString)
    // ADD CONSTRAINT surface: SET TBLPROPERTIES validates against the schema
    // at ALTER time (bad SQL fails the ALTER, not the next write) …
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('check.bad'='nope > 0')")
    }
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('check.even'='id % 2 = 0')")
    // … and the new constraint enforces alongside the existing two.
    val ex2 = intercept[Exception] {
      Seq((7L, 1L)).toDF("id", "pk").writeTo(t).append()
    }
    assert(serializedCauses(ex2).exists(_.contains("CHECK constraint even")), ex2.toString)
    Seq((8L, 2L)).toDF("id", "pk").writeTo(t).append()
    // DROP CONSTRAINT surface: UNSET releases exactly the named constraint.
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('check.even')")
    Seq((7L, 1L)).toDF("id", "pk").writeTo(t).append()
    val ex3 = intercept[Exception] {
      Seq((5000L, 0L)).toDF("id", "pk").writeTo(t).append()
    }
    assert(serializedCauses(ex3).exists(_.contains("CHECK constraint small")),
      "remaining named constraint must still enforce")
    assert(spark.table(t).count() == 52)
  }

  test("CALL procedures: the maintenance surface is SQL-reachable with named args and defaults") {
    import spark.implicits._
    val t = freshTable("proc")
    (0L until 120L).map(i => (i, i % 3)).toDF("id", "pk")
      .writeTo(t).partitionedBy(col("pk")).tableProperty("dml", "dv").create()
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 0 AND pk = 0") // 50% DV debt in pk=0
    // tag + untag round trip, named args.
    val tagged = spark.sql(
      "CALL gtest.system.tag(table => 'proc', name => 'v-one', version => 1)")
      .as[Boolean].collect()
    assert(tagged.toSeq == Seq(true))
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'v-one'")
      .as[Long].head == 120L)
    // optimize via CALL: DV-targeted (positional + default composition).
    val opt = spark.sql(
      "CALL gtest.system.optimize(table => 'proc', min_deleted_ratio => 0.2)")
      .as[(Long, Long, Long, Long)].head
    assert(opt._2 == 1L && opt._4 == 0L, s"DV should compact away, got $opt")
    assert(spark.table(t).count() == 100L)
    // clone via CALL, then restore the clone back after divergence.
    spark.sql("DROP TABLE IF EXISTS gtest.proc2")
    val cg = spark.sql(
      "CALL gtest.system.clone(source => 'proc', target => 'proc2')")
      .as[Long].head
    assert(cg == 0L)
    spark.sql("DELETE FROM gtest.proc2 WHERE pk = 1")
    assert(spark.table("gtest.proc2").count() < 100L)
    spark.sql("CALL gtest.system.restore(table => 'proc2', version => 0)")
    assert(spark.table("gtest.proc2").count() == 100L)
    // vacuum via CALL with the aggressive override; defaulted keep_gens.
    val vac = spark.sql(
      "CALL gtest.system.vacuum(table => 'proc', grace_ms => 0)")
      .as[(Long, Long)].head
    assert(vac._1 >= 1L, s"optimize left dead files to reclaim, got $vac")
    assert(spark.table(t).count() == 100L)
    // unknown procedure errors with the known list.
    val ex = intercept[Exception] { spark.sql("CALL gtest.system.nope()") }
    assert(ex.getMessage.contains("nope"))
  }

  test("ADD COLUMN of a renamed column's old name maps to a FRESH physical column") {
    // rename a->b keeps physical.b = a with NO drop tombstone; a later
    // ADD COLUMN a must NOT resolve physically to 'a' — old files would
    // resurrect b's historical bytes as the new column's values and new
    // writes would emit two fields sharing one physical name.
    import spark.implicits._
    val t = freshTable("renadd")
    (0L until 50L).map(i => (i, i * 3)).toDF("id", "a").coalesce(1)
      .writeTo(t).create()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN a TO b")
    spark.sql(s"ALTER TABLE $t ADD COLUMN a BIGINT")
    // Pre-ADD rows: b keeps its values, the new a answers NULL everywhere.
    assert(spark.table(t).filter(col("b").isNotNull).count() === 50L)
    assert(spark.table(t).filter(col("a").isNotNull).count() === 0L,
      "old files resurrected the renamed column's bytes under the new name")
    // Post-ADD writes carry both independently.
    Seq((1000L, 7L, 9L)).toDF("id", "b", "a").writeTo(t).append()
    val r = spark.table(t).filter(col("id") === 1000L)
      .select("b", "a").as[(Long, Long)].head()
    assert(r === ((7L, 9L)))
    assert(spark.table(t).agg(sum(col("a"))).as[Long].head === 9L)
  }

  test("RENAME COLUMN: zero-rewrite column mapping; stats, filters, writes and travel follow") {
    import spark.implicits._
    val t = freshTable("ren")
    def band(b: Long) = (b * 100L until (b + 1) * 100L).map(i => (i, s"v$i"))
      .toDF("id", "s").coalesce(1)
    band(0).writeTo(t).tableProperty("dml", "dv").create()
    band(1).writeTo(t).append()
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.globStatus(new Path(new Path(root, "ren"), "gen-*/*.parquet"))
      .map(st => (st.getPath.toString, st.getModificationTime, st.getLen)).toSet
    val before = dataFiles()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN id TO item_id")
    // Metadata-only: not one data file moved, rewrote, or changed size.
    assert(dataFiles() == before)
    // Reads resolve the NEW name against the OLD physical footers.
    assert(spark.table(t).agg(org.apache.spark.sql.functions.sum("item_id"))
      .head.getLong(0) == (0L until 200L).sum)
    intercept[Exception] { spark.table(t).select("id").collect() }
    // File-stat pruning follows the rename (stats are keyed physically).
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    def manifest() = {
      val conf = spark.sessionState.newHadoopConf()
      val dir = new Path(root, "ren")
      graft.sources.GraftManifest.load(dir,
        graft.sources.GraftManifest.currentGen(dir, conf), conf)
    }
    assert(graft.sources.GraftCatalogOps.mayTouch(manifest(),
      Array(LessThan("item_id", 50L))).size == 1)
    assert(spark.table(t).filter(col("item_id") < 50).count() == 50)
    // Writes after the rename keep the PHYSICAL footer name, so old and new
    // files stay uniformly keyed: the new band is stats-prunable too.
    Seq((200L, "v200")).toDF("item_id", "s").writeTo(t).append()
    assert(spark.table(t).count() == 201)
    assert(graft.sources.GraftCatalogOps.mayTouch(manifest(),
      Array(EqualTo("item_id", 200L))).size == 1)
    // Row-level DML addresses the new name; time travel keeps each
    // generation's OWN schema (pre-rename snapshots read as `id`).
    spark.sql(s"DELETE FROM $t WHERE item_id = 150")
    assert(spark.table(t).count() == 200)
    val old = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
    assert(old.columns.contains("id") && !old.columns.contains("item_id"))
    assert(old.count() == 200)
    // A second rename chains through to the ORIGINAL physical name.
    spark.sql(s"ALTER TABLE $t RENAME COLUMN item_id TO thing")
    assert(spark.table(t).filter(col("thing") === 42L).count() == 1)
    // Refusals: unknown column, collision, partition column.
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN nope TO x") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN thing TO s") }
    val tp = freshTable("renpart")
    band(0).writeTo(tp).partitionedBy(col("id")).create()
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tp RENAME COLUMN id TO pid") }
  }

  test("DROP COLUMN: zero-rewrite, re-ADD maps fresh (no resurrection), travel keeps old schema") {
    import spark.implicits._
    val t = freshTable("dropc")
    def band(b: Long) = (b * 100L until (b + 1) * 100L).map(i => (i, i * 10L, s"v$i"))
      .toDF("id", "bonus", "s").coalesce(1)
    band(0).writeTo(t).tableProperty("dml", "dv").create()          // gen 1
    band(1).writeTo(t).append()                                     // gen 2
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.globStatus(new Path(new Path(root, "dropc"), "gen-*/*.parquet"))
      .map(st => (st.getPath.toString, st.getModificationTime, st.getLen)).toSet
    val before = dataFiles()
    spark.sql(s"ALTER TABLE $t DROP COLUMN bonus")                  // gen 3
    // Metadata-only: not one data file moved, rewrote, or changed size.
    assert(dataFiles() == before)
    assert(!spark.table(t).columns.contains("bonus"))
    intercept[Exception] { spark.table(t).select("bonus").collect() }
    assert(spark.table(t).count() == 200)
    // Time travel to a pre-drop generation reads the column through THAT
    // generation's schema — drop is never retroactive.
    val old = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
    assert(old.columns.contains("bonus"))
    assert(old.agg(sum(col("bonus"))).head.getLong(0) == (0L until 200L).map(_ * 10).sum)
    // Re-ADD with the SAME name: the tombstone forces a fresh physical
    // column, so existing files answer NULL — the dropped values must NOT
    // resurrect (the column-mapping guarantee this feature exists for).
    spark.sql(s"ALTER TABLE $t ADD COLUMN bonus BIGINT")            // gen 4
    assert(spark.table(t).filter(col("bonus").isNotNull).count() == 0,
      "dropped data resurrected through a re-added same-name column")
    // Post-add writes carry real values under the fresh physical name.
    Seq((500L, 7L, "x")).toDF("id", "bonus", "s").writeTo(t).append() // gen 5
    assert(spark.table(t).filter(col("bonus").isNotNull).count() == 1)
    assert(spark.table(t).agg(sum(col("bonus"))).head.getLong(0) == 7L)
    // Drop/re-add a second time: still no resurrection of EITHER vintage.
    spark.sql(s"ALTER TABLE $t DROP COLUMN bonus")                  // gen 6
    spark.sql(s"ALTER TABLE $t ADD COLUMN bonus BIGINT")            // gen 7
    assert(spark.table(t).filter(col("bonus").isNotNull).count() == 0)
    // Row-level DML keeps working across the mapping (DV delete).
    spark.sql(s"DELETE FROM $t WHERE id = 500")
    assert(spark.table(t).count() == 200)
    // Refusals: partition column, last column, engine-managed tombstones.
    val tp = freshTable("dropp")
    band(0).writeTo(tp).partitionedBy(col("id")).create()
    intercept[Exception] { spark.sql(s"ALTER TABLE $tp DROP COLUMN id") }
    val t1 = freshTable("droplast")
    Seq(1L).toDF("only").writeTo(t1).create()
    intercept[Exception] { spark.sql(s"ALTER TABLE $t1 DROP COLUMN only") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('dropped.x'='1')") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('dropped.bonus')") }
  }

  test("generated columns: DDL validation, every-write-path invariant, auto-compute") {
    import spark.implicits._
    val t = freshTable("gencol")
    def df(rows: (Long, Long)*) = rows.toDF("id", "twice")
    // DDL validation: unknown column, type mismatch, gen-referencing-gen all
    // fail the CREATE, not the first write.
    intercept[Exception] {
      df().writeTo(s"${t}_bad").tableProperty("generate.nope", "id * 2").create()
    }
    intercept[Exception] {
      df().writeTo(s"${t}_bad").tableProperty("generate.twice", "id * 2.5").create()
    }
    df((1L, 2L)).writeTo(t).tableProperty("dml", "dv")
      .tableProperty("generate.twice", "id * 2").create()
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('generate.id'='twice / 2')")
    }
    // Batch append with a WRONG provided value rejects the whole commit.
    val n0 = spark.table(t).count()
    intercept[Exception] { df((5L, 11L)).writeTo(t).append() }
    assert(spark.table(t).count() == n0, "rejected write must land zero rows")
    df((5L, 10L)).writeTo(t).append()
    // Delta DV UPDATE path: the update's re-inserted row is judged too.
    intercept[Exception] { spark.sql(s"UPDATE $t SET twice = 99 WHERE id = 5") }
    spark.sql(s"UPDATE $t SET twice = 10 WHERE id = 5") // agreeing update passes
    // Auto-compute: a frame WITHOUT the generated column gets it derived.
    graft.sources.GraftCatalogOps.insertGenerated(spark, t, root, "gencol",
      Seq(7L, 8L).toDF("id"))
    assert(spark.table(t).select("id", "twice").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (5L, 10L), (7L, 14L), (8L, 16L)))
    // ALTER can add a generation rule for a later-added column.
    spark.sql(s"ALTER TABLE $t ADD COLUMN thrice BIGINT")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('generate.thrice'='id * 3')")
    intercept[Exception] {
      Seq((9L, 18L, 0L)).toDF("id", "twice", "thrice").writeTo(t).append()
    }
    graft.sources.GraftCatalogOps.insertGenerated(spark, t, root, "gencol",
      Seq((9L, 18L)).toDF("id", "twice"))
    assert(spark.table(t).filter(col("id") === 9L)
      .select("thrice").as[Long].collect().toSeq == Seq(27L))
  }

  test("shallow clone: metadata-only, inherited DVs, independent divergence, vacuum contract") {
    import spark.implicits._
    val src = freshTable("clsrc")
    spark.sql("DROP TABLE IF EXISTS gtest.cldst")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "cldst"), true)
    // `dvaggs=true`: the post-vacuum leg below pins that the clone's COUNT
    // stays metadata-only (DV aggregates recorded at delete time) even after
    // the source's bytes are reclaimed — that property is now opt-in.
    (0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(2).writeTo(src).tableProperty("dml", "dv")
      .tableProperty("dvaggs", "true").create()
    spark.sql(s"DELETE FROM $src WHERE id = 5") // a source DV the clone must inherit
    graft.sources.GraftCatalogOps.cloneTable(spark, root, "clsrc", "cldst")
    def files(t: String) = Option(fs.globStatus(new Path(new Path(root, t), "gen-*")))
      .getOrElse(Array.empty).flatMap { g =>
        val it = fs.listFiles(g.getPath, true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().getPath.toString
        b.result()
      }.toSet
    // Metadata-only: the clone's directory holds no data bytes at all.
    assert(files("cldst").isEmpty, s"clone copied data: ${files("cldst")}")
    // Identical content, DV included.
    assert(spark.table("gtest.cldst").count() == 199)
    assert(spark.table("gtest.cldst").filter(col("id") === 5).count() == 0)
    // Divergence: DV DML against an INHERITED (absolute-path) file plus an
    // append — both land under the CLONE's dirs, the source is untouched.
    val srcFilesBefore = files("clsrc")
    spark.sql("DELETE FROM gtest.cldst WHERE id = 7")
    Seq((1000L, "new")).toDF("id", "s").writeTo("gtest.cldst").append()
    assert(spark.table("gtest.cldst").count() == 199) // -1 DV'd, +1 appended
    assert(spark.table("gtest.cldst").filter(col("id") === 7).count() == 0)
    assert(files("clsrc") == srcFilesBefore, "clone DML wrote into the source dir")
    assert(spark.table(src).filter(col("id") === 7).count() == 1)
    // The clone's VACUUM walks only its own gen dirs: inherited source
    // files are structurally un-reclaimable by it.
    graft.sources.GraftCatalogOps.vacuum(spark, root, "cldst",
      keepGens = 1, uncommittedGraceMs = 0)
    assert(spark.table("gtest.cldst").count() == 199)
    assert(spark.table(src).count() == 199)
    // The Delta-documented hazard, honestly pinned: source rewrite + source
    // vacuum reclaims bytes only the clone references -> clone fails LOUDLY.
    graft.sources.GraftCatalogOps.optimize(spark, src, root, "clsrc")
    graft.sources.GraftCatalogOps.vacuum(spark, root, "clsrc",
      keepGens = 1, uncommittedGraceMs = 0)
    assert(spark.table(src).count() == 199, "source itself stays intact")
    // Metadata-only aggregates survive (the manifest still knows the live
    // row count — DV aggregates included, no bytes needed)...
    assert(spark.table("gtest.cldst").count() == 199)
    // ...but any read that must OPEN the reclaimed bytes fails loudly.
    intercept[Exception] {
      spark.table("gtest.cldst").agg(sum(col("id") * col("id"))).collect()
    }
  }

  test("clone propsOverride lands on the clone only; CoW DML and OPTIMIZE stay clone-scoped") {
    // The clone-seeded bench queries fork memoized seeds and run CoW
    // rewrites / compaction on the fork — this pins the posture they rely
    // on: replaced files are dropped from the CLONE's manifest, never
    // deleted from the source dir, and a props override is invisible to the
    // source.
    import spark.implicits._
    val src = freshTable("cowsrc")
    spark.sql("DROP TABLE IF EXISTS gtest.cowdst")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "cowdst"), true)
    (0L until 120L).map(i => (i, i * 3 % 7)).toDF("id", "v")
      .coalesce(3).writeTo(src).tableProperty("keep", "inherited").create()
    def srcState() = {
      val it = fs.listFiles(new Path(root, "cowsrc"), true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += ((f.getPath.toString, f.getLen)) }
      b.result().toSet
    }
    val before = srcState()
    graft.sources.GraftCatalogOps.cloneTable(spark, root, "cowsrc", "cowdst",
      Map("note" -> "fork"))
    val conf = spark.sessionState.newHadoopConf()
    def props(t: String) = graft.sources.GraftManifest.load(new Path(root, t),
      graft.sources.GraftManifest.currentGen(new Path(root, t), conf), conf).props
    assert(props("cowdst").get("note").contains("fork"), "override must land")
    assert(props("cowdst").get("keep").contains("inherited"),
      "non-overridden props must inherit")
    assert(!props("cowsrc").contains("note"), "override must not leak to source")
    // CoW UPDATE + MERGE rewrite inherited files; OPTIMIZE compacts them —
    // all into the clone's own dirs.
    spark.sql("UPDATE gtest.cowdst SET v = v + 100 WHERE id % 2 = 0")
    Seq((5L, 0L), (2000L, 1L)).toDF("id", "v").createOrReplaceTempView("cow_src")
    spark.sql(
      """MERGE INTO gtest.cowdst t USING cow_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    graft.sources.GraftCatalogOps.optimize(spark, "gtest.cowdst", root, "cowdst")
    assert(spark.table("gtest.cowdst").count() == 121)
    assert(srcState() == before,
      "CoW DML / OPTIMIZE on the clone touched source bytes")
    // And the source still answers its original content.
    assert(spark.table(src).count() == 120)
    assert(spark.table(src).filter(col("v") >= 100).count() == 0)
  }

  test("replaceWhere: stats-pruned surgical rewrite, write invariant, DV merge, fallback") {
    import spark.implicits._
    val t = freshTable("rw")
    // 3 id-banded files with disjoint stats, dv-mode for the DV interaction leg.
    def band(b: Long) = (b * 100L until (b + 1) * 100L).map(i => (i, s"v$i"))
      .toDF("id", "s").coalesce(1)
    band(0).writeTo(t).tableProperty("dml", "dv").create()
    band(1).writeTo(t).append()
    band(2).writeTo(t).append()
    val dir = new Path(root, "rw")
    val conf = spark.sessionState.newHadoopConf()
    def manifest() = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    // A DV delete inside the target band: the survivor read must MERGE it —
    // the dead row must not resurrect through the rewrite.
    spark.sql(s"DELETE FROM $t WHERE id = 150")
    val before = manifest()
    // Write invariant: data outside the predicate refuses, nothing commits.
    val ex = intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.replaceWhere(spark, t, root, "rw",
        "id >= 100 AND id < 200", Seq((999L, "x")).toDF("id", "s"))
    }
    assert(ex.getMessage.contains("not satisfying"))
    assert(manifest().gen == before.gen, "refused replaceWhere must not commit")
    // The real replace: band 1 rows become 50 fresh rows (ids 100-149).
    val fresh = (100L until 150L).map(i => (i, s"NEW$i")).toDF("id", "s")
    val (cand, total) = graft.sources.GraftCatalogOps.replaceWhere(
      spark, t, root, "rw", "id >= 100 AND id < 200", fresh)
    assert(total == 3L && cand == 1L,
      s"min/max stats must prune to the one banded file, got $cand/$total")
    val after = manifest()
    assert(after.gen == before.gen + 1, "one atomic commit")
    // Surgical: the two out-of-band files survive with identical rel paths.
    val removed = before.entries.map(_._2).toSet -- after.entries.map(_._2).toSet
    assert(removed.size == 1)
    assert(before.entries.filterNot(e => removed(e._2)).forall(after.entries.toSet))
    // Content: bands 0/2 intact, band 1 replaced (DV'd row 150 NOT resurrected).
    val ids = spark.table(t).select("id").as[Long].collect().toSet
    assert(ids == ((0L until 100L) ++ (100L until 150L) ++ (200L until 300L)).toSet)
    assert(spark.table(t).filter(col("s").startsWith("NEW")).count() == 50)
    assert(spark.table(t).filter(col("id") === 150L).count() == 0)
    // Untranslatable predicate (modulo): sound fallback — all files candidate,
    // result still exact.
    val (cand2, total2) = graft.sources.GraftCatalogOps.replaceWhere(
      spark, t, root, "rw", "id % 100 = 0",
      Seq((0L, "Z0"), (100L, "Z100"), (200L, "Z200")).toDF("id", "s"))
    assert(cand2 == total2, "untranslatable predicate must fall back to all files")
    assert(spark.table(t).filter(col("s").startsWith("Z")).count() == 3)
    assert(spark.table(t).count() == 250)
  }

  test("VACUUM DRY RUN: predicts the exact reclaim, touches nothing") {
    import spark.implicits._
    val t = freshTable("vdry")
    (0L until 100L).map(i => (i, i % 2)).toDF("id", "pk").writeTo(t).create()
    spark.sql(s"TRUNCATE TABLE $t")                 // gen 2: gen-1 files dead
    val dir = new Path(root, "vdry")
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    def nFiles() = fs.globStatus(new Path(dir, "gen-*/*/*.parquet")).length +
      fs.globStatus(new Path(dir, "gen-*/*.parquet")).length
    val filesBefore = nFiles()
    assert(filesBefore > 0)
    val dry = spark.sql("CALL gtest.system.vacuum(table => 'vdry', " +
      "grace_ms => 0, dry_run => true)").as[(Long, Long)].head
    assert(dry._1 > 0L && dry._2 > 0L, s"dry run must predict a reclaim: $dry")
    assert(nFiles() == filesBefore, "dry run must delete nothing")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 1").as[Long].head == 100L,
      "time travel intact after dry run")
    // The real vacuum reclaims EXACTLY what the dry run predicted.
    val real = spark.sql("CALL gtest.system.vacuum(table => 'vdry', " +
      "grace_ms => 0)").as[(Long, Long)].head
    assert(real == dry, s"dry-run prediction $dry != actual reclaim $real")
    assert(nFiles() == filesBefore - dry._1.toInt)
  }

  test("OPTIMIZE WHERE: compaction scoped to the predicate's partitions, rest untouched") {
    import spark.implicits._
    val t = freshTable("optw")
    // Two partitions, each fragmented into 3 small files by 3 appends.
    def slab(lo: Long) = (lo until lo + 50L).map(i => (i, i % 2)).toDF("id", "pk")
    slab(0).writeTo(t).partitionedBy(col("pk")).tableProperty("dml", "dv").create()
    slab(50).writeTo(t).append()
    slab(100).writeTo(t).append()
    val dir = new Path(root, "optw")
    val conf = spark.sessionState.newHadoopConf()
    def manifest() = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    def filesOf(pk: Long) = manifest().entries.filter(_._1 == s"pk=$pk").map(_._2).toSet
    val pk0Before = filesOf(0L); val pk1Before = filesOf(1L)
    assert(pk0Before.size == 3 && pk1Before.size == 3)
    // A DV on pk=1 proves the scoped rewrite materializes it away.
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    val r = spark.sql(
      "CALL gtest.system.optimize(table => 'optw', where => 'pk = 1')")
      .as[(Long, Long, Long, Long)].head
    assert(r._2 == 1L && r._4 == 0L, s"scoped optimize must clear pk=1's DV: $r")
    assert(filesOf(0L) === pk0Before, "out-of-scope partition rides forward untouched")
    assert(filesOf(1L).size == 1 && filesOf(1L).intersect(pk1Before).isEmpty,
      "in-scope partition compacts to fresh file(s)")
    assert(spark.table(t).count() == 149L)
    assert(spark.table(t).filter(col("pk") === 1L).agg(sum(col("id")))
      .as[Long].head == (0L until 150L).filter(i => i % 2 == 1 && i != 1L).sum)
    // Composition with the DV-debt heuristic: a scoped call with a ratio no
    // file meets rewrites nothing.
    val gen = graft.sources.GraftManifest.currentGen(dir, conf)
    spark.sql("CALL gtest.system.optimize(table => 'optw', " +
      "min_deleted_ratio => 0.9, where => 'pk = 0')").collect()
    assert(graft.sources.GraftManifest.currentGen(dir, conf) == gen,
      "nothing qualified — nothing published")
  }

  test("COPY INTO: per-file exactly-once across re-runs, new files load, drift refuses") {
    import spark.implicits._
    val t = freshTable("cpin")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    val land = tmpDir("graft_land")
    def drop(name: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite")
        .parquet(s"$land/stage_$name")
    def promote(name: String): Unit = {
      val fs = new Path(land).getFileSystem(spark.sessionState.newHadoopConf())
      val part = fs.globStatus(new Path(s"$land/stage_$name/part-*.parquet"))(0).getPath
      fs.rename(part, new Path(s"$land/$name.parquet"))
      fs.delete(new Path(s"$land/stage_$name"), true)
    }
    drop("a", Seq((1L, 10L), (2L, 20L))); promote("a")
    drop("b", Seq((3L, 30L))); promote("b")
    val r1 = spark.sql(
      s"CALL gtest.system.copy_into(table => 'cpin', path => '$land')")
      .as[(Long, Long)].head
    assert(r1 == ((2L, 0L)), s"first copy loads both files, got $r1")
    assert(spark.table(t).count() == 3L)
    // Blind re-run: nothing loads, nothing publishes.
    val dir = new Path(root, "cpin")
    val conf = spark.sessionState.newHadoopConf()
    val genBefore = graft.sources.GraftManifest.currentGen(dir, conf)
    val r2 = spark.sql(
      s"CALL gtest.system.copy_into(table => 'cpin', path => '$land')")
      .as[(Long, Long)].head
    assert(r2 == ((0L, 2L)) && spark.table(t).count() == 3L)
    assert(graft.sources.GraftManifest.currentGen(dir, conf) == genBefore)
    // A new landing file loads alone; the old two stay skipped.
    drop("c", Seq((4L, 40L), (5L, 50L))); promote("c")
    val r3 = spark.sql(
      s"CALL gtest.system.copy_into(table => 'cpin', path => '$land')")
      .as[(Long, Long)].head
    assert(r3 == ((1L, 2L)))
    assert(spark.table(t).as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L)))
    // The markers ride the snapshot's own ledger, listed by the $txns twin.
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.txns.count(_.startsWith("copy:")) == 3)
    assert(spark.sql(s"SELECT count(*) FROM gtest.`cpin$$txns` WHERE kind = 'copy'")
      .collect()(0).getLong(0) == 3L)
    // CSV arm with enforced schema.
    val t2 = freshTable("cpin2")
    spark.sql(s"CREATE TABLE $t2 (id BIGINT, v BIGINT)")
    val land2 = tmpDir("graft_land2")
    java.nio.file.Files.write(java.nio.file.Paths.get(land2, "x.csv"),
      "id,v\n7,70\n8,80\n".getBytes)
    val rc = spark.sql(s"CALL gtest.system.copy_into(table => 'cpin2', " +
      s"path => '$land2', format => 'csv')").as[(Long, Long)].head
    assert(rc == ((1L, 0L)))
    assert(spark.table(t2).as[(Long, Long)].collect().toSet ===
      Set((7L, 70L), (8L, 80L)))
  }

  test("column DEFAULTs: existing files answer the existence default, zero rewrite") {
    import spark.implicits._
    val t = freshTable("defs")
    (0L until 100L).map(i => (i, i % 3)).toDF("id", "pk").coalesce(1)
      .writeTo(t).create()                                            // gen 0+1
    val dir = new Path(root, "defs")
    val conf = spark.sessionState.newHadoopConf()
    def manifest() = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    val entriesBefore = manifest().entries.toSet
    spark.sql(s"ALTER TABLE $t ADD COLUMN bonus BIGINT DEFAULT 6 + 1")
    assert(manifest().entries.toSet === entriesBefore, "ALTER rewrites nothing")
    // Existence default: every pre-ALTER row answers 7, not NULL.
    assert(spark.table(t).filter(col("bonus") === 7L).count() == 100L)
    assert(spark.table(t).filter(col("bonus").isNull).count() == 0L)
    // A later file that CARRIES the column keeps stored values incl. NULL.
    Seq((100L, 1L, Some(5L)), (101L, 2L, None: Option[Long]))
      .toDF("id", "pk", "bonus").coalesce(1).writeTo(t).append()
    val got = spark.table(t).filter(col("id") >= 100L)
      .select("id", "bonus").as[(Long, Option[Long])].collect().toMap
    assert(got(100L).contains(5L) && got(101L).isEmpty,
      "explicit values and NULLs in newer files survive the default")
    // Write-side current default: INSERT omitting the column fills it.
    spark.sql(s"INSERT INTO $t (id, pk) VALUES (102, 0)")
    spark.sql(s"INSERT INTO $t VALUES (103, 0, DEFAULT)")
    assert(spark.table(t).filter(col("id") >= 102L)
      .select("bonus").as[Long].collect().toSeq == Seq(7L, 7L))
    // Aggregate over the mixed generations is exact.
    assert(spark.table(t).agg(sum(col("bonus"))).as[Long].head ==
      100L * 7 + 5 + 7 + 7)
    // RENAME keeps the default wired to the column.
    spark.sql(s"ALTER TABLE $t RENAME COLUMN bonus TO extra")
    assert(spark.table(t).filter(col("extra") === 7L).count() == 102L)
    // CREATE TABLE with an inline DEFAULT takes the same path.
    spark.sql("DROP TABLE IF EXISTS gtest.defs2")
    spark.sql("CREATE TABLE gtest.defs2 (id BIGINT, tier STRING DEFAULT 'basic')")
    spark.sql("INSERT INTO gtest.defs2 (id) VALUES (1)")
    assert(spark.table("gtest.defs2").select("tier").as[String].head == "basic")
    // Non-constant defaults refuse at DDL time.
    val ex = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMN r DOUBLE DEFAULT rand()")
    }
    assert(ex.getMessage.toLowerCase.contains("constant") ||
      ex.getMessage.toLowerCase.contains("deterministic"), ex.getMessage)
  }

  test("materialized views: delta-only refresh matches full recompute; replay is a no-op") {
    import spark.implicits._
    val t = freshTable("mvsrc")
    spark.sql("DROP TABLE IF EXISTS gtest.mv1")
    (0L until 300L).map(i => (i, i % 3, i % 7)).toDF("id", "pk", "v")
      .writeTo(t).tableProperty("dml", "dv").create()                 // gen 1
    val g0 = spark.sql(
      "CALL gtest.system.create_mview(source => 'mvsrc', name => 'mv1', " +
        "keys => 'pk', sum_col => 'v')").as[Long].head
    assert(g0 == 1L)
    def full() = spark.table(t).groupBy("pk")
      .agg(count(lit(1)).as("mv_count"), sum(col("v")).cast("long").as("mv_sum"),
        count(col("v")).as("mv_nncount"))
      .as[(Long, Long, Long, Long)].collect().toSet
    def view() = spark.table("gtest.mv1")
      .select("pk", "mv_count", "mv_sum", "mv_nncount")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(view() === full(), "seed equals the full aggregate")
    // Mixed DML history: append, DV delete, delta update — then ONE refresh.
    (300L until 400L).map(i => (i, i % 3, i % 7)).toDF("id", "pk", "v")
      .writeTo(t).append()                                            // gen 2
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 0")                     // gen 3
    spark.sql(s"UPDATE $t SET v = v + 10 WHERE id % 4 = 1")           // gen 4
    val (f1, t1) = spark.sql("CALL gtest.system.refresh_mview(name => 'mv1')")
      .as[(Long, Long)].head
    assert((f1, t1) == (1L, 4L))
    assert(view() === full(), "folded feed equals full recompute")
    // Refresh with no new commits: no-op, nothing published.
    val dir = new Path(root, "mv1")
    val conf = spark.sessionState.newHadoopConf()
    val genBefore = graft.sources.GraftManifest.currentGen(dir, conf)
    val (f2, t2) = spark.sql("CALL gtest.system.refresh_mview(name => 'mv1')")
      .as[(Long, Long)].head
    assert(f2 == t2 && t2 == 4L)
    assert(graft.sources.GraftManifest.currentGen(dir, conf) == genBefore,
      "a current view publishes nothing")
    // A group emptied by deletes leaves the view entirely.
    spark.sql(s"DELETE FROM $t WHERE pk = 2")                         // gen 5
    spark.sql("CALL gtest.system.refresh_mview(name => 'mv1')")
    assert(view() === full())
    assert(!view().exists(_._1 == 2L), "emptied group drops from the view")
    // The fold floor is readable from the view's own manifest (ledger wins).
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(graft.sources.GraftCatalogOps.mviewFoldFloor(m) == 5L)
  }

  test("WAP branches: isolated writes, audit reads, fast-forward publish, divergence refusal") {
    import spark.implicits._
    val t = freshTable("wap")
    def batch(b: Long) = (b * 100L until (b + 1) * 100L).map(i => (i, i % 3))
      .toDF("id", "pk")
    batch(0).writeTo(t).create()                                   // main gen 1
    val dir = new Path(root, "wap")
    val conf = spark.sessionState.newHadoopConf()
    def mainGen() = graft.sources.GraftManifest.currentGen(dir, conf)
    val forkBase = spark.sql("CALL gtest.system.branch(table => 'wap', name => 'audit')")
      .as[Long].head
    assert(forkBase == mainGen(), "fork base records the live main generation")
    // Two branch commits: main must not move, branch head must accumulate.
    batch(1).writeTo(t).option("branch", "audit").append()
    batch(2).writeTo(t).option("branch", "audit").append()
    assert(spark.table(t).count() == 100L, "main isolated from branch writes")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'audit'")
      .as[Long].head == 300L, "audit read sees the branch head")
    // The audited publish: ONE main generation carries both branch commits.
    val published = spark.sql(
      "CALL gtest.system.fast_forward(table => 'wap', name => 'audit')").as[Long].head
    assert(published == forkBase + 1, "fast-forward is one main commit")
    assert(mainGen() == published)
    assert(spark.table(t).count() == 300L)
    assert(spark.table(t).agg(sum(col("id"))).as[Long].head == (0L until 300L).sum)
    // The branch is gone after publish; its name errors as unknown.
    val exGone = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'audit'").collect()
    }
    assert(exGone.getMessage.contains("audit"))
    // Divergence: a main commit after the fork makes fast-forward refuse,
    // and the refused branch's rows never leak into main.
    spark.sql("CALL gtest.system.branch(table => 'wap', name => 'stale')")
    batch(3).writeTo(t).option("branch", "stale").append()
    // The $branches metadata twin lists (name, head, base) driver-side.
    assert(spark.sql(s"SELECT * FROM gtest.`wap$$branches`")
      .as[(String, Long, Long)].collect().toSeq == Seq(("stale", 1L, 2L)))
    batch(4).writeTo(t).append()                                   // main moves
    val exDiv = intercept[Exception] {
      spark.sql("CALL gtest.system.fast_forward(table => 'wap', name => 'stale')").collect()
    }
    assert(exDiv.getMessage.contains("diverged"))
    assert(spark.table(t).count() == 400L, "refused branch rows stay out of main")
    // VACUUM honors a LIVE branch's files; dropping the branch strands them.
    val (del1, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "wap",
      keepGens = 1, uncommittedGraceMs = 0L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'stale'")
      .as[Long].head == 400L, s"live branch survives vacuum (reclaimed $del1)")
    spark.sql("CALL gtest.system.drop_branch(table => 'wap', name => 'stale')")
    val (del2, _) = graft.sources.GraftCatalogOps.vacuum(spark, root, "wap",
      keepGens = 1, uncommittedGraceMs = 0L)
    assert(del2 >= 1L, "dropped branch's stranded files reclaim")
    assert(spark.table(t).count() == 400L)
    // Ref namespaces are disjoint at creation, both directions.
    graft.sources.GraftCatalogOps.tag(spark, root, "wap", "pinned", mainGen())
    val exTag = intercept[Exception] {
      spark.sql("CALL gtest.system.branch(table => 'wap', name => 'pinned')").collect()
    }
    assert(exTag.getMessage.contains("tag"))
    spark.sql("CALL gtest.system.branch(table => 'wap', name => 'b-name')")
    val exBr = intercept[Exception] {
      graft.sources.GraftCatalogOps.tag(spark, root, "wap", "b-name", mainGen())
    }
    assert(exBr.getMessage.contains("branch"))
  }

  test("ALTER cannot touch engine-managed column-mapping props") {
    val t = freshTable("physguard")
    base.writeTo(t).create()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO s2")   // engine writes physical.s2
    // A user SET of a physical.* key would silently re-key reads/stats.
    val exSet = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('physical.id' = 'pk')")
    }
    assert(exSet.getMessage.contains("reserved"))
    // A user UNSET of the engine-written mapping would point reads at a
    // physical parquet column that does not exist (all-NULL results).
    val exUnset = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('physical.s2')")
    }
    assert(exUnset.getMessage.contains("reserved"))
    // The mapping survived both refusals: renamed column still reads its data.
    assert(spark.table(t).filter(col("s2") === "v7").count() == 1L)
  }

  test("bloom first-column change refuses while legacy raw payloads exist") {
    val t = freshTable("bloomalter")
    base.writeTo(t).tableProperty("bloom", "s").create()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(root, "bloomalter")
    // New writes key payloads by column; reordering that KEEPS the first
    // column, or any change over keyed payloads, is always allowed.
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('bloom' = 's,id')")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('bloom' = 'id')")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('bloom' = 's')")
    // Forge a pre-column-keyed manifest: strip the `s:` owner markers so the
    // payloads are raw base64, as old engines wrote them.
    graft.sources.GraftManifest.publishNext(dir, conf) { cur =>
      cur.copy(gen = cur.gen + 1,
        fileBlooms = cur.fileBlooms.map { case (rel, enc) =>
          rel -> enc.split(';').map(_.dropWhile(_ != ':').drop(1)).mkString(";") })
    }
    val m = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
    assert(m.fileBlooms.values.forall(!_.contains(':')), "forged raw payloads")
    // Moving the FIRST bloom column would hand s-built bits to probes on id:
    // an id-equality probe could falsely prune files and drop matching rows.
    val ex = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('bloom' = 'id,s')")
    }
    assert(ex.getMessage.contains("legacy") && ex.getMessage.contains("OPTIMIZE"))
    // Appending the new column AFTER the owner is fine (raw stays owned by s).
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('bloom' = 's,id')")
    assert(spark.table(t).filter(col("s") === "v7").count() == 1L)
  }

  test("the mview txnAppId is reserved: a foreign claim fails the floor loudly") {
    import spark.implicits._
    val src = freshTable("mvsrc2")
    (0L until 100L).map(i => (i % 5, i)).toDF("k", "v").writeTo(src).create()
    graft.sources.GraftCatalogOps.createMview(
      spark, "gtest", root, "mv2", "mvsrc2", Seq("k"), "v")
    // A user idempotent write onto the VIEW claiming txnAppId='mview' with a
    // non-numeric version would otherwise crash refresh with a bare
    // NumberFormatException deep in the fold-floor scan.
    spark.table("gtest.mv2")
      .writeTo("gtest.mv2")
      .option("txnAppId", "mview").option("txnVersion", "oops")
      .overwrite(lit(true))
    val ex = intercept[IllegalStateException] {
      graft.sources.GraftCatalogOps.refreshMview(spark, "gtest", root, "mv2")
    }
    assert(ex.getMessage.contains("reserved"))
  }

  test("continuous mview maintenance: the change-feed stream drives exactly-once folds") {
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gtest.cmsrc")
    spark.sql("DROP TABLE IF EXISTS gtest.cmview")
    // dml=dv: the STREAMING change feed cannot represent copy-on-write
    // rewrites; merge-on-read streams its full DML surface.
    (0L until 90L).map(i => (i, i % 3, i * 7 % 100))
      .toDF("id", "k", "x").writeTo("gtest.cmsrc")
      .tableProperty("dml", "dv").create()
    spark.sql("CALL gtest.system.create_mview(source => 'cmsrc', " +
      "name => 'cmview', keys => 'k', sum_col => 'x')")
    val ckpt = tmpDir("graft_cmm")
    def drain(): Unit = {
      val q = graft.sources.GraftCatalogOps.continuousMviewMaintenance(
        spark, "gtest", root, "cmview", ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      assert(q.awaitTermination(240000), "maintenance drain must finish")
      q.stop()
    }
    def recompute: Seq[Seq[Any]] = spark.table("gtest.cmsrc").groupBy(col("k"))
      .agg(count(lit(1)).as("c"), sum(col("x")).as("s"))
      .orderBy(col("k")).collect().map(_.toSeq).toSeq
    def viewState: Seq[Seq[Any]] = spark.table("gtest.cmview")
      .select(col("k"), col("mv_count"), col("mv_sum"))
      .orderBy(col("k")).collect().map(_.toSeq).toSeq
    // Catch-up drain over the seed feed: floor already current => no-op fold.
    drain()
    assert(viewState === recompute)
    // DML lands; the NEXT drain folds it without any manual refresh call.
    Seq((200L, 1L, 31L), (201L, 2L, 32L)).toDF("id", "k", "x")
      .writeTo("gtest.cmsrc").append()
    spark.sql("DELETE FROM gtest.cmsrc WHERE id % 10 = 0")
    drain()
    assert(viewState === recompute,
      "the feed-triggered fold must track the source exactly")
    // Replay safety: a THIRD drain with nothing new publishes nothing.
    val genBefore = {
      val dir = new Path(root, "cmview")
      graft.sources.GraftManifest.currentGen(dir, spark.sessionState.newHadoopConf())
    }
    drain()
    val genAfter = {
      val dir = new Path(root, "cmview")
      graft.sources.GraftManifest.currentGen(dir, spark.sessionState.newHadoopConf())
    }
    assert(genAfter === genBefore, "an empty fold range must publish nothing")
    spark.sql("DROP TABLE IF EXISTS gtest.cmview")
    spark.sql("DROP TABLE IF EXISTS gtest.cmsrc")
  }

  test("incremental ZORDER: refuses unstamped tables, no-ops when current, re-clusters surgically") {
    val _ = root
    import spark.implicits._
    val t = freshTable("zinc")
    val rootDir = this.root
    // Unstamped table refuses loudly — incremental extends a layout.
    (0L until 400L).map(i => (i, i * 31 % 64, i * 17 % 64))
      .toDF("id", "x", "y").repartition(4).writeTo(t).create()
    val ex = intercept[IllegalArgumentException] {
      graft.sources.GraftCatalogOps.optimizeZorderIncremental(
        spark, t, rootDir, "zinc")
    }
    assert(ex.getMessage.contains("OPTIMIZE ZORDER"))
    // Full rewrite stamps; an immediately-following increment is a no-op.
    graft.sources.GraftCatalogOps.optimizeZorder(
      spark, t, rootDir, "zinc", "x", "y", numFiles = 8)
    val (rw0, kept0) = graft.sources.GraftCatalogOps
      .optimizeZorderIncremental(spark, t, rootDir, "zinc")
    assert(rw0 === 0L && kept0 >= 1L, s"no new files => no rewrite, got ($rw0, $kept0)")
    // A localized corner append re-clusters new files + overlapping tiles
    // ONLY; untouched tiles ride forward with identical rel paths.
    val dir = new Path(rootDir, "zinc")
    val conf = spark.sessionState.newHadoopConf()
    def entries = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf).entries.map(_._2)
    (1000L until 1050L).map(i => (i, i % 8, i % 8))
      .toDF("id", "x", "y").coalesce(1).writeTo(t).append()
    val before = entries
    val (rw, kept) = graft.sources.GraftCatalogOps
      .optimizeZorderIncremental(spark, t, rootDir, "zinc", numFiles = 2)
    // rw >= 2 — the new file AND at least one overlapped tile: tile matching
    // must survive the fact that every commit lands under a fresh gen-* dir
    // (a path-literal partition identity would never match across commits
    // and the increment would silently stop merging tiles — found r13).
    assert(rw >= 2L && rw < before.size,
      s"corner append must rewrite the new file plus overlapped tiles and " +
        s"strictly fewer than all ${before.size} files, got $rw")
    assert(kept === before.size - rw)
    val after = entries
    assert(before.toSet.intersect(after.toSet).size.toLong === kept,
      "every carried file must ride forward under its identical rel path")
    // Content lossless through both maintenance ops.
    assert(spark.table(t).agg(sum(col("id"))).head.getLong(0) ===
      (0L until 400L).sum + (1000L until 1050L).sum)
    // The increment composes: it re-stamped, so ANOTHER increment still works.
    (2000L until 2010L).map(i => (i, 63L, 63L)).toDF("id", "x", "y")
      .coalesce(1).writeTo(t).append()
    val (rw2, _) = graft.sources.GraftCatalogOps
      .optimizeZorderIncremental(spark, t, rootDir, "zinc", numFiles = 2)
    assert(rw2 >= 1L && spark.table(t).count() === 460L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("incremental ZORDER composes with HILBERT stamps and PARTITIONED tables") {
    val _ = root
    import spark.implicits._
    val t = freshTable("zincp")
    val rootDir = this.root
    (0L until 600L).map(i => (i, i % 3, i * 31 % 64, i * 17 % 64))
      .toDF("id", "pk", "x", "y").repartition(4)
      .writeTo(t).partitionedBy(col("pk")).create()
    // Full within-partition rewrite under the HILBERT curve stamps
    // zorder.curve=hilbert; the increment must pick the same curve up.
    graft.sources.GraftCatalogOps.optimizeZorder(
      spark, t, rootDir, "zincp", "x", "y", numFiles = 12, curve = "hilbert")
    val (rw0, kept0) = graft.sources.GraftCatalogOps
      .optimizeZorderIncremental(spark, t, rootDir, "zincp")
    assert(rw0 === 0L && kept0 >= 3L,
      s"no new files => no rewrite, got ($rw0, $kept0)")
    val dir = new Path(rootDir, "zincp")
    val conf = spark.sessionState.newHadoopConf()
    def entries = graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf).entries.map(_._2)
    // Localized corner append into ONE partition (pk=1) only.
    (1000L until 1040L).map(i => (i, 1L, i % 8, i % 8))
      .toDF("id", "pk", "x", "y").coalesce(1).writeTo(t).append()
    val before = entries
    val (rw, kept) = graft.sources.GraftCatalogOps
      .optimizeZorderIncremental(spark, t, rootDir, "zincp", numFiles = 2)
    assert(rw >= 2L && rw < before.size,
      s"corner append must rewrite the new file plus overlapped pk=1 tiles " +
        s"and strictly fewer than all ${before.size}, got $rw")
    assert(kept === before.size - rw)
    val after = entries
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size.toLong === kept,
      "every carried file must ride forward under its identical rel path")
    // Per-partition scoping, BOTH directions: the append touched pk=1 only,
    // so every tile of the OTHER partitions must have been carried — and at
    // least one pk=1 tile must have actually MERGED with the new data
    // (partition identity is the partition-dir chain, not the per-commit
    // gen-* path, or no tile would ever match — found r13).
    val otherPartTiles = before.filterNot(_.contains("pk=1"))
    assert(otherPartTiles.nonEmpty && otherPartTiles.forall(carried.contains),
      "tiles in untouched partitions must never be rewritten")
    assert(before.filter(_.contains("pk=1")).exists(tl => !carried.contains(tl)),
      "an overlapped pk=1 tile must be merged, not carried")
    // Content lossless through the maintenance ops.
    assert(spark.table(t).agg(sum(col("id"))).head.getLong(0) ===
      (0L until 600L).sum + (1000L until 1040L).sum)
    // The maintained layout still skips on both data axes.
    import org.apache.spark.sql.sources.LessThan
    val (skipX, totX) = graft.sources.GraftCatalogOps.filesSkippedBy(
      spark, rootDir, "zincp", Array(LessThan("x", 16L)))
    assert(skipX >= 1L, s"maintained hilbert layout must still prune x, $skipX/$totX")
    // Composes: the re-stamp lets ANOTHER increment run.
    (2000L until 2010L).map(i => (i, 0L, 63L, 63L)).toDF("id", "pk", "x", "y")
      .coalesce(1).writeTo(t).append()
    val (rw2, _) = graft.sources.GraftCatalogOps
      .optimizeZorderIncremental(spark, t, rootDir, "zincp", numFiles = 2)
    assert(rw2 >= 1L && spark.table(t).count() === 650L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("'__' identifiers refuse at CREATE but read paths answer NoSuchTable, not throw") {
    // "__" is the directory-encoding separator: `a.b` and `a__b` would share
    // one directory. Minting such a binding fails LOUDLY; but metadata
    // hygiene paths must stay graceful — `DROP TABLE IF EXISTS` on the name
    // is a no-op and SELECT reports the table missing, neither an
    // IllegalArgumentException.
    val _ = root
    import spark.implicits._
    val create = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "s").writeTo("gtest.`bad__name`").create()
    }
    assert(create.getMessage.contains("__"), s"loud create refusal: $create")
    // IF EXISTS drop: clean no-op, no throw.
    spark.sql("DROP TABLE IF EXISTS gtest.`bad__name`")
    // Bare SELECT: table-not-found, not IllegalArgument.
    val sel = intercept[Exception] { spark.table("gtest.`bad__name`").collect() }
    assert(!sel.isInstanceOf[IllegalArgumentException] &&
      (sel.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
        sel.getMessage.toLowerCase.contains("not found") ||
        sel.getMessage.toLowerCase.contains("cannot be found")),
      s"expected NoSuchTable-style failure, got: $sel")
    // RENAME onto a '__' target refuses loudly; the source stays intact.
    val t = freshTable("rensrc")
    Seq((1L, "x")).toDF("id", "s").writeTo(t).create()
    val ren = intercept[Exception] {
      spark.sql("ALTER TABLE gtest.rensrc RENAME TO gtest.`bad__tgt`")
    }
    assert(ren.getMessage.contains("__"), s"loud rename refusal: $ren")
    assert(spark.table(t).count() === 1L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("property: randomized op sequences track a relational shadow (seeded)") {
    // r15 — the catalog feature matrix is far larger than its handpicked
    // pins (column mapping × partition evolution × DVs × branches × clone ×
    // policies × restore × time travel), and the r14 targeted sweep found a
    // real cross-feature bug (policy-regime mixing). This sweep drives a
    // seeded random sequence of ops against a RELATIONAL SHADOW (a plain
    // in-memory map) and demands after EVERY op:
    //   - the full table read equals the shadow;
    //   - metadata-answered COUNT/SUM (B202, DV-subtracting) equal the
    //     shadow's aggregates — the metadata path must never drift from the
    //     scan path;
    //   - time travel to any recorded generation reproduces that
    //     generation's shadow UNDER ITS OWN column names (column mapping ×
    //     time travel);
    //   - a REFUSED op (spec-evolved DML guards, rename guards, …) is
    //     ATOMIC: the table still equals the shadow, no partial state.
    // Branch writes must stay invisible to main; clone DML must never leak
    // back; RESTORE rewinds to a recorded generation's shadow.
    val _ = root
    import spark.implicits._
    val rnd = new scala.util.Random(152207L)
    for (seqIdx <- 0 until 3) {
      val name = s"sweep$seqIdx"
      val t = freshTable(name)
      spark.sql(s"DROP TABLE IF EXISTS gtest.${name}_cl")
      var nextId = 0L
      var vName = "v"
      // id -> (k, k2, v, s)
      var shadow = Map.empty[Long, (Long, Long, Option[Long], String)]
      def mkRows(n: Int): Seq[(Long, Long, Long, Option[Long], String)] =
        (0 until n).map { _ =>
          val id = nextId; nextId += 1
          (id, rnd.nextInt(5).toLong, rnd.nextInt(4).toLong,
            if (rnd.nextInt(8) == 0) None
            else Some(rnd.nextInt(1000).toLong - 500L),
            s"s${rnd.nextInt(10)}")
        }
      def toDF(rows: Seq[(Long, Long, Long, Option[Long], String)]) =
        rows.toDF("id", "k", "k2", vName, "s")
      val dml = if (rnd.nextBoolean()) "dv" else "cow"
      var curSpec: Option[String] =
        Seq(None, Some("k"), Some("k2"))(rnd.nextInt(3))
      locally {
        val first = mkRows(60)
        val w = toDF(first).writeTo(t).tableProperty("dml", dml)
        (curSpec match {
          case Some(c) => w.partitionedBy(col(c)); case None => w
        }).create()
        shadow = first.map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      }
      val dir = new Path(root, name)
      val conf = spark.sessionState.newHadoopConf()
      def gen() = graft.sources.GraftManifest.currentGen(dir, conf)
      // generation -> (that generation's v-column name, spec, shadow)
      var history =
        Map(gen() -> ((vName, curSpec, shadow)))
      def rowSet(df: org.apache.spark.sql.DataFrame, vn: String)
          : Set[(Long, Long, Long, Option[Long], String)] =
        df.select(col("id"), col("k"), col("k2"), col(vn), col("s"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            r.getString(4))).toSet
      def asSet(m: Map[Long, (Long, Long, Option[Long], String)]) =
        m.map { case (id, (k, k2, v, s)) => (id, k, k2, v, s) }.toSet
      def checkState(label: String): Unit = {
        assert(rowSet(spark.table(t), vName) == asSet(shadow),
          s"[$name $label] full read diverged from the shadow")
        val agg = spark.table(t)
          .agg(count(lit(1)).as("n"), sum(col(vName)).as("sv")).collect()(0)
        val wantSum = {
          val vs = shadow.values.flatMap(_._3)
          if (vs.isEmpty) None else Some(vs.sum)
        }
        assert(agg.getLong(0) == shadow.size.toLong &&
          (if (agg.isNullAt(1)) None else Some(agg.getLong(1))) == wantSum,
          s"[$name $label] metadata COUNT/SUM diverged from the shadow")
        // Time travel to a random recorded generation, read under THAT
        // generation's column names.
        val (g, (vn, _, snap)) = history.toSeq(rnd.nextInt(history.size))
        assert(rowSet(spark.sql(
          s"SELECT id, k, k2, $vn, s FROM $t VERSION AS OF $g"), vn)
          == asSet(snap),
          s"[$name $label] VERSION AS OF $g diverged from gen-$g shadow")
      }
      checkState("seed")
      val refusals = scala.collection.mutable.ListBuffer.empty[String]
      for (op <- 0 until 12) {
        val pick = rnd.nextInt(10)
        try {
          pick match {
            case 0 | 1 => // append a batch
              val rows = mkRows(1 + rnd.nextInt(25))
              toDF(rows).writeTo(t).append()
              shadow ++= rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5)))
            case 2 => // delete by key (partition-aligned when spec is k)
              val c = rnd.nextInt(5)
              spark.sql(s"DELETE FROM $t WHERE k = $c")
              shadow = shadow.filter(_._2._1 != c)
            case 3 => // delete by id stride (cross-partition DV bitmaps)
              val m = 2 + rnd.nextInt(5)
              spark.sql(s"DELETE FROM $t WHERE id % $m = 0")
              shadow = shadow.filter(_._1 % m != 0)
            case 4 => // update the (renameable) value column; NULLs stay NULL
              val c = rnd.nextInt(5)
              spark.sql(s"UPDATE $t SET $vName = $vName + 7 WHERE k = $c")
              shadow = shadow.map { case (id, (k, k2, v, s)) =>
                id -> ((k, k2, if (k == c) v.map(_ + 7) else v, s))
              }
            case 5 => // column-mapping rename of the value column
              val nn = s"v$op$seqIdx"
              spark.sql(s"ALTER TABLE $t RENAME COLUMN $vName TO $nn")
              vName = nn
            case 6 => // partition spec evolution: flip to the other low-card col
              val target = if (curSpec.contains("k")) "k2" else "k"
              spark.sql(s"CALL gtest.system.set_partition_spec(" +
                s"table => '$name', cols => '$target')")
              curSpec = Some(target)
            case 7 => // policy probe: filtered read == filtered shadow; unset
              spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES(" +
                "'graft.rowFilter' = 's <> ''s1''')")
              val got = rowSet(spark.table(t), vName)
              val want = asSet(shadow.filter(_._2._4 != "s1"))
              spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('graft.rowFilter')")
              assert(got == want,
                s"[$name op$op] policied read diverged from filtered shadow")
            case 8 => // clone probe: clone == shadow; clone DML never leaks back
              spark.sql(s"DROP TABLE IF EXISTS gtest.${name}_cl")
              spark.sql(s"CALL gtest.system.clone(" +
                s"source => '$name', target => '${name}_cl')")
              assert(rowSet(spark.table(s"gtest.${name}_cl"), vName)
                == asSet(shadow),
                s"[$name op$op] clone read diverged from shadow")
              try spark.sql(s"DELETE FROM gtest.${name}_cl WHERE k = 0")
              catch { case _: Exception => () } // spec-evolved guard may refuse
              spark.sql(s"DROP TABLE IF EXISTS gtest.${name}_cl")
            case 9 => // branch probe: isolated write, visible on the ref, drop
              val b = s"b$op"
              spark.sql(s"CALL gtest.system.branch(" +
                s"table => '$name', name => '$b')")
              val rows = mkRows(5) // ids burn, never enter the main shadow
              toDF(rows).writeTo(t).option("branch", b).append()
              val got = rowSet(spark.sql(
                s"SELECT id, k, k2, $vName, s FROM $t VERSION AS OF '$b'"), vName)
              val want = asSet(shadow) ++
                rows.map(r => (r._1, r._2, r._3, r._4, r._5))
              spark.sql(s"CALL gtest.system.drop_branch(" +
                s"table => '$name', name => '$b')")
              assert(got == want,
                s"[$name op$op] branch read diverged from shadow+branch rows")
          }
        } catch {
          case e: org.scalatest.exceptions.TestFailedException => throw e
          case e: Exception =>
            // Refusal is a legitimate outcome (spec-evolved DML guards etc.)
            // — but it must be ATOMIC: checkState below proves no partial
            // state landed.
            refusals += s"op$op pick$pick: ${e.getMessage.linesIterator.next().take(100)}"
        }
        history += gen() -> ((vName, curSpec, shadow))
        checkState(s"op$op pick$pick")
      }
      // RESTORE leg: rewind to a random recorded generation whose schema
      // and spec match the current ones (engine-restorable without a
      // schema-identity question), then verify the shadow rewinds with it.
      val restorable = history.toSeq.filter { case (_, (vn, sp, _)) =>
        vn == vName && sp == curSpec }
      if (restorable.size > 1) {
        val (g, (_, _, snap)) = restorable(rnd.nextInt(restorable.size))
        spark.sql(s"CALL gtest.system.restore(table => '$name', version => $g)")
        shadow = snap
        history += gen() -> ((vName, curSpec, shadow))
        checkState(s"restore-to-$g")
      }
      // The sweep must actually exercise the matrix, not refuse its way
      // through: at most a third of the ops may have refused.
      assert(refusals.size <= 4,
        s"[$name] too many refused ops (${refusals.size}): " +
          refusals.mkString("; "))
      spark.sql(s"DROP TABLE IF EXISTS gtest.${name}_cl")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("catalog writes store parquet in the session's codec, snappy by default") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val t = freshTable("codec")
    base.writeTo(t).partitionedBy(col("pk")).create()
    val key = "spark.sql.parquet.compression.codec"
    spark.conf.set(key, "gzip")
    try base.writeTo(t).append() finally spark.conf.unset(key)
    val conf = spark.sparkContext.hadoopConfiguration
    // Codecs per data generation, oldest first: the create, then the append.
    val byGen = new Path(root).getFileSystem(conf)
      .globStatus(new Path(root, "codec/gen-*/pk=*/*.parquet")).toSeq
      .groupBy(_.getPath.getParent.getParent.getName.split("-")(1).toLong).toSeq.sortBy(_._1)
      .map { case (_, files) => files.flatMap { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
        finally r.close()
      }.toSet }
    assert(byGen === Seq(Set(CompressionCodecName.SNAPPY), Set(CompressionCodecName.GZIP)))
  }
}
