package graft

import org.apache.spark.sql.functions._

/**
 * B232 — partition spec evolution (the Iceberg design): one metadata-only
 * commit changes the spec for FUTURE writes; existing files keep their layout
 * and every file is read through its OWN spec (its partition path names the
 * columns stripped from it). The pins cover the three hazard classes:
 * read-side value reconstruction across vintages, optimization gates that
 * must REFUSE on mixed specs rather than answer wrong (metadata aggregates,
 * path-keyed DML), and the migration path (full OPTIMIZE → uniform again).
 */
class PartitionEvolutionSpec extends GraftSuite {

  private lazy val root = {
    val r = tmpDir("graft_evo")
    spark.conf.set("spark.sql.catalog.gevo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gevo.root", r)
    r
  }

  private def freshTable(name: String): String = {
    val _ = root
    spark.sql(s"DROP TABLE IF EXISTS gevo.$name")
    s"gevo.$name"
  }

  import org.apache.hadoop.fs.Path
  private def manifest(name: String) = {
    val dir = new Path(root, name)
    val conf = spark.sessionState.newHadoopConf()
    graft.sources.GraftManifest.load(dir,
      graft.sources.GraftManifest.currentGen(dir, conf), conf)
  }

  /** rows 0..n-1: pk = i%3 (first spec), grp = "g" + i%5 (second spec). */
  private def rows(from: Long, until: Long) = {
    import spark.implicits._
    (from until until).map(i => (i, i % 3, s"g${i % 5}", i * 7 % 101))
      .toDF("id", "pk", "grp", "v")
  }

  /** A table with gen1 partitioned by pk, evolved, gen3 partitioned by grp. */
  private def evolved(name: String): String = {
    val t = freshTable(name)
    rows(0, 120).writeTo(t).partitionedBy(col("pk")).create()
    spark.sql(s"CALL gevo.system.set_partition_spec(table => '$name', cols => 'grp')")
    rows(120, 200).writeTo(t).append()
    t
  }

  test("mixed-spec reads reconstruct every vintage's partition values from its own path") {
    val t = evolved("mixed")
    assert(!manifest("mixed").specUniform)
    val got = spark.table(t).select("id", "pk", "grp", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val want = (0L until 200L).map(i => (i, i % 3, s"g${i % 5}", i * 7 % 101))
    assert(got.toSeq === want)
  }

  test("filters on either spec's column answer exactly (old col from data, new col from path)") {
    val t = evolved("filters")
    // New-spec column: old files surface it from DATA, new files from path.
    val g2 = spark.table(t).filter(col("grp") === "g2").agg(count(lit(1))).head.getLong(0)
    assert(g2 === (0L until 200L).count(_ % 5 == 2))
    // Old-spec column: new files surface it from DATA, old files from path.
    val p1 = spark.table(t).filter(col("pk") === 1L).agg(count(lit(1))).head.getLong(0)
    assert(p1 === (0L until 200L).count(_ % 3 == 1))
    // Conjunction across both vintages' columns.
    val both = spark.table(t).filter(col("pk") === 1L && col("grp") === "g2")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(both.toSeq === (0L until 200L).filter(i => i % 3 == 1 && i % 5 == 2))
  }

  test("a new-spec partition filter still prunes new-vintage files by path") {
    val t = evolved("prune2")
    // Vandalize a NEW-spec partition's files: a grp filter excluding it must
    // never open them (path pruning), while old-vintage files — which cannot
    // be path-pruned on grp — still read fine (grp lives in their data).
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bad = fs.globStatus(new Path(new Path(root, "prune2"), "gen-*/grp=g4/*.parquet"))
    assert(bad.nonEmpty, "expected new-spec files under grp=g4")
    bad.foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write("not parquet".getBytes) finally out.close()
    }
    val n = spark.table(t).filter(col("grp") === "g1").agg(count(lit(1))).head.getLong(0)
    assert(n === (0L until 200L).count(_ % 5 == 1))
    intercept[Exception] {
      spark.table(t).filter(col("grp") === "g4").agg(sum(col("v") * col("v"))).collect()
    }
  }

  test("metadata-only aggregates refuse on mixed specs and the scan fallback is exact") {
    val t = evolved("aggs")
    // count(*) pushes to the manifest on uniform tables; mixed must fall
    // back to the scan — the ANSWER must be identical either way.
    assert(spark.table(t).count() === 200L)
    assert(spark.table(t).agg(sum(col("id"))).head.getLong(0) === (0L until 200L).sum)
    // And the plan proves the refusal: a metadata-answered aggregate plans as
    // a LocalTableScan of the driver-computed row; a mixed table must plan a
    // REAL scan instead.
    val plan = spark.table(t).agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && !plan.contains("LocalTableScan"),
      s"mixed-spec table must not answer aggregates from metadata:\n$plan")
  }

  test("path-keyed DML refuses or reroutes on mixed specs; row-level DELETE stays exact") {
    val t = evolved("dml")
    // Dynamic partition overwrite must refuse outright WHILE mixed
    // (path-replacement cannot see pre-evolution files). Checked FIRST: the
    // row-level DELETE below rewrites touched files under the current spec,
    // which can migrate the whole layout as a side effect.
    val e = intercept[Exception] {
      rows(0, 10).writeTo(t).overwritePartitions()
    }
    assert(e.getMessage.contains("spec-evolved"),
      s"unexpected error: ${e.getMessage}")
    // DELETE on the CURRENT spec column: canDeleteWhere must report false
    // (old files hold grp in data), so Spark rewrites row-level — exact.
    spark.sql(s"DELETE FROM $t WHERE grp = 'g0'")
    assert(spark.table(t).count() === (0L until 200L).count(_ % 5 != 0))
    assert(spark.table(t).filter(col("grp") === "g0").count() === 0L)
  }

  test("static overwrite refusal message names the actual cause") {
    // Spec-UNIFORM table, data-column predicate: OPTIMIZE cannot make this
    // path-decidable — the message must say so (predicate not in the spec,
    // use replaceWhere), not send the user on a useless compaction.
    val t = freshTable("msguni")
    rows(0, 30).writeTo(t).partitionedBy(col("pk")).create()
    val e1 = intercept[Exception] {
      rows(0, 10).writeTo(t).overwrite(col("grp") === "g0")
    }
    assert(e1.getMessage.contains("not in the partition spec") &&
      e1.getMessage.contains("replaceWhere") &&
      !e1.getMessage.contains("OPTIMIZE"), s"got: ${e1.getMessage}")
    // Mixed-spec table, predicate on the NEW spec column: OPTIMIZE genuinely
    // migrates the layout — that hint stays.
    val t2 = evolved("msgmix")
    val e2 = intercept[Exception] {
      rows(0, 10).writeTo(t2).overwrite(col("grp") === "g0")
    }
    assert(e2.getMessage.contains("spec-evolved") &&
      e2.getMessage.contains("OPTIMIZE"), s"got: ${e2.getMessage}")
  }

  test("RENAME/DROP refuse any column named in any vintage's paths") {
    val t = evolved("guards")
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN pk TO pk2") }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN pk") }
    assert(e2.getMessage.contains("partition column"))
  }

  test("full OPTIMIZE migrates the layout: uniform again, answers unchanged") {
    val t = evolved("migrate")
    val before = spark.table(t).orderBy("id").collect().map(_.toSeq).toSeq
    spark.sql(s"CALL gevo.system.optimize(table => 'migrate')")
    val m = manifest("migrate")
    assert(m.specUniform, "full OPTIMIZE must rewrite every file under the current spec")
    assert(m.partCols === Seq("grp"))
    assert(m.entries.forall { case (pp, _) => pp.startsWith("grp=") })
    assert(spark.table(t).orderBy("id").collect().map(_.toSeq).toSeq === before)
    // Metadata aggregates come back after migration (LocalTableScan = the
    // driver-computed metadata answer, no real scan).
    val plan = spark.table(t).agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"))
  }

  test("the batch change feed reads files a migrating OPTIMIZE removed under the old spec") {
    val t = evolved("cdfmig")                               // gens 1-3
    spark.sql(s"CALL gevo.system.optimize(table => 'cdfmig')") // gen 4
    assert(manifest("cdfmig").specUniform && manifest("cdfmig").gen === 4L)
    // The rewrite re-copies every row, pk-spec files included: it nets to
    // nothing, and the window from the create holds only the append.
    assert(graft.sources.GraftCatalogOps.changes(spark, root, "cdfmig", 3L, 4L).isEmpty)
    val feed = graft.sources.GraftCatalogOps.changes(spark, root, "cdfmig", 1L, 4L)
      .select("id", "pk", "grp", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    assert(feed.toSeq === (120L until 200L).map(i => (i, i % 3, s"g${i % 5}", "insert", 3L)))
  }

  test("time travel reads each generation through ITS spec") {
    val t = evolved("travel")
    // gen 1 = pk-partitioned create (120 rows), spec change burned gen 2.
    val old = spark.sql(s"SELECT count(*) AS n, sum(id) AS s FROM $t VERSION AS OF 1").head
    assert(old.getLong(0) === 120L && old.getLong(1) === (0L until 120L).sum)
  }

  test("unpartitioned tables evolve too (empty paths are just the empty spec)") {
    val t = freshTable("fromflat")
    rows(0, 60).select("id", "grp", "v").writeTo(t).create()
    spark.sql("CALL gevo.system.set_partition_spec(table => 'fromflat', cols => 'grp')")
    rows(60, 100).select("id", "grp", "v").writeTo(t).append()
    assert(!manifest("fromflat").specUniform)
    assert(spark.table(t).filter(col("grp") === "g3").count() ===
      (0L until 100L).count(_ % 5 === 3))
    // And back to unpartitioned: '' = empty spec.
    spark.sql("CALL gevo.system.set_partition_spec(table => 'fromflat', cols => '')")
    rows(100, 110).select("id", "grp", "v").writeTo(t).append()
    assert(spark.table(t).count() === 110L)
    assert(manifest("fromflat").partCols.isEmpty)
  }

  test("a pre-evolution spec's column refuses masking (its raw values live in paths)") {
    val t = evolved("polguard")
    // pk was the ORIGINAL spec: its values are baked into gen-1 directory
    // names, so masking it would leak through every path listing.
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('graft.mask.pk' = '0L')") }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    // The CURRENT spec column refuses identically.
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES(" +
        "'graft.mask.grp' = \"'x'\")") }
    assert(e2.getMessage.contains("partition column"), e2.getMessage)
  }

  test("set_partition_spec validates: unknown column, duplicate, same spec, no codec") {
    val t = freshTable("valid")
    rows(0, 10).withColumn("d", col("v") / lit(2.0)).writeTo(t)
      .partitionedBy(col("pk")).create()
    def call(cols: String) = spark.sql(
      s"CALL gevo.system.set_partition_spec(table => 'valid', cols => '$cols')")
    assert(intercept[Exception] { call("nope") }.getMessage.contains("not in the table schema"))
    assert(intercept[Exception] { call("grp,grp") }.getMessage.contains("duplicate"))
    assert(intercept[Exception] { call("pk") }.getMessage.contains("already partitioned"))
    assert(intercept[Exception] { call("d") }.getMessage.contains("unsupported type"))
    val _ = t
  }
}
