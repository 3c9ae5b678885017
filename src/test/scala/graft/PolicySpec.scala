package graft

import org.apache.spark.sql.functions._

/**
 * B233 — row-level security + column masking enforced in the scan
 * (sources/GraftCatalog.scala, GraftPolicies + GraftParquetRead). The pins
 * cover the three obligations of a policy layer: non-exempt sessions see only
 * policy output on EVERY path (values, predicates, aggregates), exempt
 * sessions see raw, and every operation that could PERSIST policy output or
 * destroy invisible rows refuses for non-exempt sessions.
 */
class PolicySpec extends GraftSuite {

  private lazy val root = {
    val r = tmpDir("graft_pol")
    spark.conf.set("spark.sql.catalog.gpol", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpol.root", r)
    r
  }

  private def freshTable(name: String): String = {
    val _ = root
    spark.conf.unset(graft.sources.GraftPolicies.RoleConf)
    spark.sql(s"DROP TABLE IF EXISTS gpol.$name")
    s"gpol.$name"
  }

  /** id, ssn (maskable), dept, salary; rows 0..39, dept = d0/d1. */
  private def seed(t: String, extraProps: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    var w = (0L until 40L)
      .map(i => (i, f"ssn-$i%03d", s"d${i % 2}", 1000L + i))
      .toDF("id", "ssn", "dept", "salary")
      .writeTo(t)
      .tableProperty(graft.sources.GraftPolicies.MaskPrefix + "ssn", "'***'")
      .tableProperty(graft.sources.GraftPolicies.FilterProp, "dept <> 'd1'")
      .tableProperty(graft.sources.GraftPolicies.ExemptProp, "admin,dba")
    extraProps.foreach { case (k, v) => w = w.tableProperty(k, v) }
    w.create()
  }

  private def asRole[T](role: Option[String])(body: => T): T = {
    val conf = graft.sources.GraftPolicies.RoleConf
    try { role.fold(spark.conf.unset(conf))(spark.conf.set(conf, _)); body }
    finally spark.conf.unset(conf)
  }

  test("non-exempt sessions see masked values and filtered rows; exempt see raw") {
    val t = freshTable("basic"); seed(t)
    val plain = spark.table(t).orderBy("id").collect()
    assert(plain.length === 20, "row filter must hide dept d1")
    assert(plain.forall(_.getString(2) === "d0"))
    assert(plain.forall(_.getString(1) === "***"), "ssn must be masked")
    assert(plain.map(_.getLong(0)).toSeq === (0L until 40L by 2)) // other cols raw
    asRole(Some("admin")) {
      val raw = spark.table(t).orderBy("id").collect()
      assert(raw.length === 40 && raw.map(_.getString(1)).distinct.length === 40)
    }
    asRole(Some("intern")) { // non-listed role stays policed
      assert(spark.table(t).count() === 20)
    }
  }

  test("predicates on a masked column evaluate on MASKED values, never raw") {
    val t = freshTable("preds"); seed(t)
    // The mask constant matches every visible row; any raw-value pushdown
    // (parquet row-group skip, file stats, bloom) would drop files whose RAW
    // range excludes '***' and silently lose rows.
    assert(spark.table(t).filter(col("ssn") === "***").count() === 20)
    // A raw value must match NOTHING for a policed session.
    assert(spark.table(t).filter(col("ssn") === "ssn-000").count() === 0)
  }

  test("masked-column pruning exclusion spans multiple files with disjoint raw ranges") {
    val t = freshTable("prune"); seed(t)
    import spark.implicits._
    // Second file with a disjoint raw ssn range: stats-based pruning on the
    // raw bounds would skip one of the files for any constant.
    asRole(Some("admin")) {
      (100L until 120L).map(i => (i, f"zzz-$i%03d", "d0", 2000L))
        .toDF("id", "ssn", "dept", "salary").writeTo(t).append()
    }
    val n = spark.table(t).filter(col("ssn") === "***").count()
    assert(n === 40, s"expected all visible rows from BOTH files, got $n")
  }

  test("metadata-only aggregates refuse while a policy binds; exempt sessions keep them") {
    val t = freshTable("aggs"); seed(t)
    assert(spark.table(t).count() === 20) // scan fallback applies the filter
    val plan = spark.table(t).agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && !plan.contains("LocalTableScan"),
      s"policed count must not answer from the manifest:\n$plan")
    asRole(Some("admin")) {
      assert(spark.table(t).count() === 40)
      val p2 = spark.table(t).agg(count(lit(1))).queryExecution.executedPlan.toString
      assert(p2.contains("LocalTableScan"), s"exempt count should stay metadata-only:\n$p2")
    }
  }

  test("masks may reference other columns") {
    val t = freshTable("crossmask")
    import spark.implicits._
    (0L until 10L).map(i => (i, f"ssn-$i%03d", s"d${i % 2}", 1000L + i))
      .toDF("id", "ssn", "dept", "salary").writeTo(t)
      .tableProperty(graft.sources.GraftPolicies.MaskPrefix + "ssn",
        "CASE WHEN dept = 'd0' THEN ssn ELSE '***' END")
      .create()
    val got = spark.table(t).select("dept", "ssn").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._2)
    assert(got.filter(_._1 == "d1").forall(_._2 == "***"))
    assert(got.filter(_._1 == "d0").forall(_._2 != "***"))
  }

  test("row filter composes with deletion vectors (DV first, then policy)") {
    val t = freshTable("dv"); seed(t, Map("dml" -> "dv"))
    asRole(Some("admin")) { spark.sql(s"DELETE FROM $t WHERE id < 10") }
    // Visible = dept d0 AND not DV-deleted: ids 10,12,...,38.
    val ids = spark.table(t).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (10L until 40L by 2))
  }

  test("DML, TRUNCATE, overwrite, OPTIMIZE refuse for non-exempt; appends stay open") {
    val t = freshTable("dml"); seed(t)
    import spark.implicits._
    def msg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    assert(msg(intercept[Exception] { spark.sql(s"DELETE FROM $t WHERE id = 2") })
      .contains("exempt role"))
    assert(msg(intercept[Exception] {
      spark.sql(s"UPDATE $t SET salary = 0 WHERE id = 2") }).contains("exempt role"))
    assert(msg(intercept[Exception] { spark.sql(s"TRUNCATE TABLE $t") })
      .contains("exempt role"))
    assert(msg(intercept[Exception] {
      Seq((1L, "x", "d0", 1L)).toDF("id", "ssn", "dept", "salary")
        .writeTo(t).overwritePartitions() }).contains("exempt role"))
    assert(msg(intercept[Exception] {
      spark.sql("CALL gpol.system.optimize(table => 'dml')") })
      .contains("exempt role"))
    // Appends write without reading — open to everyone.
    Seq((900L, "ssn-900", "d0", 1L)).toDF("id", "ssn", "dept", "salary")
      .writeTo(t).append()
    assert(spark.table(t).filter(col("id") === 900L).head.getString(1) === "***")
    // And the whole DML battery works for the exempt role.
    asRole(Some("dba")) {
      spark.sql(s"DELETE FROM $t WHERE id = 900")
      assert(spark.table(t).filter(col("id") === 900L).count() === 0)
      spark.sql("CALL gpol.system.optimize(table => 'dml')")
    }
  }

  test("policy declarations validate at CREATE/ALTER; rename/drop of referenced columns refuse") {
    val t = freshTable("valid"); seed(t)
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    fails(s"ALTER TABLE $t SET TBLPROPERTIES('graft.mask.nope' = \"'x'\")",
      "unknown column")
    fails(s"ALTER TABLE $t SET TBLPROPERTIES('graft.mask.salary' = \"'x'\")",
      "must preserve its type")
    fails(s"ALTER TABLE $t SET TBLPROPERTIES('graft.rowFilter' = 'salary')",
      "BOOLEAN")
    fails(s"ALTER TABLE $t RENAME COLUMN ssn TO ssn2", "policy references it")
    fails(s"ALTER TABLE $t RENAME COLUMN dept TO dept2", "policy references it")
    fails(s"ALTER TABLE $t DROP COLUMN dept", "policy references it")
    // A partitioned table refuses masking its partition column outright.
    val t2 = freshTable("validp")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "p").writeTo(t2).partitionedBy(col("p")).create()
    fails(s"ALTER TABLE $t2 SET TBLPROPERTIES('graft.mask.p' = \"'x'\")",
      "partition column")
    // CREATE refuses a mask on a bucket transform's SOURCE column too —
    // floorMod(raw) of a masked column in directory names is a leak
    // readable via `_file` and the $files twin.
    val t3 = freshTable("validb")
    val e3 = intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "k").writeTo(t3)
        .partitionedBy(bucket(4, col("k")))
        .tableProperty("graft.mask.k", "CAST(0 AS BIGINT)")
        .create()
    }
    assert(e3.getMessage.contains("partition column"), s"got: ${e3.getMessage}")
  }

  test("set_partition_spec refuses masked columns and masked bucket sources") {
    val t = freshTable("evomask")
    import spark.implicits._
    (0L until 8L).map(i => (i, i % 4, s"s$i")).toDF("id", "k", "ssn")
      .writeTo(t)
      .tableProperty(graft.sources.GraftPolicies.MaskPrefix + "ssn", "'***'")
      .create()
    // Identity evolution onto the masked column bakes raw values into paths.
    val e1 = intercept[Exception] {
      spark.sql("CALL gpol.system.set_partition_spec(table => 'evomask', cols => 'ssn')")
    }
    assert(e1.getMessage.contains("masked column ssn"), s"got: ${e1.getMessage}")
    // Masked BIGINT source behind a bucket transform leaks floorMod(raw).
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('graft.mask.k' = 'CAST(-1 AS BIGINT)')")
    val e2 = intercept[Exception] {
      spark.sql("CALL gpol.system.set_partition_spec(table => 'evomask', cols => 'bucket(4,k)')")
    }
    assert(e2.getMessage.contains("masked column k"), s"got: ${e2.getMessage}")
    // Evolving onto an UNmasked column still works.
    spark.sql("CALL gpol.system.set_partition_spec(table => 'evomask', cols => 'id')")
  }

  test("the change data feed is policed: masked values, invisible rows emit no events") {
    val t = freshTable("cdfpol"); seed(t, Map("dml" -> "dv"))
    // A DV delete under the exempt role creates delete events for BOTH
    // visible (d0) and invisible (d1) rows.
    asRole(Some("admin")) { spark.sql(s"DELETE FROM $t WHERE id < 4") }
    val feed = graft.sources.GraftCatalogOps.changes(spark,
      spark.conf.get("spark.sql.catalog.gpol.root"), "cdfpol", 0L, 2L)
    val rows = feed.collect()
    // Inserts: only the 20 visible rows; deletes: only ids 0 and 2 (d0) —
    // the d1 deletes (ids 1, 3) concern rows this session never saw.
    val ins = rows.filter(_.getAs[String]("_change_type") == "insert")
    val del = rows.filter(_.getAs[String]("_change_type") == "delete")
    assert(ins.length === 20 && ins.forall(_.getAs[String]("dept") == "d0"))
    assert(del.map(_.getAs[Long]("id")).sorted.toSeq === Seq(0L, 2L))
    assert(rows.forall(_.getAs[String]("ssn") == "***"), "feed must mask")
    // The exempt role sees the raw feed: 40 inserts, 4 deletes, raw ssn.
    asRole(Some("dba")) {
      val raw = graft.sources.GraftCatalogOps.changes(spark,
        spark.conf.get("spark.sql.catalog.gpol.root"), "cdfpol", 0L, 2L).collect()
      assert(raw.count(_.getAs[String]("_change_type") == "insert") === 40)
      assert(raw.count(_.getAs[String]("_change_type") == "delete") === 4)
      assert(raw.exists(_.getAs[String]("ssn") != "***"))
    }
  }

  test("the streaming source and change feed are policed through the same reader") {
    val t = freshTable("stream"); seed(t)
    // Batch-read the table AS a streaming source drain (AvailableNow) and
    // confirm the sink holds only policy output.
    val ck = tmpDir("pol_ck")
    val q = spark.readStream.table(t).writeStream
      .format("memory").queryName("pol_stream")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("pol_stream").collect()
    assert(rows.length === 20)
    assert(rows.forall(r => r.getString(1) == "***" && r.getString(2) == "d0"))
  }
}
