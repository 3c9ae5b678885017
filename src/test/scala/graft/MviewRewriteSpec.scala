package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/**
 * B234 — automatic materialized-view query rewrite. The positive pin proves
 * the natural GROUP BY answers from the view (plan) with join-identical
 * results (values vs the rule detached); the negative pins prove the rule
 * never fires when the rewrite would NOT be the same computation: stale
 * view, filtered scan, unmaintained aggregate, different keys, policied base.
 */
class MviewRewriteSpec extends GraftSuite {

  private lazy val root = {
    val r = tmpDir("graft_mvr")
    spark.conf.set("spark.sql.catalog.gmvr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvr.root", r)
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.fact")
    (0L until 300L).map(i => (i, i % 7, i % 3, i * 11 % 1000))
      .toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").create()
    spark.sql(
      "CALL gmvr.system.create_mview(source => 'fact', name => 'fact_mv', " +
        "keys => 'k1,k2', sum_col => 'x')")
    org.apache.spark.sql.GraftBridge.addOptimization(spark,
      graft.plans.MviewRewriteRule(spark))
    r
  }

  private def natural: DataFrame = {
    val _ = root
    spark.table("gmvr.fact").groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("k1"), col("k2"))
  }

  private def scansOf(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.relation.table.name()
    }

  private def answersFromView(df: DataFrame): Boolean = {
    val scans = scansOf(df)
    scans.exists(_.contains("fact_mv")) && !scans.exists(_.contains("fact@"))
  }

  test("a fresh view answers the natural aggregate with identical results") {
    assert(answersFromView(natural), s"expected view scan, got ${scansOf(natural)}")
    val got = natural.collect().map(_.toSeq).toSeq
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try {
      val real = natural
      assert(!answersFromView(real), "sanity: rule off, base scan")
      assert(real.collect().map(_.toSeq).toSeq === got)
    } finally cls.experimental.extraOptimizations = saved
  }

  test("count(<declared col>) serves from mv_nncount; other columns refuse") {
    // count(x) counts NON-NULL x — exactly the mv_nncount column the fold
    // maintains for AVG's denominator. Exact, rollup, and join paths; a
    // count over any column the view does not declare refuses.
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    spark.sql("DROP TABLE IF EXISTS gmvr.ncdim")
    (0L until 7L).map(i => (i, i % 2)).toDF("pk", "attr")
      .writeTo("gmvr.ncdim").create()
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def check(df: => DataFrame, sortCols: Seq[String]): Unit = {
      assert(answersFromView(df), s"count(x) must serve, got ${scansOf(df)}")
      val got = df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try assert(df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq === got)
      finally cls.experimental.extraOptimizations = saved
    }
    def fact = spark.table("gmvr.fact")
    check(fact.groupBy(col("k1"), col("k2"))
      .agg(count(col("x")).as("nnx"), count(lit(1)).as("n")), Seq("k1", "k2"))
    check(fact.groupBy(col("k2"))
      .agg(count(col("x")).as("nnx"), sum(col("x")).as("sx")), Seq("k2"))
    check(fact.join(spark.table("gmvr.ncdim"), col("k1") === col("pk"))
      .groupBy(col("attr")).agg(count(col("x")).as("nnx")), Seq("attr"))
    // count over a column the view does not declare: refuse.
    assert(!answersFromView(fact.groupBy(col("k1"))
      .agg(count(col("id")).as("nid"))))
    spark.sql("DROP TABLE IF EXISTS gmvr.ncdim")
  }

  test("SELECT DISTINCT over view keys is an aggregate with only key outputs — serves") {
    // DISTINCT plans as Aggregate(keys, keys, child): every output classifies
    // as a key passthrough and the view's key columns ARE the distinct set
    // (exact on the full key set; rollup when a subset — re-grouping the
    // view's finer keys with no aggregates is DISTINCT over them).
    val _ = root
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def check(df: => DataFrame, sortCols: Seq[String]): Unit = {
      assert(answersFromView(df), s"DISTINCT must serve, got ${scansOf(df)}")
      val got = df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try assert(df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq === got)
      finally cls.experimental.extraOptimizations = saved
    }
    check(spark.table("gmvr.fact").select(col("k1"), col("k2")).distinct(),
      Seq("k1", "k2"))
    check(spark.table("gmvr.fact").select(col("k2")).distinct(), Seq("k2"))
  }

  test("one source commit past the fold floor stops the rewrite until refresh") {
    val _ = root
    import spark.implicits._
    graft.plans.MviewDiagnostics.clear()
    Seq((900L, 1L, 1L, 50L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    assert(!answersFromView(natural), "stale view must never serve")
    // The refusal names the fix: the matching-but-stale view and the
    // refresh call that resumes serving.
    val notes = graft.plans.MviewDiagnostics.recent
    assert(notes.exists(n => n.contains("STALE") && n.contains("fact_mv") &&
      n.contains("refresh_mview")), s"expected a staleness note, got: $notes")
    // The un-rewritten answer includes the new row.
    val n11 = natural.filter(col("k1") === 1 && col("k2") === 1).head
    val expect = (0L until 300L).filter(i => i % 7 == 1 && i % 3 == 1)
    assert(n11.getLong(2) === expect.size + 1)
    assert(n11.getLong(3) === expect.map(_ * 11 % 1000).sum + 50)
    // Refresh folds the delta; the rewrite comes back with the SAME numbers.
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    graft.plans.MviewDiagnostics.clear()
    assert(answersFromView(natural))
    assert(graft.plans.MviewDiagnostics.recent.isEmpty,
      "a served rewrite must not log a staleness note")
    val again = natural.filter(col("k1") === 1 && col("k2") === 1).head
    assert(again.getLong(2) === n11.getLong(2) && again.getLong(3) === n11.getLong(3))
  }

  test("an aliased grouping key keeps the alias's name and exprId through the rewrite") {
    val _ = root
    // `k1 AS foo` + ORDER BY foo: the parent Sort references the ALIAS's
    // exprId — a rewrite that re-emitted the underlying k1 attribute would
    // fail binding (or silently change the result schema to `k1`).
    val df = spark.table("gmvr.fact").groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"))
      .select(col("k1").as("foo"), col("k2"), col("n"))
      .orderBy(col("foo"), col("k2"))
    // Build the aliased-key aggregate the analyzer way: GROUP BY k1 with
    // k1 AS foo in the select list.
    spark.table("gmvr.fact").createOrReplaceTempView("mvr_fact_v")
    val sql = spark.sql(
      """SELECT k1 AS foo, k2, count(*) AS n FROM mvr_fact_v
        |GROUP BY k1, k2 ORDER BY foo, k2""".stripMargin)
    assert(answersFromView(sql), s"aliased-key rewrite must fire, got ${scansOf(sql)}")
    assert(sql.columns.toSeq === Seq("foo", "k2", "n"), "alias name must survive")
    val got = sql.collect().map(_.toSeq).toSeq
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try assert(sql.collect().map(_.toSeq).toSeq === got)
    finally cls.experimental.extraOptimizations = saved
    val _2 = df // silence unused warning-by-convention
  }

  test("AVG over a NULL-bearing sum column serves from mv_nncount, not mv_count") {
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.nfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.nfact_mv")
    // x NULL on every 3rd row — avg(x) divides by the NON-NULL count, so a
    // rewrite serving mv_sum/mv_count would be silently wrong here — and
    // ENTIRELY NULL for k=3 (i % 4 == 3 rows): that group's avg is NULL,
    // which the rewrite must reproduce (its legacy-mode divide answers NULL
    // at mv_nncount = 0 where an ANSI divide would raise DIVIDE_BY_ZERO).
    (0L until 120L).map(i => (i, i % 4,
        if (i % 3 == 0 || i % 4 == 3) None else Some(i * 7 % 100): Option[Long]))
      .toDF("id", "k", "x")
      .writeTo("gmvr.nfact").create()
    spark.sql(
      "CALL gmvr.system.create_mview(source => 'nfact', name => 'nfact_mv', " +
        "keys => 'k', sum_col => 'x')")
    val df = spark.table("gmvr.nfact").groupBy(col("k"))
      .agg(avg(col("x")).as("ax"), count(lit(1)).as("n"))
      .orderBy(col("k"))
    val scans = scansOf(df)
    assert(scans.exists(_.contains("nfact_mv")) &&
      !scans.exists(_.contains("nfact@")), s"avg must rewrite, got $scans")
    val got = df.collect().map(_.toSeq).toSeq
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try assert(df.collect().map(_.toSeq).toSeq === got,
      "rewritten avg must equal the base avg under NULLs")
    finally cls.experimental.extraOptimizations = saved
    // The all-NULL group came back as NULL, not a divide-by-zero failure.
    assert(got.exists(r => r.head == 3L && r(1) == null),
      s"expected a NULL avg for the all-null group, got $got")
  }

  test("TRY-mode aggregates never rewrite: overflow semantics differ from the view") {
    val _ = root
    spark.table("gmvr.fact").createOrReplaceTempView("mvr_fact_try")
    val trySum = spark.sql(
      "SELECT k1, k2, try_sum(x) AS s FROM mvr_fact_try GROUP BY k1, k2")
    assert(!answersFromView(trySum),
      s"try_sum must not serve from the view, got ${scansOf(trySum)}")
    val tryAvg = spark.sql(
      "SELECT k1, k2, try_avg(x) AS a FROM mvr_fact_try GROUP BY k1, k2")
    assert(!answersFromView(tryAvg),
      s"try_avg must not serve from the view, got ${scansOf(tryAvg)}")
  }

  test("AVG of the declared sum column derives from mv_sum/mv_nncount, bit-identical") {
    val _ = root
    val df = spark.table("gmvr.fact").groupBy(col("k1"), col("k2"))
      .agg(avg(col("x")).as("ax"), count(lit(1)).as("n"))
      .orderBy(col("k1"), col("k2"))
    assert(answersFromView(df), s"avg must rewrite, got ${scansOf(df)}")
    val got = df.collect().map(_.toSeq).toSeq
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try assert(df.collect().map(_.toSeq).toSeq === got)
    finally cls.experimental.extraOptimizations = saved
    // AVG of a NON-declared column never rewrites.
    assert(!answersFromView(spark.table("gmvr.fact").groupBy(col("k1"), col("k2"))
      .agg(avg(col("id")).as("a"))))
  }

  test("non-identical computations never rewrite") {
    val _ = root
    val f = spark.table("gmvr.fact")
    // Filtered scan: not the view's input.
    assert(!answersFromView(f.filter(col("id") < 100)
      .groupBy(col("k1"), col("k2")).agg(count(lit(1)).as("n"))))
    // Unmaintained aggregate (stddev).
    assert(!answersFromView(f.groupBy(col("k1"), col("k2"))
      .agg(stddev(col("x")).as("m"))))
    // min/max of a NON-declared column (maintained only for the sum col).
    assert(!answersFromView(f.groupBy(col("k1"), col("k2"))
      .agg(max(col("id")).as("m"))))
    // Sum of a different column.
    assert(!answersFromView(f.groupBy(col("k1"), col("k2"))
      .agg(sum(col("id")).as("s"))))
    // Key OUTSIDE the view's set (k1 alone is now the ROLLUP positive —
    // pinned below — but any key the view does not carry can never fire).
    assert(!answersFromView(f.groupBy(col("id"))
      .agg(count(lit(1)).as("n"))))
    // Partial overlap is not a subset: (k1, id) must scan the base.
    assert(!answersFromView(f.groupBy(col("k1"), col("id"))
      .agg(count(lit(1)).as("n"))))
    // Distinct count is not count(*).
    assert(!answersFromView(f.groupBy(col("k1"), col("k2"))
      .agg(countDistinct(col("x")).as("d"))))
  }

  test("creating a view WHILE the rule is attached seeds from the base, not itself") {
    // V2 CTAS registers the target before running the seed query, and the
    // pre-seeded fold floor makes the empty shell look fresh — without the
    // gen>=1 guard the rule rewrites the view's own seed into a read of its
    // empty self and the view is born holding nothing.
    val _ = root
    spark.sql("DROP TABLE IF EXISTS gmvr.self_mv")
    spark.sql("CALL gmvr.system.create_mview(source => 'fact', " +
      "name => 'self_mv', keys => 'k1', sum_col => 'x')")
    val seeded = spark.table("gmvr.self_mv")
      .agg(sum(col("mv_count"))).head.getLong(0)
    assert(seeded === spark.table("gmvr.fact").count(),
      "the seed must aggregate the BASE table, never the empty view shell")
    spark.sql("DROP TABLE IF EXISTS gmvr.self_mv")
  }

  test("a policied base table never serves the (raw) view to policed sessions") {
    val _ = root
    spark.sql("ALTER TABLE gmvr.fact SET TBLPROPERTIES(" +
      "'graft.rowFilter' = 'id % 2 = 0', 'graft.policy.exemptRoles' = 'adm')")
    try {
      assert(!answersFromView(natural), "policied base must scan, not rewrite")
      // And the policed scan really filters.
      assert(natural.agg(sum(col("n"))).head.getLong(0) === 151) // 150 evens + id 900
    } finally spark.sql("ALTER TABLE gmvr.fact UNSET TBLPROPERTIES(" +
      "'graft.rowFilter', 'graft.policy.exemptRoles')")
  }

  test("ROLLUP: a coarser GROUP BY answers by re-aggregating the finer view") {
    val _ = root
    // Earlier tests' metadata commits (policy SET/UNSET) advanced the base
    // past the fold floor — refold so freshness holds for the rollup pins.
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    def coarse: DataFrame = spark.table("gmvr.fact").groupBy(col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        avg(col("x")).as("ax"))
      .orderBy(col("k1"))
    assert(answersFromView(coarse), s"expected view rollup, got ${scansOf(coarse)}")
    val got = coarse.collect().map(_.toSeq).toSeq
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try {
      val real = coarse
      assert(!answersFromView(real), "sanity: rule off, base scan")
      assert(real.collect().map(_.toSeq).toSeq === got,
        "rollup must reproduce the base aggregate exactly (count/sum/avg)")
    } finally cls.experimental.extraOptimizations = saved
  }

  test("FILTERED rewrite: key-only predicates replay on the view, exact and rollup") {
    val _ = root
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    // Exact keys + equality filter on a view key.
    def fExact: DataFrame = spark.table("gmvr.fact").filter(col("k2") === 1)
      .groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("k1"))
    assert(answersFromView(fExact), s"expected view scan, got ${scansOf(fExact)}")
    val gotExact = fExact.collect().map(_.toSeq).toSeq
    ruleOff {
      assert(!answersFromView(fExact), "sanity: rule off, base scan")
      assert(fExact.collect().map(_.toSeq).toSeq === gotExact)
    }
    // Rollup + RANGE filter (any deterministic key-only predicate commutes).
    def fRoll: DataFrame = spark.table("gmvr.fact").filter(col("k2") >= 1)
      .groupBy(col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), avg(col("x")).as("ax"))
      .orderBy(col("k1"))
    assert(answersFromView(fRoll), s"expected filtered rollup, got ${scansOf(fRoll)}")
    val gotRoll = fRoll.collect().map(_.toSeq).toSeq
    ruleOff { assert(fRoll.collect().map(_.toSeq).toSeq === gotRoll) }
    // Negatives: any DATA-column predicate refuses — the view cannot replay
    // a within-group selection.
    assert(!answersFromView(spark.table("gmvr.fact").filter(col("x") > 100)
      .groupBy(col("k1"), col("k2")).agg(count(lit(1)).as("n"))))
    assert(!answersFromView(spark.table("gmvr.fact").filter(col("id") === 5L)
      .groupBy(col("k1"), col("k2")).agg(count(lit(1)).as("n"))))
    // Mixed key+data predicate refuses too (one conjunct is enough to taint).
    assert(!answersFromView(spark.table("gmvr.fact")
      .filter(col("k2") === 1 && col("x") > 100)
      .groupBy(col("k1")).agg(count(lit(1)).as("n"))))
    // Non-deterministic key predicate refuses.
    assert(!answersFromView(spark.table("gmvr.fact")
      .filter(col("k2") === (rand() * 3).cast("long"))
      .groupBy(col("k1")).agg(count(lit(1)).as("n"))))
  }

  test("HAVING over a rewritten aggregate composes: the filter rides the view read") {
    // No special code path exists or is needed — the rewrite preserves the
    // Aggregate's output exprIds, so a parent Filter (HAVING) just applies
    // to the substituted result. This pin keeps that composition honest.
    val _ = root
    def having: DataFrame = {
      val agg = spark.table("gmvr.fact").groupBy(col("k1"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      agg.filter(col("sx") > 5000L).orderBy(col("k1"))
    }
    assert(answersFromView(having), s"expected view rollup, got ${scansOf(having)}")
    val got = having.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "fixture sanity: some group must clear the HAVING bar")
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try assert(having.collect().map(_.toSeq).toSeq === got)
    finally cls.experimental.extraOptimizations = saved
  }

  test("ANSI query over a LEGACY-folded view refuses; over an ANSI fold it serves") {
    // The fold's own sum() runs under the session's eval mode. A LEGACY fold
    // can store a WRAPPED mv_sum that an ANSI query would have raised
    // ARITHMETIC_OVERFLOW on — that pairing must refuse. An ANSI fold that
    // COMMITTED proves the stored sum is exact, so ANSI queries serve from
    // it; and a LEGACY query serves from either (wrapping addition is
    // associative, exact values agree).
    val _ = root
    import spark.implicits._
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    spark.sql("DROP TABLE IF EXISTS gmvr.modefact")
    spark.sql("DROP TABLE IF EXISTS gmvr.modefact_mv")
    (0L until 60L).map(i => (i, i % 5, i * 3 % 100))
      .toDF("id", "k", "x").writeTo("gmvr.modefact").create()
    // LEGACY fold: seed the view with ANSI off.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.sql("CALL gmvr.system.create_mview(source => 'modefact', " +
      "name => 'modefact_mv', keys => 'k', sum_col => 'x')")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      def q: DataFrame = spark.table("gmvr.modefact").groupBy(col("k"))
        .agg(sum(col("x")).as("s"), avg(col("x")).as("a"))
      def servesView(df: DataFrame): Boolean =
        scansOf(df).exists(_.contains("modefact_mv"))
      assert(!servesView(q),
        s"ANSI sum/avg must not serve a legacy-folded view, got ${scansOf(q)}")
      // count(*) carries no overflow-bearing arithmetic — it serves anyway.
      assert(servesView(spark.table("gmvr.modefact").groupBy(col("k"))
        .agg(count(lit(1)).as("n"))))
      // LEGACY query: serves regardless of the fold mode.
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(servesView(q), s"legacy query must serve, got ${scansOf(q)}")
      spark.conf.set("spark.sql.ansi.enabled", "true")
      // Recreate under ANSI: the committed fold proves exactness — serves.
      spark.sql("DROP TABLE IF EXISTS gmvr.modefact_mv")
      spark.sql("CALL gmvr.system.create_mview(source => 'modefact', " +
        "name => 'modefact_mv', keys => 'k', sum_col => 'x')")
      assert(servesView(q), s"ANSI fold must serve ANSI queries, got ${scansOf(q)}")
      // A LEGACY refresh WEAKENS the stamp: ANSI queries stop serving again.
      Seq((100L, 1L, 7L)).toDF("id", "k", "x").writeTo("gmvr.modefact").append()
      spark.conf.set("spark.sql.ansi.enabled", "false")
      spark.sql("CALL gmvr.system.refresh_mview(name => 'modefact_mv')")
      spark.conf.set("spark.sql.ansi.enabled", "true")
      assert(!servesView(q),
        "one legacy fold must permanently downgrade the ANSI-exactness stamp")
    } finally {
      spark.conf.set("spark.sql.ansi.enabled", ansiWas)
      spark.sql("DROP TABLE IF EXISTS gmvr.modefact_mv")
      spark.sql("DROP TABLE IF EXISTS gmvr.modefact")
    }
  }

  test("ROLLUP staleness: one source commit past the floor stops the rollup too") {
    val _ = root
    import spark.implicits._
    def coarse: DataFrame = spark.table("gmvr.fact").groupBy(col("k2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    Seq((901L, 2L, 2L, 60L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    assert(!answersFromView(coarse), "stale view must never serve a rollup")
    val n2 = coarse.filter(col("k2") === 2).head
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    assert(answersFromView(coarse))
    val again = coarse.filter(col("k2") === 2).head
    assert(again.getLong(1) === n2.getLong(1) && again.getLong(2) === n2.getLong(2))
  }

  test("JOIN-aggregate rewrite: fact ⋈ dim GROUP BY dim.attr serves via eager aggregation") {
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    spark.sql("DROP TABLE IF EXISTS gmvr.dim")
    // pk 0..6 matches fact.k1's domain; attr deliberately NON-unique so the
    // final grouping merges several view groups per output row.
    (0L until 7L).map(i => (i, i % 2, s"d$i")).toDF("pk", "attr", "label")
      .writeTo("gmvr.dim").create()
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    // by-name: a DataFrame caches its queryExecution, so the rule-off replay
    // must rebuild the frame to re-plan.
    def checkServes(df: => DataFrame, sortCols: Seq[String]): Unit = {
      val scans = scansOf(df)
      assert(scans.exists(_.contains("fact_mv")) && !scans.exists(_.contains("fact@")),
        s"expected the view to replace the fact scan, got $scans")
      val got = df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
      ruleOff {
        assert(!scansOf(df).exists(_.contains("fact_mv")), "sanity: rule off, base join")
        assert(df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq === got,
          "join rewrite must reproduce the base join-aggregate exactly")
      }
    }
    def fact = spark.table("gmvr.fact")
    def dim = spark.table("gmvr.dim")
    // The headline shape: GROUP BY a NON-KEY dim attribute.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .groupBy(col("attr"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), avg(col("x")).as("ax")),
      Seq("attr"))
    // Mixed grouping: dim attr + a fact-side VIEW KEY.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .groupBy(col("attr"), col("k2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("attr", "k2"))
    // Orientation: dim on the left.
    checkServes(dim.join(fact, col("pk") === col("k1"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("label"))
    // FILTERED dim: rides verbatim — drops the same groups on both paths.
    checkServes(fact.join(dim.filter(col("attr") === 1), col("k1") === col("pk"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("label"))
    // DUPLICATE dim keys: eager aggregation multiplies both sides
    // identically — exact WITHOUT any uniqueness declaration.
    spark.sql("DROP TABLE IF EXISTS gmvr.dupdim")
    (Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L)))
      .toDF("pk", "tag").writeTo("gmvr.dupdim").create()
    checkServes(fact.join(spark.table("gmvr.dupdim"), col("k1") === col("pk"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("tag"))
    spark.sql("DROP TABLE IF EXISTS gmvr.dupdim")
  }

  test("JOIN-aggregate rewrite no-fire battery and staleness stop") {
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    def fact = spark.table("gmvr.fact")
    def dim = spark.table("gmvr.dim")
    def served(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("fact_mv")) && !scans.exists(_.contains("fact@"))
    }
    // Join key NOT a view key: id is no grouping column of the view.
    assert(!served(fact.join(dim, col("id") === col("pk"))
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))))
    // Aggregate over a DIM column: the view has no per-join-row values.
    assert(!served(fact.join(dim, col("k1") === col("pk"))
      .groupBy(col("attr")).agg(sum(col("pk")).as("sp"))))
    // Non-equi join condition over a VIEW KEY: SOUND (view keys are
    // constant within a group, so any deterministic conjunct over them
    // keeps/drops whole groups) — must fire with identical results.
    locally {
      val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      def thetaQ = fact.join(dim, col("k1") < col("pk"))
        .groupBy(col("attr")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .orderBy(col("attr"))
      assert(served(thetaQ), s"theta conjunct over a view key must serve")
      val got = thetaQ.collect().map(_.toSeq).toSeq
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try assert(thetaQ.collect().map(_.toSeq).toSeq === got,
        "theta-join rewrite must reproduce the base join-aggregate exactly")
      finally cls.experimental.extraOptimizations = saved
    }
    // Non-equi join condition over a NON-KEY fact column still refuses.
    assert(!served(fact.join(dim, col("id") < col("pk"))
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))))
    // Fact-side DATA-column filter: not replayable on the view.
    assert(!served(fact.filter(col("x") > 100).join(dim, col("k1") === col("pk"))
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))))
    // Fact-side VIEW-KEY filter: replays on the view — fires.
    assert(served(fact.filter(col("k2") === 1).join(dim, col("k1") === col("pk"))
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))))
    // Sum of a non-declared fact column.
    assert(!served(fact.join(dim, col("k1") === col("pk"))
      .groupBy(col("attr")).agg(sum(col("id")).as("si"))))
    // Staleness: one fact commit past the floor stops the join rewrite too.
    Seq((904L, 5L, 2L, 90L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    def joined = fact.join(dim, col("k1") === col("pk"))
      .groupBy(col("attr"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("attr"))
    assert(!served(joined), "stale view must never serve the join rewrite")
    val before = joined.collect().map(_.toSeq).toSeq
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    assert(served(joined))
    assert(joined.collect().map(_.toSeq).toSeq === before,
      "post-refresh rewrite must serve the same numbers the base join computed")
  }

  test("MULTI-DIM join rewrite: fact ⋈ d1 ⋈ d2 substitutes the view once") {
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    spark.sql("DROP TABLE IF EXISTS gmvr.dim2")
    // qk 0..2 matches fact.k2's domain; cat groups the three keys into two.
    (0L until 3L).map(i => (i, if (i == 0) "a" else "b"))
      .toDF("qk", "cat").writeTo("gmvr.dim2").create()
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    def checkServes(df: => DataFrame, sortCols: Seq[String]): Unit = {
      val scans = scansOf(df)
      assert(scans.exists(_.contains("fact_mv")) && !scans.exists(_.contains("fact@")),
        s"expected the view to replace the fact scan, got $scans")
      val got = df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
      ruleOff {
        assert(!scansOf(df).exists(_.contains("fact_mv")), "sanity: rule off")
        assert(df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq === got,
          "multi-dim rewrite must reproduce the base 3-table aggregate exactly")
      }
    }
    def fact = spark.table("gmvr.fact")
    def dim = spark.table("gmvr.dim")
    def dim2 = spark.table("gmvr.dim2")
    // The normalized dashboard shape: both fact join keys are view keys,
    // grouping entirely dim-side across BOTH dimensions.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("k2") === col("qk"))
      .groupBy(col("attr"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), avg(col("x")).as("ax")),
      Seq("attr", "cat"))
    // Mixed grouping: dim1 attr + dim2 cat + a fact-side VIEW KEY.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("k2") === col("qk"))
      .groupBy(col("attr"), col("cat"), col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("attr", "cat", "k1"))
    // Orientation: fact deep on the right of a left-leaning tree.
    checkServes(dim.join(fact, col("pk") === col("k1"))
      .join(dim2, col("k2") === col("qk"))
      .groupBy(col("label"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("label", "cat"))
    // SNOWFLAKE: d2 hangs off d1, not the fact — the d1.attr = d2.qk
    // conjunct touches no fact column and rides verbatim.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("attr") === col("qk"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("cat"))
    // Filtered dims ride verbatim on both paths.
    checkServes(fact.join(dim.filter(col("attr") === 1), col("k1") === col("pk"))
      .join(dim2.filter(col("cat") === "b"), col("k2") === col("qk"))
      .groupBy(col("label"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("label", "cat"))
    // --- no-fire battery ---
    def served(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("fact_mv")) && !scans.exists(_.contains("fact@"))
    }
    // Second join key NOT a view key (id): the whole tree refuses.
    assert(!served(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("id") === col("qk"))
      .groupBy(col("attr"), col("cat")).agg(count(lit(1)).as("n"))))
    // Aggregate over a SECOND-dim column: no per-join-row values in the view.
    assert(!served(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("k2") === col("qk"))
      .groupBy(col("attr")).agg(sum(col("qk")).as("sq"))))
    // r15: an OUTER join on the fact's path with the fact PRESERVED is now
    // inside the proven tree shape — the mixed outer∘inner composition
    // serves with base-identical results (the view group null-extends
    // through the outer leg together, then the inner k2=qk conjunct — a
    // fact view key untouched by the null-extension — keeps/drops it whole;
    // the refusing orientations are pinned in the outer-join test).
    checkServes(fact.join(dim, col("k1") === col("pk"), "left")
      .join(dim2, col("k2") === col("qk"))
      .groupBy(col("attr"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("attr", "cat"))
    // HAVING composes above the rewritten JOIN-aggregate exactly as it does
    // above the single-table rewrite: the post-aggregate filter references
    // the aggregate's outputs by exprId, and the rewrite preserves them.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("k2") === col("qk"))
      .groupBy(col("attr"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .filter(col("sx") > 2000),
      Seq("attr", "cat"))
    // A non-equi conjunct over a VIEW KEY anywhere in the tree is sound and
    // fires (group constancy); over a NON-KEY fact column it refuses.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("k2") < col("qk"))
      .groupBy(col("attr"), col("cat"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("attr", "cat"))
    assert(!served(fact.join(dim, col("k1") === col("pk"))
      .join(dim2, col("id") < col("qk"))
      .groupBy(col("attr"), col("cat")).agg(count(lit(1)).as("n"))))
    spark.sql("DROP TABLE IF EXISTS gmvr.dim2")
  }

  test("GENERATED-column grouping keys: GROUP BY <expr> serves a view keyed on the declared column") {
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.gkfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.gkfact_mv")
    // Two declared rules: an arithmetic bucket and a calendar extraction
    // (the month(ts) shape — exercises timezone-resolved canonical compare).
    (0L until 240L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-${i % 12 + 1}%02d-15 00:00:00"),
        i * 7 % 500)
    }.toDF("id", "ts", "x")
      .withColumn("kb", expr("id % 12"))
      .withColumn("ts_month", expr("month(ts)"))
      .writeTo("gmvr.gkfact")
      .tableProperty("generate.kb", "id % 12")
      .tableProperty("generate.ts_month", "month(ts)")
      .create()
    spark.sql("CALL gmvr.system.create_mview(source => 'gkfact', " +
      "name => 'gkfact_mv', keys => 'kb,ts_month', sum_col => 'x')")
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    def served(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("gkfact_mv")) && !scans.exists(_.contains("gkfact@"))
    }
    def checkServes(df: => DataFrame): Unit = {
      assert(served(df), s"expected the view to serve, got ${scansOf(df)}")
      val got = df.collect().map(_.toSeq).toSeq
      ruleOff {
        assert(!served(df), "sanity: rule off, base scan")
        assert(df.collect().map(_.toSeq).toSeq === got,
          "generated-key rewrite must reproduce the base aggregate exactly")
      }
    }
    def fact = spark.table("gmvr.gkfact")
    // Exact: both grouping expressions match their declarations.
    checkServes(fact.groupBy(expr("id % 12"), expr("month(ts)"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("(id % 12)")))
    // ROLLUP through an expression key: one expression, re-aggregated.
    checkServes(fact.groupBy(expr("month(ts)").as("m"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), avg(col("x")).as("ax"))
      .orderBy(col("m")))
    // Mixed: the generated COLUMN itself plus the OTHER expression.
    checkServes(fact.groupBy(col("kb"), expr("month(ts)").as("m"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("kb"), col("m")))
    // Refusals: an expression that DIFFERS from the declaration (year vs
    // month; id % 10 vs id % 12) must never fire.
    assert(!served(fact.groupBy(expr("year(ts)"))
      .agg(count(lit(1)).as("n"))))
    assert(!served(fact.groupBy(expr("id % 10"))
      .agg(count(lit(1)).as("n"))))
    // A declaration-matching expression over a STALE view still refuses.
    Seq((900L, java.sql.Timestamp.valueOf("2024-03-15 00:00:00"), 77L))
      .toDF("id", "ts", "x")
      .withColumn("kb", expr("id % 12")).withColumn("ts_month", expr("month(ts)"))
      .writeTo("gmvr.gkfact").append()
    assert(!served(fact.groupBy(expr("month(ts)")).agg(count(lit(1)).as("n"))),
      "stale view must never serve an expression-keyed rewrite")
    spark.sql("CALL gmvr.system.refresh_mview(name => 'gkfact_mv')")
    checkServes(fact.groupBy(expr("month(ts)").as("m"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")).orderBy(col("m")))
    // Expression keys through the JOIN rewrite: "monthly revenue by region"
    // — a fact-side generation-rule expression plus a dim attribute, and a
    // dim-side EXPRESSION key riding verbatim.
    spark.sql("DROP TABLE IF EXISTS gmvr.gkdim")
    (1L until 13L).map(i => (i, if (i <= 6) "h1" else "h2"))
      .toDF("dm", "half").writeTo("gmvr.gkdim").create()
    def dim = spark.table("gmvr.gkdim")
    checkServes(fact.join(dim, col("ts_month") === col("dm"))
      .groupBy(expr("month(ts)").as("m"), col("half"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("m"), col("half")))
    checkServes(fact.join(dim, col("ts_month") === col("dm"))
      .groupBy(expr("upper(half)").as("uh"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("uh")))
    // A fact-side expression matching NO declaration refuses through the
    // join too; a mixed fact+dim expression always refuses.
    assert(!served(fact.join(dim, col("ts_month") === col("dm"))
      .groupBy(expr("year(ts)")).agg(count(lit(1)).as("n"))))
    assert(!served(fact.join(dim, col("ts_month") === col("dm"))
      .groupBy(concat(expr("month(ts)"), col("half")))
      .agg(count(lit(1)).as("n"))))
    // GROUPING SETS over generated-key EXPRESSIONS (B189 ∘ B5 ∘ B234): the
    // optimizer pulls month(ts)/id%12 into a _groupingexpression Project
    // BELOW the Expand; the rewrite peels it and resolves each key position
    // through the declarations — the monthly-cube dashboard shape.
    checkServes(fact.rollup(expr("month(ts)").as("m"), expr("id % 12").as("kb2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("m").asc_nulls_first, col("kb2").asc_nulls_first, col("n")))
    checkServes(fact.cube(expr("month(ts)").as("m"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), avg(col("x")).as("ax"))
      .orderBy(col("m").asc_nulls_first, col("n")))
    // Mixed declared-column + expression rollup serves; an undeclared
    // expression refuses.
    checkServes(fact.rollup(col("kb"), expr("month(ts)").as("m"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("kb").asc_nulls_first, col("m").asc_nulls_first, col("n")))
    assert(!served(fact.rollup(expr("year(ts)")).agg(count(lit(1)).as("n"))),
      "an undeclared expression must refuse through the Expand too")
    spark.sql("DROP TABLE IF EXISTS gmvr.gkdim")
    spark.sql("DROP TABLE IF EXISTS gmvr.gkfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.gkfact")
  }

  test("ROLLUP / CUBE / GROUPING SETS serve from the view via a rewritten Expand") {
    val _ = root
    // Earlier tests' metadata commits advanced the base — refold first.
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    graft.plans.MviewRewriteRule.invalidateCache()
    def checkServes(df: => DataFrame, sortCols: Seq[String]): Unit = {
      assert(answersFromView(df), s"expected view scan, got ${scansOf(df)}")
      val got = df.orderBy(sortCols.map(c => col(c).asc_nulls_first): _*)
        .collect().map(_.toSeq).toSeq
      val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try {
        assert(!answersFromView(df), "sanity: rule off, base scan")
        assert(df.orderBy(sortCols.map(c => col(c).asc_nulls_first): _*)
          .collect().map(_.toSeq).toSeq === got,
          "grouping-sets rewrite must reproduce the base result exactly")
      } finally cls.experimental.extraOptimizations = saved
    }
    def fact = spark.table("gmvr.fact")
    // ROLLUP with the full maintained-aggregate battery.
    checkServes(fact.rollup(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), avg(col("x")).as("ax"),
        min(col("x")).as("mn"), max(col("x")).as("mx")), Seq("k1", "k2", "n"))
    // CUBE, with the sketched distinct riding through the Expand.
    checkServes(fact.cube(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"),
        expr("hll_sketch_estimate(hll_sketch_agg(x))").as("nd")),
      Seq("k1", "k2", "n"))
    // SQL GROUPING SETS with grouping()/grouping_id() outputs (bit
    // arithmetic over the gid attribute — rides verbatim).
    checkServes(spark.sql(
      "SELECT k1, k2, grouping(k1) AS g1, grouping_id() AS gid, " +
        "count(*) AS n, sum(x) AS sx FROM gmvr.fact " +
        "GROUP BY GROUPING SETS ((k1), (k1, k2), ())"),
      Seq("gid", "k1", "k2"))
    // Key-only filter replays on the view below the rewritten Expand.
    checkServes(fact.filter(col("k2") === 1).rollup(col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")), Seq("k1", "n"))
    // REFUSALS: a non-view-key grouping column; a data-column filter; an
    // aggregate over a KEY position (its expanded values are structurally
    // nulled — no view column carries that); rollup over an EXPRESSION.
    assert(!answersFromView(fact.rollup(col("k1"), col("id"))
      .agg(count(lit(1)).as("n"))))
    assert(!answersFromView(fact.filter(col("x") > 500).rollup(col("k1"))
      .agg(count(lit(1)).as("n"))))
    assert(!answersFromView(fact.rollup(col("k1"))
      .agg(sum(col("k2")).as("sk"))))
    assert(!answersFromView(fact.rollup(expr("k1 % 2"))
      .agg(count(lit(1)).as("n"))))
    // Spark lowers MULTI-DISTINCT aggregates to an Expand too
    // (RewriteDistinctAggregates) — a structurally different beast whose
    // "key" positions are the distinct columns. The position classifier
    // refuses it because the aggregates read KEY-classified (structurally
    // nulled) positions, never passthroughs — pin that, with result
    // equality as the belt-and-braces.
    def distinctQ = fact.groupBy(col("k1"))
      .agg(countDistinct(col("x")).as("ndx"), countDistinct(col("k2")).as("ndk"),
        sum(col("x")).as("sx"))
    assert(!answersFromView(distinctQ),
      "the multi-distinct Expand lowering must never classify as a rollup")
    val gotD = distinctQ.orderBy(col("k1")).collect().map(_.toSeq).toSeq
    val cls2 = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved2 = cls2.experimental.extraOptimizations
    cls2.experimental.extraOptimizations = Nil
    try assert(distinctQ.orderBy(col("k1")).collect().map(_.toSeq).toSeq === gotD)
    finally cls2.experimental.extraOptimizations = saved2
  }

  test("rewrite fires through SQL views and CTEs") {
    // Users rarely aggregate the raw table name: they write CREATE VIEW /
    // WITH and aggregate over that. The analyzer inlines the view body and
    // the main optimizer collapses the SubqueryAlias/Project shell before
    // the terminal user-rule batch, so the rewrite must see through:
    //  - a SELECT * shell view,
    //  - a RENAMING view (aliases re-point exprIds, names must re-emit),
    //  - a WITH CTE,
    // and must still REFUSE a view that FILTERS on a data column (the shell
    // is not a full scan of the source).
    val _ = root
    def checkSql(sql: String, sortCols: Seq[String]): Unit = {
      val df = spark.sql(sql)
      assert(answersFromView(df), s"expected view scan for [$sql], got ${scansOf(df)}")
      val got = df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
      val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try {
        val real = spark.sql(sql)
        assert(!answersFromView(real), "sanity: rule off, base scan")
        assert(real.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
          === got, s"rewrite through [$sql] changed results")
      } finally cls.experimental.extraOptimizations = saved
    }
    spark.sql(
      "CREATE OR REPLACE TEMPORARY VIEW mvr_shell AS SELECT * FROM gmvr.fact")
    checkSql("SELECT k1, k2, count(*) AS n, sum(x) AS sx FROM mvr_shell " +
      "GROUP BY k1, k2", Seq("k1", "k2"))
    // Rollup through the shell view.
    checkSql("SELECT k1, count(*) AS n, avg(x) AS ax FROM mvr_shell " +
      "GROUP BY k1", Seq("k1"))
    // Renaming view: grouping and aggregating under the view's own names.
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW mvr_named AS " +
      "SELECT k1 AS a, k2 AS b, x AS val FROM gmvr.fact")
    checkSql("SELECT a, b, count(*) AS n, sum(val) AS sv FROM mvr_named " +
      "GROUP BY a, b", Seq("a", "b"))
    // WITH CTE.
    checkSql("WITH c AS (SELECT * FROM gmvr.fact) " +
      "SELECT k1, count(*) AS n, sum(x) AS sx FROM c GROUP BY k1", Seq("k1"))
    // Key-only-filtered CTE still serves (filter replays on the view).
    checkSql("WITH c AS (SELECT * FROM gmvr.fact WHERE k2 = 1) " +
      "SELECT k1, count(*) AS n FROM c GROUP BY k1", Seq("k1"))
    // A DATA-column-filtering view is not a full scan — refuse.
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW mvr_cut AS " +
      "SELECT * FROM gmvr.fact WHERE x > 100")
    assert(!answersFromView(spark.sql(
      "SELECT k1, count(*) AS n FROM mvr_cut GROUP BY k1")),
      "a data-filtered view shell must refuse")
    spark.sql("DROP VIEW IF EXISTS mvr_shell")
    spark.sql("DROP VIEW IF EXISTS mvr_named")
    spark.sql("DROP VIEW IF EXISTS mvr_cut")
  }

  test("HLL sketch column: estimate-shape distinct serves; exact COUNT(DISTINCT) refuses") {
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.hfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.hfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.hdim")
    // Distinct-per-group stays far under the lgK=12 coupon promotion point
    // (384), so every estimate below is EXACT and strict equality is sound.
    (0L until 360L).map(i => (i, i % 4, i % 3, i * 7 % 120))
      .toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.hfact").tableProperty("dml", "dv").create()
    spark.sql("CALL gmvr.system.create_mview(source => 'hfact', " +
      "name => 'hfact_mv', keys => 'k1,k2', sum_col => 'x')")
    (0L until 4L).map(i => (i, if (i < 2) "lo" else "hi"))
      .toDF("pk", "half").writeTo("gmvr.hdim").create()
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    def served(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("hfact_mv")) && !scans.exists(_.contains("hfact@"))
    }
    def checkServes(df: => DataFrame, sortCols: Seq[String]): Unit = {
      assert(served(df), s"expected the view to serve, got ${scansOf(df)}")
      val got = df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
      ruleOff {
        assert(!served(df), "sanity: rule off, base scan")
        assert(df.orderBy(sortCols.map(col): _*).collect().map(_.toSeq).toSeq
          === got, "HLL rewrite must reproduce the base result exactly " +
          "(coupon mode)")
      }
    }
    def fact = spark.table("gmvr.hfact")
    def dim = spark.table("gmvr.hdim")
    val est = expr("hll_sketch_estimate(hll_sketch_agg(x))")
    // Exact key match: the stored sketch serves directly.
    checkServes(fact.groupBy(col("k1"), col("k2"))
      .agg(est.as("nd"), count(lit(1)).as("n")), Seq("k1", "k2"))
    // ROLLUP: union of the finer groups' sketches.
    checkServes(fact.groupBy(col("k1"))
      .agg(est.as("nd"), sum(col("x")).as("sx")), Seq("k1"))
    // Mixed with every other maintained aggregate.
    checkServes(fact.groupBy(col("k2"))
      .agg(est.as("nd"), count(lit(1)).as("n"), avg(col("x")).as("ax"),
        min(col("x")).as("mn"), max(col("x")).as("mx")), Seq("k2"))
    // Explicit lgK equal to the view's stamped 12 serves too.
    checkServes(fact.groupBy(col("k1"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(x, 12))").as("nd")),
      Seq("k1"))
    // JOIN rewrite: union is multiplicity-blind, dim subtree rides verbatim.
    checkServes(fact.join(dim, col("k1") === col("pk"))
      .groupBy(col("half")).agg(est.as("nd"), count(lit(1)).as("n")),
      Seq("half"))
    // REFUSALS. Exact COUNT(DISTINCT x): a sketch is not an exact count.
    assert(!served(fact.groupBy(col("k1"))
      .agg(countDistinct(col("x")).as("nd"))),
      "exact COUNT(DISTINCT) must never serve from a sketch")
    // A different lgK is a different estimator precision.
    assert(!served(fact.groupBy(col("k1"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(x, 13))").as("nd"))))
    // The raw sketch BINARY never serves (serialization is insertion-order-
    // dependent — bitwise equality is not a property of either path).
    assert(!served(fact.groupBy(col("k1"))
      .agg(expr("hll_sketch_agg(x)").as("sk"))))
    // A sketch over a NON-declared column has no view column to serve it.
    assert(!served(fact.groupBy(col("k1"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(id))").as("nd"))))
    // FOLD — inserts only: new distinct values union in, work ∝ delta.
    (1000L until 1030L).map(i => (i, i % 4, i % 3, 200L + i % 50))
      .toDF("id", "k1", "k2", "x").writeTo("gmvr.hfact").append()
    assert(!served(fact.groupBy(col("k1")).agg(est.as("nd"))),
      "stale view must not serve")
    spark.sql("CALL gmvr.system.refresh_mview(name => 'hfact_mv')")
    checkServes(fact.groupBy(col("k1")).agg(est.as("nd"),
      count(lit(1)).as("n")), Seq("k1"))
    // FOLD — a non-NULL DELETE invalidates the group's sketch (it may have
    // removed a value's last occurrence); the fold recomputes exactly the
    // affected groups and the estimate matches the base again.
    spark.sql("DELETE FROM gmvr.hfact WHERE id >= 1000 AND id < 1015")
    spark.sql("CALL gmvr.system.refresh_mview(name => 'hfact_mv')")
    checkServes(fact.groupBy(col("k1"), col("k2"))
      .agg(est.as("nd"), count(lit(1)).as("n")), Seq("k1", "k2"))
    checkServes(fact.groupBy(col("k2")).agg(est.as("nd")), Seq("k2"))
    spark.sql("DROP TABLE IF EXISTS gmvr.hdim")
    spark.sql("DROP TABLE IF EXISTS gmvr.hfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.hfact")
  }

  test("generated-key timezone pin: calendar rules serve and write only in the pinned zone") {
    val r = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.tzfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.tzfact_mv")
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    (0L until 120L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-${i % 12 + 1}%02d-15 12:00:00"),
        i % 100)
    }.toDF("id", "ts", "x")
      .withColumn("kb", expr("id % 12"))
      .withColumn("ts_month", expr("month(ts)"))
      .writeTo("gmvr.tzfact")
      .tableProperty("generate.kb", "id % 12")
      .tableProperty("generate.ts_month", "month(ts)")
      .create()
    // CREATE pinned the creating session's zone onto the CALENDAR rule only:
    // month(ts) is one-function-per-zone; id % 12 is zone-free.
    val props = spark.sql("SHOW TBLPROPERTIES gmvr.tzfact").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(props.get("generate.tz.ts_month").exists(z =>
      graft.sources.GraftGenerated.sameZone(z, zone0)),
      s"calendar rule must carry the creating zone, got $props")
    assert(!props.contains("generate.tz.kb"),
      "a zone-free rule must NOT be pinned")
    spark.sql("CALL gmvr.system.create_mview(source => 'tzfact', " +
      "name => 'tzfact_mv', keys => 'kb,ts_month', sum_col => 'x')")
    def served(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("tzfact_mv")) && !scans.exists(_.contains("tzfact@"))
    }
    def fact = spark.table("gmvr.tzfact")
    def monthQ = fact.groupBy(expr("month(ts)").as("m")).agg(sum(col("x")).as("sx"))
    def bucketQ = fact.groupBy(expr("id % 12")).agg(count(lit(1)).as("n"))
    assert(served(monthQ) && served(bucketQ),
      "pinned zone == session zone must serve both rules")
    val other =
      if (graft.sources.GraftGenerated.sameZone(zone0, "America/New_York"))
        "Asia/Tokyo" else "America/New_York"
    try {
      spark.conf.set("spark.sql.session.timeZone", other)
      // A query session in ANOTHER zone: the stored ts_month values are the
      // pinned zone's calendar, not this session's — the rewrite refuses.
      // The zone-free bucket rule keeps serving.
      assert(!served(monthQ), "calendar rule must refuse in a non-pinned zone")
      assert(served(bucketQ), "zone-free rule must keep serving")
      // A writer in another zone would enforce (and auto-fill) a DIFFERENT
      // function — the write invariant gate refuses loudly.
      val thrown = intercept[Throwable] {
        Seq((900L, java.sql.Timestamp.valueOf("2024-03-15 12:00:00"), 5L))
          .toDF("id", "ts", "x")
          .withColumn("kb", expr("id % 12"))
          .withColumn("ts_month", expr("month(ts)"))
          .writeTo("gmvr.tzfact").append()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(thrown).exists(_.contains("pinned to timezone")),
        s"write under the wrong zone must name the pin, got $thrown")
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
    assert(served(monthQ), "back in the pinned zone the rule serves again")
    // The pin is engine-managed: neither SET nor lone UNSET may touch it
    // (re-pinning over existing data would bless foreign-zone writes).
    intercept[Throwable] { spark.sql(
      s"ALTER TABLE gmvr.tzfact SET TBLPROPERTIES ('generate.tz.ts_month'='$other')") }
    intercept[Throwable] { spark.sql(
      "ALTER TABLE gmvr.tzfact UNSET TBLPROPERTIES ('generate.tz.ts_month')") }
    // LEGACY declaration (no pin — historical rows written under unknown
    // zones): strip the stamp by manifest surgery; the calendar rule must
    // refuse even in the declaring session. (The props-only commit advances
    // the source generation, so re-freshen the view first — the staleness
    // gate would otherwise mask the zone refusal.)
    val dir = new org.apache.hadoop.fs.Path(r, "tzfact")
    val hconf = spark.sessionState.newHadoopConf()
    graft.sources.GraftManifest.publishNext(dir, hconf) { cur =>
      cur.copy(gen = cur.gen + 1, props = cur.props - "generate.tz.ts_month")
    }
    spark.sql("CALL gmvr.system.refresh_mview(name => 'tzfact_mv')")
    assert(served(bucketQ), "sanity: view fresh again, zone-free rule serves")
    assert(!served(monthQ),
      "an unpinned calendar rule must refuse — historical zones are unknown")
    spark.sql("DROP TABLE IF EXISTS gmvr.tzfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.tzfact")
  }

  test("property: rewrite-on == rewrite-off over randomized shapes (seeded)") {
    // A seeded sweep over the qualifying-shape space the handpicked pins
    // sample: random fact (NULL-bearing keys, negative sums), a view on a
    // random key pair, then random single-table / rollup / filtered / join /
    // theta / dup-dim-key aggregates — every one must produce identical
    // results with the rule attached and detached. Any soundness gap in the
    // classification, the eager-aggregation algebra, or the NULL handling
    // shows up as a value diff here before a user query finds it.
    val _ = root
    import spark.implicits._
    val rnd = new scala.util.Random(421302L)
    spark.sql("DROP TABLE IF EXISTS gmvr.pfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.pfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.pdim")
    (0L until 400L).map { i =>
      val k1 = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong)
      val k2 = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(4).toLong)
      val x = if (rnd.nextInt(15) == 0) None
              else Some(rnd.nextInt(2001).toLong - 1000L)
      (i, k1, k2, x)
    }.toDF("id", "k1", "k2", "x").writeTo("gmvr.pfact").create()
    spark.sql("CALL gmvr.system.create_mview(source => 'pfact', " +
      "name => 'pfact_mv', keys => 'k1,k2', sum_col => 'x')")
    // Dim with DUPLICATE and MISSING keys: pk values 0..7 (6,7 match nothing),
    // value 2 twice — the multiplicity/filter edge cases ride every join.
    ((0L to 7L).map(i => (i, i % 3, s"d$i")) :+ ((2L, 99L, "dup")))
      .toDF("pk", "attr", "lbl").writeTo("gmvr.pdim").create()
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    def fact = spark.table("gmvr.pfact")
    def dim = spark.table("gmvr.pdim")
    val aggPool: Seq[Seq[org.apache.spark.sql.Column]] = Seq(
      Seq(count(lit(1)).as("n")),
      Seq(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq(sum(col("x")).as("sx"), avg(col("x")).as("ax")),
      Seq(min(col("x")).as("mn"), max(col("x")).as("mx"), count(lit(1)).as("n")),
      Seq(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        avg(col("x")).as("ax"), min(col("x")).as("mn"), max(col("x")).as("mx")),
      Seq(count(col("x")).as("nnx"), count(lit(1)).as("n")),
      // Sketchable distinct (HllOut): per-group distinct x stays far under
      // the lgK=12 coupon promotion point here (≤ ~130), so the estimate is
      // EXACT on both paths and the strict equality check is sound.
      Seq(expr("hll_sketch_estimate(hll_sketch_agg(x))").as("nd"),
        count(lit(1)).as("n")),
      Seq(expr("hll_sketch_estimate(hll_sketch_agg(x))").as("nd"),
        sum(col("x")).as("sx"), min(col("x")).as("mn")))
    // Fires per rewrite-path family: the total alone would still pass if
    // one path stopped firing (rule on and off would then simply agree).
    val Single = "single-table/rollup/filtered"
    val JoinF = "join"
    val GSets = "grouping sets"
    val MultiD = "multi-distinct"
    val firedBy = scala.collection.mutable.Map(
      Seq(Single, JoinF, GSets, MultiD).map(_ -> 0): _*)
    def check(label: String, family: String, df: => DataFrame,
        sortCols: Seq[String]): Unit = {
      val scans = scansOf(df)
      val serves = scans.exists(_.contains("pfact_mv")) &&
        !scans.exists(_.contains("pfact@"))
      if (serves) firedBy(family) += 1
      val got = df.orderBy(sortCols.map(c => col(c).asc_nulls_first): _*)
        .collect().map(_.toSeq).toSeq
      ruleOff {
        val base = df.orderBy(sortCols.map(c => col(c).asc_nulls_first): _*)
          .collect().map(_.toSeq).toSeq
        assert(base === got, s"[$label serves=$serves] rewrite changed results")
      }
    }
    for (trial <- 0 until 24) {
      val aggs = aggPool(rnd.nextInt(aggPool.size))
      rnd.nextInt(8) match {
        case 0 => // single-table: exact or rollup keys
          val keys = Seq(Seq("k1", "k2"), Seq("k1"), Seq("k2"))(rnd.nextInt(3))
          check(s"t$trial single", Single, fact.groupBy(keys.map(col): _*)
            .agg(aggs.head, aggs.tail: _*), keys)
        case 1 => // key-filtered rollup
          val kv = rnd.nextInt(4).toLong
          check(s"t$trial filtered", Single, fact.filter(col("k2") === kv)
            .groupBy(col("k1")).agg(aggs.head, aggs.tail: _*), Seq("k1"))
        case 2 => // join on k1 (dup + missing dim keys), group by dim attr
          val gk = Seq("attr", "lbl")(rnd.nextInt(2))
          check(s"t$trial join", JoinF, fact.join(dim, col("k1") === col("pk"))
            .groupBy(col(gk)).agg(aggs.head, aggs.tail: _*), Seq(gk))
        case 3 => // theta conjunct over a view key + mixed grouping
          check(s"t$trial theta", JoinF, fact.join(dim,
              col("k1") === col("pk") && col("k2") <= col("pk"))
            .groupBy(col("attr"), col("k2"))
            .agg(aggs.head, aggs.tail: _*), Seq("attr", "k2"))
        case 4 => // grouping sets over NULL-bearing keys: structural NULLs
          // (Expand) vs natural NULLs (the fixture's None keys) — the gid
          // disambiguation must survive the view substitution exactly.
          // Sorted on EVERY output column: the natural (null,null) group
          // and the grand-total row share a key tuple and only the agg
          // values separate them.
          val shapePick = rnd.nextInt(3)
          def df = (shapePick match {
            case 0 => fact.rollup(col("k1"), col("k2"))
            case 1 => fact.cube(col("k1"), col("k2"))
            case 2 => fact.rollup(col("k2"))
          }).agg(aggs.head, aggs.tail: _*)
          check(s"t$trial gsets", GSets, df, df.columns.toSeq)
        case 5 => // r15 OUTER join: NULL-bearing fact keys never match (the
          // null-extension battery), missing dim keys null-extend whole
          // groups, dup keys multiply matched ones.
          val gk = Seq("attr", "lbl")(rnd.nextInt(2))
          check(s"t$trial louter", JoinF, fact.join(dim, col("k1") === col("pk"),
              "left")
            .groupBy(col(gk)).agg(aggs.head, aggs.tail: _*), Seq(gk))
        case 6 => // r15 SEMI/ANTI join: set-wise keep/drop of whole groups.
          val jt = if (rnd.nextBoolean()) "left_semi" else "left_anti"
          check(s"t$trial $jt", JoinF, fact.join(dim, col("k1") === col("pk"), jt)
            .groupBy(col("k2")).agg(aggs.head, aggs.tail: _*), Seq("k2"))
        case 7 => // r15 distinct counts: the single-group mix (served by the
          // single-table path) and the multi-group Expand lowering, over
          // NULL-bearing keys (distinct skips NULLs identically on both
          // paths).
          if (rnd.nextBoolean())
            check(s"t$trial mdist", Single, fact.groupBy(col("k1"))
              .agg(countDistinct(col("k2")).as("ndk"),
                count(lit(1)).as("n"), sum(col("x")).as("sx")), Seq("k1"))
          else
            check(s"t$trial mdist2", MultiD, fact.agg(
              countDistinct(col("k1")).as("nd1"),
              countDistinct(col("k2")).as("nd2"),
              sum(col("x")).as("sx"), count(lit(1)).as("n")), Seq("nd1"))
      }
    }
    val fired = firedBy.values.sum
    info(s"fires per family: $firedBy")
    assert(fired >= 14, s"property sweep exercised the rewrite only $fired/24 " +
      "times — the generator no longer hits the qualifying space")
    firedBy.foreach { case (family, n) =>
      assert(n >= 1, s"no $family shape fired in the sweep ($firedBy) — " +
        "rule on and off agree vacuously for that path")
    }
    spark.sql("DROP TABLE IF EXISTS gmvr.pfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.pfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.pdim")
  }

  test("CALL graft.system.diagnostics() surfaces near-miss notes over SQL") {
    val _ = root
    import spark.implicits._
    graft.plans.MviewDiagnostics.clear()
    graft.plans.RelyDiagnostics.clear()
    // Make the view stale; the refused rewrite's note must be queryable.
    Seq((905L, 6L, 0L, 95L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    assert(!answersFromView(natural), "stale view must refuse")
    val notes = spark.sql("CALL gmvr.system.diagnostics(ring => 'mview')")
      .collect()
    assert(notes.exists(r => r.getString(0) == "mview" &&
      r.getString(1).contains("STALE") && r.getString(1).contains("fact_mv")),
      s"expected the stale near-miss over SQL, got ${notes.mkString("; ")}")
    // clear => true drops the returned ring.
    spark.sql("CALL gmvr.system.diagnostics(clear => true)").collect()
    assert(spark.sql("CALL gmvr.system.diagnostics()").collect().isEmpty,
      "cleared rings must read back empty")
    // A FIRED rewrite leaves no note.
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    assert(answersFromView(natural))
    assert(spark.sql("CALL gmvr.system.diagnostics(ring => 'mview')")
      .collect().isEmpty, "a served rewrite must leave no note")
    // Unknown ring name refuses loudly.
    val bad = intercept[Exception] {
      spark.sql("CALL gmvr.system.diagnostics(ring => 'nope')").collect()
    }
    assert(bad.getMessage.contains("rely | mview | all"))
  }

  test("MIN/MAX mviews: delete-aware maintenance keeps extremes exact") {
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.mmfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.mmfact_mv")
    // x NULL on every 5th row; the k=3 group is ENTIRELY NULL (its min/max
    // must stay NULL through serve and fold).
    (0L until 120L).map(i => (i, i % 4,
        if (i % 5 == 0 || i % 4 == 3) None else Some(i * 13 % 97): Option[Long]))
      .toDF("id", "k", "x").writeTo("gmvr.mmfact").create()
    spark.sql("CALL gmvr.system.create_mview(source => 'mmfact', " +
      "name => 'mmfact_mv', keys => 'k', sum_col => 'x')")
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    def q: DataFrame = spark.table("gmvr.mmfact").groupBy(col("k"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"),
        count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .orderBy(col("k"))
    def serves(df: DataFrame): Boolean =
      scansOf(df).exists(_.contains("mmfact_mv"))
    assert(serves(q), s"min/max must serve from the view, got ${scansOf(q)}")
    val got = q.collect().map(_.toSeq).toSeq
    ruleOff { assert(q.collect().map(_.toSeq).toSeq === got) }
    assert(got.exists(r => r.head == 3L && r(1) == null && r(2) == null),
      s"all-NULL group extremes must be NULL, got $got")
    // Extremum-stripping DML: delete every value >= 90 (group maxima),
    // delete one strictly-interior value, insert a new global max and a NULL.
    spark.sql("DELETE FROM gmvr.mmfact WHERE x >= 90")
    spark.sql("DELETE FROM gmvr.mmfact WHERE x = 13")
    Seq((200L, 1L, Some(500L): Option[Long]), (201L, 2L, None: Option[Long]))
      .toDF("id", "k", "x").writeTo("gmvr.mmfact").append()
    assert(!serves(q), "stale view must never serve after DML")
    val truth = q.collect().map(_.toSeq).toSeq
    spark.sql("CALL gmvr.system.refresh_mview(name => 'mmfact_mv')")
    assert(serves(q), s"refreshed view must serve, got ${scansOf(q)}")
    assert(q.collect().map(_.toSeq).toSeq === truth,
      "the delete-aware fold must reproduce the base extremes exactly")
    assert(truth.exists(r => r.head == 1L && r(2) == 500L),
      s"fixture sanity: the inserted 500 must be group 1's max, got $truth")
    // A view PREDATING mv_min/mv_max serves count/sum but refuses min/max.
    spark.sql("DROP TABLE IF EXISTS gmvr.mmfact_mv")
    val srcGen = spark.table("gmvr.`mmfact$history`")
      .agg(max(col("gen"))).head.getLong(0)
    spark.table("gmvr.mmfact").groupBy(col("k"))
      .agg(count(lit(1)).as("mv_count"),
        sum(col("x")).cast("long").as("mv_sum"),
        count(col("x")).as("mv_nncount"))
      .writeTo("gmvr.oldview")
      .tableProperty("mview.source", "mmfact")
      .tableProperty("mview.keys", "k")
      .tableProperty("mview.sum", "x")
      .tableProperty("mview.gen", srcGen.toString)
      .tableProperty("mview.foldmode", "ansi")
      .create()
    graft.plans.MviewRewriteRule.invalidateCache()
    assert(!serves(q) && !scansOf(q).exists(_.contains("oldview")),
      "a view without mv_min/mv_max must not serve a MIN/MAX query")
    val cq = spark.table("gmvr.mmfact").groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    assert(scansOf(cq).exists(_.contains("oldview")),
      s"the same view must still serve count/sum, got ${scansOf(cq)}")
    // The schema probe runs PER CANDIDATE inside the walk: with the
    // old-schema view still registered, a freshly-created full-schema view
    // must serve the MIN/MAX query — the walk passes the unsuitable
    // candidate over instead of aborting the rewrite.
    spark.sql("CALL gmvr.system.create_mview(source => 'mmfact', " +
      "name => 'mmfact_mv', keys => 'k', sum_col => 'x')")
    assert(scansOf(q).exists(_.contains("mmfact_mv")),
      s"the walk must pass over the old-schema view, got ${scansOf(q)}")
    spark.sql("DROP TABLE IF EXISTS gmvr.oldview")
    spark.sql("DROP TABLE IF EXISTS gmvr.mmfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.mmfact")
    graft.plans.MviewRewriteRule.invalidateCache()
  }

  test("NULL grouping keys fold as ONE group: null-safe joins through refresh") {
    // groupBy treats NULL as a group; an equality-keyed fold join never
    // matches NULL=NULL and would SPLIT the group into a stale view row plus
    // a fresh delta row — both committing. The fold joins null-safely (<=>),
    // including the min/max recompute legs.
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.nkfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.nkfact_mv")
    // Every 4th row keyless; the NULL group's max is the planted 999.
    ((0L until 80L).map(i =>
      (i, if (i % 4 == 0) None else Some(i % 3): Option[Long],
        if (i == 8L) 999L else i * 7 % 50)))
      .toDF("id", "k", "x").writeTo("gmvr.nkfact").create()
    spark.sql("CALL gmvr.system.create_mview(source => 'nkfact', " +
      "name => 'nkfact_mv', keys => 'k', sum_col => 'x')")
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def ruleOff[T](body: => T): T = {
      val saved = cls.experimental.extraOptimizations
      cls.experimental.extraOptimizations = Nil
      try body finally cls.experimental.extraOptimizations = saved
    }
    def q: DataFrame = spark.table("gmvr.nkfact").groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("k"))
    // Delta touches the NULL group three ways: new rows, an extremum-strip
    // delete (999 was its max — forces the recompute leg), and a new min.
    Seq((100L, None: Option[Long], 1L), (101L, None: Option[Long], 60L),
        (102L, Some(1L): Option[Long], 70L))
      .toDF("id", "k", "x").writeTo("gmvr.nkfact").append()
    spark.sql("DELETE FROM gmvr.nkfact WHERE x = 999")
    spark.sql("CALL gmvr.system.refresh_mview(name => 'nkfact_mv')")
    assert(spark.table("gmvr.nkfact_mv").filter(col("k").isNull).count() === 1L,
      "the NULL-key group must fold into ONE view row, never split")
    assert(scansOf(q).exists(_.contains("nkfact_mv")),
      s"fresh view must serve, got ${scansOf(q)}")
    val got = q.collect().map(_.toSeq).toSeq
    ruleOff {
      assert(q.collect().map(_.toSeq).toSeq === got,
        "NULL-group fold (count/sum/min/max incl. recompute) must equal the base")
    }
    spark.sql("DROP TABLE IF EXISTS gmvr.nkfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.nkfact")
  }

  test("recompute_mview is the sound foldmode re-upgrade: legacy -> ansi") {
    // refreshMview's stamp only ever AND-weakens (one LEGACY fold may wrap a
    // stored sum undetectably), so a 'legacy' view never serves ANSI sum/avg
    // again through refreshes. recompute_mview REPLACES every stored value
    // under the session's mode, so it may legitimately re-stamp 'ansi'.
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.fmfact")
    spark.sql("DROP TABLE IF EXISTS gmvr.fmfact_mv")
    (0L until 60L).map(i => (i, i % 3, i * 11 % 83))
      .toDF("id", "k", "x").writeTo("gmvr.fmfact").create()
    spark.sql("CALL gmvr.system.create_mview(source => 'fmfact', " +
      "name => 'fmfact_mv', keys => 'k', sum_col => 'x')")
    def q: DataFrame = spark.table("gmvr.fmfact").groupBy(col("k"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n")).orderBy(col("k"))
    def stamp: String = spark.sql("SHOW TBLPROPERTIES gmvr.fmfact_mv")
      .filter(col("key") === "mview.foldmode").head.getString(1)
    assert(stamp === "ansi", "session is ANSI; the seed must stamp ansi")
    // One LEGACY fold poisons the stamp forever (for refreshes).
    Seq((100L, 1L, 7L)).toDF("id", "k", "x").writeTo("gmvr.fmfact").append()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try spark.sql("CALL gmvr.system.refresh_mview(name => 'fmfact_mv')")
    finally spark.conf.set("spark.sql.ansi.enabled", "true")
    assert(stamp === "legacy", "a legacy fold must downgrade the stamp")
    assert(!scansOf(q).exists(_.contains("fmfact_mv")),
      "an ANSI sum must not serve from a legacy-folded view")
    // An ANSI refresh CANNOT restore it (AND-combine only weakens) ...
    Seq((101L, 2L, 9L)).toDF("id", "k", "x").writeTo("gmvr.fmfact").append()
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fmfact_mv')")
    assert(stamp === "legacy", "refresh must never re-upgrade the stamp")
    // ... but a full recompute under ANSI does, and serving resumes exactly.
    // VANDALIZE the stored sums first (a plain user overwrite onto the view)
    // to prove the recompute actually REPLACES the values: with the floor
    // already at the source generation, a ledger-riding overwrite would be
    // skipped as an idempotent replay and the stamp would bless the
    // corrupted state (found r13 — the recompute claims the ledger only
    // when it advances the floor).
    spark.table("gmvr.fmfact_mv")
      .withColumn("mv_sum", col("mv_sum") + 100L)
      .writeTo("gmvr.fmfact_mv").overwrite(lit(true))
    val gen = spark.sql(
      "CALL gmvr.system.recompute_mview(name => 'fmfact_mv')").head.getLong(0)
    assert(gen >= 1L)
    assert(stamp === "ansi", "an ANSI recompute must re-stamp ansi")
    val trueSums = spark.table("gmvr.fmfact").groupBy(col("k"))
      .agg(sum(col("x")).cast("long").as("sx")).orderBy(col("k"))
      .collect().map(_.getLong(1)).toSeq
    assert(spark.table("gmvr.fmfact_mv").orderBy(col("k"))
      .collect().map(_.getAs[Long]("mv_sum")).toSeq === trueSums,
      "the recompute must replace every stored value, never replay-skip")
    graft.plans.MviewRewriteRule.invalidateCache()
    assert(scansOf(q).exists(_.contains("fmfact_mv")),
      s"the recomputed view must serve ANSI queries again, got ${scansOf(q)}")
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    val got = q.collect().map(_.toSeq).toSeq
    cls.experimental.extraOptimizations = Nil
    try assert(q.collect().map(_.toSeq).toSeq === got,
      "recompute must reproduce the base aggregate exactly")
    finally cls.experimental.extraOptimizations = saved
    spark.sql("DROP TABLE IF EXISTS gmvr.fmfact_mv")
    spark.sql("DROP TABLE IF EXISTS gmvr.fmfact")
  }

  test("a stale view passed over for a fresh one leaves NO skipped-rewrite note") {
    // The walk prefers the exact-key view; when it is stale but a finer
    // fresh view still serves the query via rollup, the rewrite FIRED — a
    // "skipped" diagnostics note would mislead. Notes are buffered and
    // flushed only when the rule ultimately returns None.
    val _ = root
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS gmvr.fact_mv_k1")
    spark.sql("CALL gmvr.system.create_mview(source => 'fact', " +
      "name => 'fact_mv_k1', keys => 'k1', sum_col => 'x')")
    // Advance the source; refresh ONLY the finer (k1,k2) view — the exact
    // k1 view is now the stale preferred candidate.
    Seq((902L, 3L, 0L, 70L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    graft.plans.MviewDiagnostics.clear()
    def coarse: DataFrame = spark.table("gmvr.fact").groupBy(col("k1"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")).orderBy(col("k1"))
    val scans = scansOf(coarse)
    assert(scans.exists(s => s.contains("fact_mv") && !s.contains("fact_mv_k1")),
      s"the fresh finer view must serve the rollup, got $scans")
    assert(graft.plans.MviewDiagnostics.recent.isEmpty,
      "a served rewrite must not log the passed-over stale candidate: " +
        graft.plans.MviewDiagnostics.recent)
    // Values still base-identical.
    val got = coarse.collect().map(_.toSeq).toSeq
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try assert(coarse.collect().map(_.toSeq).toSeq === got)
    finally cls.experimental.extraOptimizations = saved
    // And when EVERY candidate is stale, the refusal notes BOTH near-misses.
    Seq((903L, 4L, 1L, 80L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    graft.plans.MviewDiagnostics.clear()
    assert(!answersFromView(coarse), "all-stale must refuse")
    val notes = graft.plans.MviewDiagnostics.recent
    assert(notes.exists(_.contains("fact_mv_k1")) &&
      notes.exists(n => n.contains("fact_mv") && !n.contains("fact_mv_k1")),
      s"expected staleness notes for both candidates, got: $notes")
    spark.sql("DROP TABLE IF EXISTS gmvr.fact_mv_k1")
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
  }

  private def ruleOff[T](body: => T): T = {
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val saved = cls.experimental.extraOptimizations
    cls.experimental.extraOptimizations = Nil
    try body finally cls.experimental.extraOptimizations = saved
  }

  /** Serve + value-identity pin: the view answers the plan AND the result
    * equals the rule-detached base computation. */
  private def checkServes(df: => DataFrame, sortCols: Seq[String],
      served: DataFrame => Boolean = answersFromView): Unit = {
    assert(served(df), s"expected the view to serve, got ${scansOf(df)}")
    val got = df.orderBy(sortCols.map(c => col(c).asc_nulls_first): _*)
      .collect().map(_.toSeq).toSeq
    ruleOff {
      assert(!served(df), "sanity: rule off, base scan")
      assert(df.orderBy(sortCols.map(c => col(c).asc_nulls_first): _*)
        .collect().map(_.toSeq).toSeq === got,
        "rewrite must reproduce the base result exactly")
    }
  }

  test("count(DISTINCT <view key>) serves exactly from the key domain") {
    // r15: the view's key tuples enumerate exactly the (k1,k2) combos
    // present in the base — one view row per base group — so distinct k2
    // within any coarser group re-counts over VIEW rows (exact, never a
    // sketch). A distinct over anything that is NOT a view key still
    // refuses (no stored column provably carries its value set).
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    spark.sql("DROP TABLE IF EXISTS gmvr.dcdim")
    (0L until 7L).map(i => (i, i % 2)).toDF("pk", "attr")
      .writeTo("gmvr.dcdim").create()
    def fact = spark.table("gmvr.fact")
    // ROLLUP: distinct k2 per k1, mixed with the maintained aggregates —
    // the "count(distinct k) with sum(x)" dashboard shape (a SINGLE
    // distinct group, so the plan reaches the rule un-lowered).
    checkServes(fact.groupBy(col("k1"))
      .agg(countDistinct(col("k2")).as("nd"), count(lit(1)).as("n"),
        sum(col("x")).as("sx"), avg(col("x")).as("ax")), Seq("k1"))
    // GLOBAL: no grouping keys — the whole key domain.
    checkServes(fact.agg(countDistinct(col("k2")).as("nd"),
      count(lit(1)).as("n")), Seq("nd"))
    // EXACT key match: the distinct column is itself a grouping key —
    // constant per group, the count collapses to a null test (0 or 1).
    checkServes(fact.groupBy(col("k1"), col("k2"))
      .agg(countDistinct(col("k2")).as("nd"), count(lit(1)).as("n")),
      Seq("k1", "k2"))
    // JOIN, fact-side distinct: reads the view's key column through the
    // eager-aggregation join (multiplicity-blind, so duplicate dim keys
    // cannot skew it).
    checkServes(fact.join(spark.table("gmvr.dcdim"), col("k1") === col("pk"))
      .groupBy(col("attr")).agg(countDistinct(col("k2")).as("ndk"),
        sum(col("x")).as("sx")), Seq("attr"))
    // JOIN, dim-side distinct: rides verbatim — the dim subtree still
    // produces the column and the joined SET per group is identical.
    checkServes(fact.join(spark.table("gmvr.dcdim"), col("k1") === col("pk"))
      .groupBy(col("attr")).agg(countDistinct(col("pk")).as("ndp"),
        count(lit(1)).as("n")), Seq("attr"))
    // REFUSALS: distinct over a non-key (id), distinct under grouping sets
    // (structurally nulled key copies), and sum(DISTINCT) (not a count).
    assert(!answersFromView(fact.groupBy(col("k1"))
      .agg(countDistinct(col("id")).as("nd"))),
      "count(DISTINCT <non-key>) must refuse")
    assert(!answersFromView(fact.rollup(col("k1"))
      .agg(countDistinct(col("k2")).as("nd"))),
      "count(DISTINCT) under grouping sets must refuse")
    assert(!answersFromView(fact.groupBy(col("k1"))
      .agg(sum_distinct(col("x")).as("sdx"))),
      "sum(DISTINCT) must refuse")
    spark.sql("DROP TABLE IF EXISTS gmvr.dcdim")
  }

  test("partition-pruned scans serve when the partition column is a view key") {
    // r15: `GROUP BY k2 WHERE <partition pred on k1>` over a
    // partition(k1)ed fact — the predicate rides the scan's FULLY-HANDLED
    // partition channel (no residual Filter above the scan), and the
    // rewrite reconstructs it from the pushed V2 shapes and replays it on
    // the view. Refusals: a partition predicate whose column is NOT a view
    // key, and `_file` pseudo-column pruning — both must keep refusing.
    val _ = root
    import spark.implicits._
    for (t <- Seq("pfact", "pfact_mv", "pfact2", "pfact2_mv"))
      spark.sql(s"DROP TABLE IF EXISTS gmvr.$t")
    (0L until 300L).map(i => (i, i % 5, i % 3, i * 13 % 500))
      .toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.pfact").partitionedBy(col("k1")).create()
    spark.sql("CALL gmvr.system.create_mview(source => 'pfact', " +
      "name => 'pfact_mv', keys => 'k1,k2', sum_col => 'x')")
    def served(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("pfact_mv")) && !scans.exists(_.contains("pfact@"))
    }
    def sliced = spark.table("gmvr.pfact").filter(col("k1").isin(1L, 3L))
      .groupBy(col("k2")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        avg(col("x")).as("ax"))
    // Prove the shape exercises the PARTITION channel, not a residual data
    // filter: rule off, the optimized plan holds NO Filter and the bound
    // scan pruned entries through partFilters.
    ruleOff {
      val plan = sliced.queryExecution.optimizedPlan
      assert(!plan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]),
        s"partition predicate must be fully handled (no residual), got $plan")
      val sc = plan.collectFirst {
        case s: DataSourceV2ScanRelation => s.scan }.get
        .asInstanceOf[graft.sources.GraftBatchScan]
      assert(sc.partFilters.nonEmpty &&
        sc.entries.size < sc.manifest.entries.size,
        "the IN slice must prune entries through the partition channel")
    }
    checkServes(sliced, Seq("k2"), served)
    // Equality shape (+ the inferred IS NOT NULL) rides the same channel.
    checkServes(spark.table("gmvr.pfact").filter(col("k1") === 2L)
      .groupBy(col("k2")).agg(sum(col("x")).as("sx")), Seq("k2"), served)
    // EXACT key grouping under a partition slice.
    checkServes(spark.table("gmvr.pfact").filter(col("k1") === 2L)
      .groupBy(col("k1"), col("k2")).agg(count(lit(1)).as("n")),
      Seq("k1", "k2"), served)
    // `_file` pruning refuses — file identity selects physical subsets no
    // view column replays.
    val aFile = spark.table("gmvr.pfact").select(col("_file")).head.getString(0)
    assert(!served(spark.table("gmvr.pfact")
      .filter(col("_file") === aFile)
      .groupBy(col("k2")).agg(count(lit(1)).as("n"))),
      "_file-channel pruning must keep refusing")
    // A partition predicate on a NON-key partition column refuses: the view
    // (keyed k2 only) cannot replay a k1 slice.
    (0L until 300L).map(i => (i, i % 5, i % 3, i * 13 % 500))
      .toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.pfact2").partitionedBy(col("k1")).create()
    spark.sql("CALL gmvr.system.create_mview(source => 'pfact2', " +
      "name => 'pfact2_mv', keys => 'k2', sum_col => 'x')")
    def served2(df: DataFrame): Boolean = {
      val scans = scansOf(df)
      scans.exists(_.contains("pfact2_mv")) && !scans.exists(_.contains("pfact2@"))
    }
    assert(served2(spark.table("gmvr.pfact2")
      .groupBy(col("k2")).agg(count(lit(1)).as("n"))),
      "sanity: the unsliced aggregate serves from the k2 view")
    assert(!served2(spark.table("gmvr.pfact2").filter(col("k1") === 2L)
      .groupBy(col("k2")).agg(count(lit(1)).as("n"))),
      "a partition predicate on a non-key column must refuse")
    // The partition residual flows through the JOIN rewrite's fact leg too:
    // a partition-sliced fact joined to a dim serves from the view with the
    // slice replayed on the view's key column.
    spark.sql("DROP TABLE IF EXISTS gmvr.pfdim")
    (0L until 3L).map(i => (i, i % 2)).toDF("qk", "half")
      .writeTo("gmvr.pfdim").create()
    checkServes(spark.table("gmvr.pfact").filter(col("k1").isin(1L, 4L))
      .join(spark.table("gmvr.pfdim"), col("k2") === col("qk"))
      .groupBy(col("half")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("half"), served)
    for (t <- Seq("pfdim", "pfact_mv", "pfact", "pfact2_mv", "pfact2"))
      spark.sql(s"DROP TABLE IF EXISTS gmvr.$t")
  }

  test("outer-join trees serve only with the fact on the preserved side") {
    // r15: fact LEFT JOIN dim (and the dim RIGHT JOIN fact mirror) serves —
    // unmatched view rows are PRESERVED rows riding with partials intact
    // into the NULL dim group. The fact-on-null-extended-side orientations
    // and FULL outer refuse: an unmatched dim row null-extends mv_count
    // where the original counted a real row.
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    spark.sql("DROP TABLE IF EXISTS gmvr.odim")
    // k1 ∈ {5,6} go unmatched: their groups must land in attr=NULL.
    (0L until 5L).map(i => (i, i % 2)).toDF("pk", "attr")
      .writeTo("gmvr.odim").create()
    def fact = spark.table("gmvr.fact")
    def dim = spark.table("gmvr.odim")
    checkServes(fact.join(dim, col("k1") === col("pk"), "left")
      .groupBy(col("attr")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        avg(col("x")).as("ax")), Seq("attr"))
    checkServes(dim.join(fact, col("k1") === col("pk"), "right")
      .groupBy(col("attr")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("attr"))
    // count(DISTINCT <view key>) composes through the outer join (dim-attr
    // NULLs of unmatched rows group identically on both paths).
    checkServes(fact.join(dim, col("k1") === col("pk"), "left")
      .groupBy(col("attr")).agg(countDistinct(col("k2")).as("ndk"),
        count(lit(1)).as("n")), Seq("attr"))
    // A dim-side filter rides verbatim into the outer join.
    checkServes(fact.join(dim.filter(col("pk") =!= 4L),
        col("k1") === col("pk"), "left")
      .groupBy(col("attr")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("attr"))
    // Refusals: fact on the null-extended side, and FULL outer.
    assert(!answersFromView(dim.join(fact, col("k1") === col("pk"), "left")
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))),
      "dim LEFT JOIN fact (fact null-extended) must refuse")
    assert(!answersFromView(fact.join(dim, col("k1") === col("pk"), "right")
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))),
      "fact RIGHT JOIN dim (fact null-extended) must refuse")
    assert(!answersFromView(fact.join(dim, col("k1") === col("pk"), "full")
      .groupBy(col("attr")).agg(count(lit(1)).as("n"))),
      "FULL outer must refuse")
    spark.sql("DROP TABLE IF EXISTS gmvr.odim")
  }

  test("multi-distinct-group aggregates serve via the rewritten Expand lowering") {
    // r15: count(DISTINCT a), count(DISTINCT b) over DIFFERENT columns is
    // lowered by RewriteDistinctAggregates into the double-Aggregate-over-
    // Expand form before the rule runs. When every distinct column is a
    // VIEW KEY and the regular partials are the maintained set, the rewrite
    // keeps the whole structure (outer aggregate VERBATIM) and substitutes
    // the view under the Expand — distinct slices enumerate the same
    // (group, value) combos because view keys enumerate base combos, and
    // the regular row's partials fold from mv_*.
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    def fact = spark.table("gmvr.fact")
    // Global: two distinct groups + sum + count.
    checkServes(fact.agg(countDistinct(col("k1")).as("nd1"),
      countDistinct(col("k2")).as("nd2"), sum(col("x")).as("sx"),
      count(lit(1)).as("n")), Seq("nd1"))
    // Grouped, with a multi-argument distinct and the full partial set.
    checkServes(fact.groupBy(col("k1"))
      .agg(countDistinct(col("k2")).as("nd2"),
        countDistinct(col("k1"), col("k2")).as("ndp"),
        sum(col("x")).as("sx"), avg(col("x")).as("ax"),
        min(col("x")).as("mn"), max(col("x")).as("mx"),
        count(col("x")).as("nnx"), count(lit(1)).as("n")), Seq("k1"))
    // Key-only filter replays on the view through the lowered shape too.
    checkServes(fact.filter(col("k2") === 1L)
      .agg(countDistinct(col("k1")).as("nd1"),
        countDistinct(col("k2")).as("nd2"), sum(col("x")).as("sx")),
      Seq("nd1"))
    // Refusal battery: a distinct over a NON-key (x) refuses the whole
    // lowering (pinned with values in the grouping-sets test), and
    // staleness stops this path like every other.
    Seq((905L, 2L, 1L, 60L)).toDF("id", "k1", "k2", "x")
      .writeTo("gmvr.fact").append()
    assert(!answersFromView(fact.agg(countDistinct(col("k1")).as("nd1"),
      countDistinct(col("k2")).as("nd2"))), "stale view must refuse")
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    checkServes(fact.agg(countDistinct(col("k1")).as("nd1"),
      countDistinct(col("k2")).as("nd2")), Seq("nd1"))
  }

  test("semi/anti join trees serve: EXISTS and NOT EXISTS reporting shapes") {
    // r15: LeftSemi/LeftAnti output the fact side only with NO duplication
    // — the simplest per-group proof in the join family (a view group
    // passes or fails the condition together, and the join keeps or drops
    // its partial whole). NOT IN lowers to a null-aware anti condition
    // (`cond OR isnull(cond)`) — still group-constant over view keys.
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    spark.sql("DROP TABLE IF EXISTS gmvr.sdim")
    // pk 0..3: k1 ∈ {4,5,6} fail EXISTS and survive NOT EXISTS.
    (0L until 4L).map(i => (i, i % 2)).toDF("pk", "attr")
      .writeTo("gmvr.sdim").create()
    def fact = spark.table("gmvr.fact")
    def dim = spark.table("gmvr.sdim")
    checkServes(fact.join(dim, col("k1") === col("pk"), "left_semi")
      .groupBy(col("k2")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        avg(col("x")).as("ax")), Seq("k2"))
    checkServes(fact.join(dim, col("k1") === col("pk"), "left_anti")
      .groupBy(col("k2")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx")),
      Seq("k2"))
    // The SQL spellings that lower to these joins.
    checkServes(spark.sql(
      "SELECT k2, count(*) AS n, sum(x) AS sx FROM gmvr.fact f " +
        "WHERE EXISTS (SELECT 1 FROM gmvr.sdim d WHERE d.pk = f.k1) " +
        "GROUP BY k2"), Seq("k2"))
    checkServes(spark.sql(
      "SELECT k2, count(*) AS n FROM gmvr.fact " +
        "WHERE k1 NOT IN (SELECT pk FROM gmvr.sdim) GROUP BY k2"), Seq("k2"))
    // Refusals: the semi condition over a NON-key fact column, and a data
    // filter on the fact under the semi join.
    assert(!answersFromView(fact.join(dim, col("id") === col("pk"), "left_semi")
      .groupBy(col("k2")).agg(count(lit(1)).as("n"))))
    assert(!answersFromView(fact.filter(col("x") > 100)
      .join(dim, col("k1") === col("pk"), "left_semi")
      .groupBy(col("k2")).agg(count(lit(1)).as("n"))))
    spark.sql("DROP TABLE IF EXISTS gmvr.sdim")
  }

  test("approx_count_distinct refusal names the serving spelling in diagnostics") {
    // r15 posture note: approx_count_distinct is HyperLogLogPlusPlus — a
    // different sketch family than mv_hll (DataSketches) — so it can never
    // serve; the B193 diagnostics surface must say so and name the
    // hll_sketch_estimate(hll_sketch_agg(…)) shape that DOES serve.
    val _ = root
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    graft.plans.MviewDiagnostics.clear()
    val q = spark.table("gmvr.fact").groupBy(col("k1"), col("k2"))
      .agg(approx_count_distinct(col("x")).as("nd"))
    assert(!answersFromView(q),
      "a HyperLogLogPlusPlus aggregate must never serve from mv_hll")
    val notes = graft.plans.MviewDiagnostics.recent
    assert(notes.exists(n => n.contains("approx_count_distinct") &&
      n.contains("hll_sketch_estimate(hll_sketch_agg(")),
      s"expected the family-mismatch note naming the serving spelling, got $notes")
  }

  test("a literal output column rides every rewrite path: the view still serves") {
    // `lit(x)` after an aggregate folds into the Aggregate's own output list;
    // it is one value on every row of either plan, so it must not cost the
    // rewrite (the q_mview_* queries tag their results this way).
    val _ = root
    import spark.implicits._
    spark.sql("CALL gmvr.system.refresh_mview(name => 'fact_mv')")
    graft.plans.MviewRewriteRule.invalidateCache()
    spark.sql("DROP TABLE IF EXISTS gmvr.litdim")
    (0L until 7L).map(i => (i, i % 2)).toDF("pk", "attr")
      .writeTo("gmvr.litdim").create()
    def fact = spark.table("gmvr.fact")
    def tagged(df: DataFrame) = df.withColumn("tag", lit("t")).withColumn("one", lit(1))
    def exact = tagged(fact.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
    ruleOff(assert(exact.queryExecution.optimizedPlan.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.exists(_.aggregateExpressions.exists(_.name == "tag")),
      "sanity: the literal folds into the Aggregate's outputs"))
    checkServes(exact, Seq("k1", "k2"))
    checkServes(tagged(fact.groupBy(col("k1"))
      .agg(count(lit(1)).as("n"), avg(col("x")).as("ax"))), Seq("k1"))
    checkServes(tagged(fact.cube(col("k1"), col("k2"))
      .agg(grouping_id().as("gid"), sum(col("x")).as("sx"))), Seq("k1", "k2", "gid"))
    checkServes(tagged(fact.groupBy(col("k1"))
      .agg(countDistinct(col("k2")).as("nd2"), countDistinct(col("k1"), col("k2")).as("nd12"),
        sum(col("x")).as("sx"))), Seq("k1"))
    checkServes(tagged(fact.join(spark.table("gmvr.litdim"), col("k1") === col("pk"))
      .groupBy(col("attr")).agg(sum(col("x")).as("sx"))), Seq("attr"))
    spark.sql("DROP TABLE IF EXISTS gmvr.litdim")
  }
}
