package graft.queries

import graft.Tables
import graft.operators.Relational
import graft.functions.WeightedMean
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Star-schema analytics query set (SURVEY.md §2 Part B: B1-B9, B16, B17) — the Spark
 * re-expression of the analytics surface the reference delegates to ClickHouse/Superset
 * (reference README.md:38-64, dashboard charts A25-A29).
 *
 * Determinism contract with the DuckDB oracle (SURVEY.md §7.4): every query ends in a
 * total ORDER BY with unique tiebreakers; every float aggregate is `round`ed (2 decimals
 * for large sums, 4 for averages/ratios); integral outputs are cast to BIGINT so Spark
 * and DuckDB parquet schemas agree; dates are emitted as DATE, never raw timestamps.
 *
 * Scale notes: dimension joins (region/nation/part/supplier) are explicit `broadcast`s —
 * at 100 TB the fact side never shuffles for those. Fact-to-fact joins (lineitem⋈orders)
 * shuffle on the join key; AQE handles skew at runtime.
 */
object StarQueries {
  type Q = (SparkSession, String) => DataFrame
  private def r2(c: Column) = round(c, 2)
  private def r4(c: Column) = round(c, 4)

  /** Bare table name of a V2 scan: `graft.t@7` → `t`. Plan pins match scan
    * names EXACTLY — containment (`contains("cmqv")`) would also accept a
    * scan of an unrelated similarly-named fixture (seed `cmqv_s`) and drift
    * silently if fixture naming changes. */
  private def scanLeaf(n: String): String =
    n.stripPrefix("graft.").takeWhile(_ != '@')

  /** Register the graft TableCatalog rooted in this sf-dir's scratch space.
   *  Same-name/same-root re-sets are no-ops (the CatalogManager caches the
   *  instance after first resolution, keyed by catalog name). */
  private def GraftCatalogSetup(s: SparkSession, d: String): Unit = {
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", Tables.scratchDir(s, "catalog", d))
  }

  /**
   * Memoized catalog FIXTURE (the StandardLabels / VectorIndex posture
   * applied to DML histories): a query whose OPERATOR is a pure read over a
   * deterministic built history (change feed, time travel, $history,
   * metadata aggregates, SPJ layouts, skipping/bloom pruning) rebuilds that
   * history once per dataset, not once per invocation — the production
   * shape, where the table exists and queries just read it. `build(marker)`
   * must create `graft.<table>` with `.tableProperty("fixture", marker)` so
   * the manifest itself records what it was built from; reuse requires BOTH
   * the expected head generation (any later DML voids it) and the marker
   * (a bumped fixture version or regenerated source parquet — length,
   * part names, mtime — voids it). Queries whose operator IS the DML
   * (DELETE/MERGE/OPTIMIZE/RESTORE…) never use this: their work must run
   * and be timed every invocation.
   */
  /** The shared 4-commit merge-on-read DML history (create / append / DV
    * delete / delta update) — read by B169's change feed and replayed by
    * B229's CDC APPLY. One [[fixture]] per dataset. */
  private def cdfFixture(s: SparkSession, d: String): Unit = {
    GraftCatalogSetup(s, d)
    fixture(s, d, "cdfq", 4L, "v1", Seq("orders")) { marker =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      base.filter(col("o_orderkey") % 2 === 0)
        .writeTo("graft.cdfq").partitionedBy(col("pk"))
        .tableProperty("dml", "dv")
        .tableProperty("fixture", marker).create()                  // gen 1
      base.filter(col("o_orderkey") % 2 === 1)
        .writeTo("graft.cdfq").append()                             // gen 2
      s.sql("DELETE FROM graft.cdfq WHERE o_orderkey % 7 = 0")      // gen 3
      s.sql("UPDATE graft.cdfq SET cents = cents + 5 WHERE o_orderkey % 11 = 0") // gen 4
    }
  }

  private def fixture(s: SparkSession, d: String, table: String,
      expectedGen: Long, ver: String, srcTables: Seq[String])
      (build: String => Unit): Unit = {
    val marker = s"$ver|" + Tables.fingerprint(d, srcTables)
    val dir = new org.apache.hadoop.fs.Path(
      Tables.scratchDir(s, "catalog", d), table)
    val conf = s.sessionState.newHadoopConf()
    val fresh =
      try {
        val g = graft.sources.GraftManifest.currentGen(dir, conf)
        g == expectedGen && graft.sources.GraftManifest.load(dir, g, conf)
          .props.get("fixture").contains(marker)
      } catch { case _: Exception => false }
    if (!fresh) {
      s.sql(s"DROP TABLE IF EXISTS graft.$table")
      build(marker)
    }
  }

  /**
   * Memoized SEED + metadata-only CLONE (B227 × B188) — the [[fixture]]
   * doctrine extended to queries whose operator IS DML: the DML must run and
   * be timed every invocation, but the table it mutates doesn't have to be
   * re-CREATEd every invocation — in production a MERGE/OPTIMIZE/ALTER
   * targets a table that already exists. The deterministic seed state builds
   * ONCE per dataset (a [[fixture]], marker-voided on source regeneration);
   * each invocation then forks it via SHALLOW CLONE — one manifest write,
   * zero data bytes ([[graft.sources.GraftCatalogOps.cloneTable]]) — and the
   * timed work is the DML itself plus exactly the files it touches. Safe
   * because no commit path ever deletes replaced files (only VACUUM and DROP
   * reclaim, and both walk only the CLONE's own directory), so the seed's
   * bytes are immutable under any DML the clone runs. The one observable
   * shift: the clone is born at generation 0, so gen-pinned assertions in
   * converted queries count from 0, not 1.
   */
  private def clonedSeed(s: SparkSession, d: String, seed: String,
      target: String, seedGen: Long, ver: String, srcTables: Seq[String])
      (build: String => Unit): Unit = {
    GraftCatalogSetup(s, d)
    fixture(s, d, seed, seedGen, ver, srcTables)(build)
    s.sql(s"DROP TABLE IF EXISTS graft.$target")
    graft.sources.GraftCatalogOps.cloneTable(
      s, Tables.scratchDir(s, "catalog", d), seed, target)
  }

  /** The shared RELY fixtures (dimension with a declared PK RELY; fact with
    * the matching FK, NULL on every 7th key) — built by whichever q_rely_*
    * runs first; ONE definition so the same-marker/same-tables coupling the
    * queries rely on can never drift between copies. */
  private def relyFixtures(s: SparkSession, d: String): Unit = {
    fixture(s, d, "rely_d", 1L, "v1", Seq("customer")) { marker =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg")).distinct()
        .coalesce(1).writeTo("graft.rely_d")
        .tableProperty("graft.primaryKey", "c_custkey RELY")
        .tableProperty("fixture", marker).create()
    }
    fixture(s, d, "rely_f", 1L, "v1", Seq("orders")) { marker =>
      Tables.orders(s, d).select(
          expr("CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END")
            .as("cust"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .coalesce(1).writeTo("graft.rely_f")
        .tableProperty("graft.foreignKey.cust",
          "cust REFERENCES rely_d (c_custkey) RELY")
        .tableProperty("fixture", marker).create()
    }
  }

  /** The shared mview-rewrite fixtures (base table + its seeded (pk,b) view;
    * the view fixture-stamps AFTER a seed-sanity require so a failed seed
    * never memoizes) — one definition for the three q_mview_* queries. */
  private def mvrqFixtures(s: SparkSession, d: String): Unit = {
    fixture(s, d, "mvrq", 1L, "v1", Seq("orders")) { marker =>
      Tables.orders(s, d).select(
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"),
          pmod(col("o_orderkey"), lit(5)).cast("long").as("b"))
        .coalesce(2).writeTo("graft.mvrq")
        .tableProperty("fixture", marker).create()
    }
    // v3: the view schema gained mv_nncount (exact AVG serving).
    // v4: the view carries the mview.foldmode stamp — without it the
    // rewrite (correctly) refuses ANSI-mode sum/avg, since a stampless
    // view's fold history is unknowable and may have wrapped.
    fixture(s, d, "mvrq_mv", 2L, "v4", Seq("orders")) { marker =>
      s.sql("CALL graft.system.create_mview(source => 'mvrq', " +
        "name => 'mvrq_mv', keys => 'pk,b', sum_col => 'cents')")
      require(s.table("graft.mvrq_mv").count() > 0,
        "mvrq_mv seeded empty over a non-empty base — refusing to memoize")
      s.sql(s"ALTER TABLE graft.mvrq_mv SET TBLPROPERTIES('fixture' = '$marker')")
    }
  }

  /** The dimension the JOIN-aggregate rewrite (B234) joins against: one row
    * per distinct `b` value of graft.mvrq, with a coarser grouping column.
    * Built alongside [[mvrqFixtures]] by q_mview_join_rewrite. */
  private def mvrqDimFixture(s: SparkSession, d: String): Unit = {
    fixture(s, d, "mvrq_dim", 1L, "v1", Seq("orders")) { marker =>
      Tables.orders(s, d)
        .select(pmod(col("o_orderkey"), lit(5)).cast("long").as("bpk"))
        .distinct()
        .withColumn("grp", pmod(col("bpk"), lit(2)))
        .withColumn("label", concat(lit("g"), col("bpk")))
        .coalesce(1).writeTo("graft.mvrq_dim")
        .tableProperty("fixture", marker).create()
    }
  }

  /** Source + view for the GENERATED-KEY rewrite (B189 ∘ B234): the source
    * declares `okb` as a generated column (`ok % 6`, write-invariant-pinned)
    * and the view is keyed on it — a query grouping by the raw EXPRESSION
    * is then served from the view. */
  private def mvgkFixtures(s: SparkSession, d: String): Unit = {
    fixture(s, d, "mvgk", 1L, "v1", Seq("orders")) { marker =>
      Tables.orders(s, d).select(
          col("o_orderkey").as("ok"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("okb", expr("ok % 6"))
        .coalesce(2).writeTo("graft.mvgk")
        .tableProperty("generate.okb", "ok % 6")
        .tableProperty("fixture", marker).create()
    }
    fixture(s, d, "mvgk_mv", 2L, "v1", Seq("orders")) { marker =>
      s.sql("CALL graft.system.create_mview(source => 'mvgk', " +
        "name => 'mvgk_mv', keys => 'okb', sum_col => 'cents')")
      require(s.table("graft.mvgk_mv").count() > 0,
        "mvgk_mv seeded empty over a non-empty base — refusing to memoize")
      s.sql(s"ALTER TABLE graft.mvgk_mv SET TBLPROPERTIES('fixture' = '$marker')")
    }
  }

  /** The SECOND dimension for the multi-dim join rewrite (B234): one row per
    * distinct `pk` value of graft.mvrq. Together with [[mvrqDimFixture]] the
    * two dims cover both of the (pk,b) view's keys — the normalized
    * `fact ⋈ d1 ⋈ d2 GROUP BY d1.a, d2.b` dashboard shape. */
  private def mvrqDim2Fixture(s: SparkSession, d: String): Unit = {
    fixture(s, d, "mvrq_dim2", 1L, "v1", Seq("orders")) { marker =>
      Tables.orders(s, d)
        .select(pmod(col("o_orderkey"), lit(3)).cast("long").as("ppk"))
        .distinct()
        .withColumn("plabel", concat(lit("p"), col("ppk")))
        .coalesce(1).writeTo("graft.mvrq_dim2")
        .tableProperty("fixture", marker).create()
    }
  }

  /** PARTITIONED source + its (pk,b) view for the r15 partition-pruned
    * rewrite (`GROUP BY b WHERE <partition pred on pk>`): pk is BOTH the
    * partition column (so the predicate rides the fully-handled partition
    * channel and prunes entries with no residual above the scan) and a view
    * key (what makes replaying it on the view sound). */
  private def mvpfFixtures(s: SparkSession, d: String): Unit = {
    fixture(s, d, "mvpf", 1L, "v1", Seq("orders")) { marker =>
      Tables.orders(s, d).select(
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"),
          pmod(col("o_orderkey"), lit(5)).cast("long").as("b"))
        .writeTo("graft.mvpf").partitionedBy(col("pk"))
        .tableProperty("fixture", marker).create()
    }
    fixture(s, d, "mvpf_mv", 2L, "v1", Seq("orders")) { marker =>
      s.sql("CALL graft.system.create_mview(source => 'mvpf', " +
        "name => 'mvpf_mv', keys => 'pk,b', sum_col => 'cents')")
      require(s.table("graft.mvpf_mv").count() > 0,
        "mvpf_mv seeded empty over a non-empty base — refusing to memoize")
      s.sql(s"ALTER TABLE graft.mvpf_mv SET TBLPROPERTIES('fixture' = '$marker')")
    }
  }

  val queries: Map[String, Q] = Map(
    // B4: multi-aggregate hash aggregation with a pushed-down scan predicate
    // (the reference's "macronutrient bars per item" A25, generalized).
    "q_agg_pricing" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_base"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
          r4(avg(col("l_quantity"))).as("avg_qty"),
          r4(avg(col("l_extendedprice"))).as("avg_price"),
          r4(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // B1+B2: 5-way star join, dims broadcast, facts shuffle on keys (A6 generalized).
    "q_join_star" -> { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // B2: explicit broadcast dimension join on the biggest fact table.
    "q_join_broadcast" -> { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n"),
          r2(sum(col("l_extendedprice"))).as("sum_ext"),
          r4(avg(col("p_retailprice"))).as("avg_retail"))
        .orderBy(col("p_brand"))
    },

    // B1: left-semi join (EXISTS) — customers with at least one urgent order.
    "q_join_semi" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), r2(sum(col("c_acctbal"))).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // B1: left-anti join (NOT EXISTS) — customers who never placed a >450k order
    // (A22's shape; the unfiltered variant is empty at sf>=0.01, so filter to keep
    // the check meaningful).
    "q_join_anti" -> { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"), r2(sum(col("c_acctbal"))).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    },

    // B1: plain left-outer equi-join with null-bearing aggregates — every order
    // survives the join; orders with no returned lineitem carry nulls, which the
    // aggregates count and coalesce explicitly (completing the B1 matrix:
    // inner/semi/anti each have a named query, this is the dedicated left-outer).
    "q_join_left" -> { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("l_orderkey")).as("n_matched"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_null"),
          r2(sum(coalesce(col("l_extendedprice"), lit(0.0)))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },

    // B1: full-outer join — per-nation counts of deeply-negative-balance customers
    // vs negative-balance suppliers; both sides are sparse, so nulls appear on BOTH
    // sides and the coalesce/missing-flag semantics are hash-verified.
    "q_join_full" -> { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_acctbal") < -650)
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
      val su = Tables.supplier(s, d).filter(col("s_acctbal") < 1000)
        .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nk"), "full_outer")
        .select(col("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          col("n_cust").isNull.as("cust_missing"),
          col("n_supp").isNull.as("supp_missing"))
        .orderBy(col("nk"))
    },

    // SQL entry surface: TPC-H Q3 (shipping-priority) adapted to the fixture
    // columns, submitted as SQL TEXT through spark.sql — exercising the parser /
    // analyzer path a ClickHouse/Superset user would migrate through. The oracle
    // is the same statement run by DuckDB.
    "q_sql_tpch3" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate  > DATE '1997-01-01'
        GROUP BY l_orderkey, order_date, o_orderpriority
        ORDER BY revenue DESC, order_date, l_orderkey
        LIMIT 10""")
    },

    // SQL entry surface 2: correlated EXISTS subquery (the decorrelation planner
    // path — not expressible as a plain join node in the API surface above).
    "q_sql_exists" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT c_mktsegment, count(*) AS n
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },

    // argmax/argmin aggregates (max_by/min_by ≡ DuckDB arg_max/arg_min): WHICH
    // order is the biggest, not just how big — one hash agg, no window, no
    // join-back (the self-join formulation rescans; the window formulation
    // sorts). Ordering key is uniquified (cents·10^11 + orderkey) because both
    // engines leave argmax under ties implementation-defined. Bounds: the
    // multiplier dominates orderkey up to 10^11 (TPC-H orderkey 6M·SF → safe
    // beyond SF 10^4), and cents < 9.2·10^7 keeps the product inside Int64 —
    // TPC-H o_totalprice tops out near 600k regardless of SF, 15× inside that.
    "q_agg_argmax" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT) * 100000000000 + o_orderkey")
          .as("ord"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      o.groupBy(col("o_orderpriority"))
        .agg(expr("max_by(o_orderkey, ord)").as("top_orderkey"),
          expr("max_by(cents, ord)").as("top_cents"),
          expr("min_by(o_orderkey, ord)").as("bottom_orderkey"),
          max(col("cents")).as("max_cents"))
        .orderBy(col("o_orderpriority"))
    },

    // Percent-of-total window (ratio-to-report): each supplier nation's revenue
    // share within its region, in integer basis points. The ×10000 runs in
    // DECIMAL(38,0) — per-nation cent sums reach ~9e14 around SF 1000, so the
    // scale-up would overflow Int64 well inside the 100 TB posture if done in
    // BIGINT (DuckDB survives via silent HUGEINT promotion; Spark must widen
    // explicitly). Both operands positive, so Spark's truncating div and
    // DuckDB's flooring // agree. The share window runs over the 25-row
    // post-aggregate, not the fact table: at 100 TB the fact reduces first,
    // the analytic reads the reduction.
    "q_window_share" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      val nat = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey")).agg(sum(col("cents")).as("cents"))
      val n = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      val w = Window.partitionBy(col("n_regionkey"))
      nat.join(n, col("s_nationkey") === col("n_nationkey"))
        .withColumn("region_cents", sum(col("cents")).over(w))
        .select(col("n_regionkey").cast("long").as("regionkey"), col("n_name"),
          col("cents"),
          expr("CAST(CAST(cents AS DECIMAL(38,0)) * 10000 div region_cents AS BIGINT)")
            .as("share_bp"))
        .orderBy(col("regionkey"), col("n_name"))
    },

    // SQL entry surface: the PIVOT clause (parser path; the DataFrame pivot is
    // q_pivot) with a MULTI-aggregate pivot — count and cent-sum per pivoted
    // priority — which the clause names `<value>_<aggAlias>`. Every (year,
    // priority) cell is populated at all test SFs, so the pivot's absent-cell
    // NULL semantics never diverge from the oracle's FILTER formulation.
    "q_sql_pivot" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT * FROM (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders)
        PIVOT (count(*) AS n, sum(cents) AS c
               FOR o_orderpriority IN ('1-URGENT' AS urgent, '5-LOW' AS low))
        ORDER BY yr""")
    },

    // SQL entry surface: the UNPIVOT clause (parser twin of q_sql_pivot; the
    // DataFrame melt is q_unpivot) — wide per-year priority counts fold back
    // to (yr, metric, val) rows. The oracle is the UNION ALL formulation.
    "q_sql_unpivot" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT yr, metric, val FROM (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS urgent,
            CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
              AS BIGINT) AS low
          FROM orders GROUP BY yr)
        UNPIVOT (val FOR metric IN (urgent, low))
        ORDER BY yr, metric""")
    },

    // CUSUM drift detection per priority (the classic change-point detector,
    // complement of q_anomaly_mad's pointwise outlier gate): the recurrence
    // S_i = max(0, S_{i-1} + x_i - k) is exactly S_i = P_i - min_{0<=j<=i} P_j
    // with P the prefix sum of (x - k) AND P_0 = 0 — the empty prefix MUST be
    // in the min (least(0, window_min)), or every series whose running sums
    // stay positive has its first-day drift forced to 0. Two linear window
    // passes over a per-key day series, the shape that survives 100 TB. All
    // integer: daily cents, k = per-priority mean daily cents by integer
    // division, flag when drift exceeds one average day's volume.
    "q_anomaly_cusum" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val k = daily.groupBy(col("o_orderpriority"))
        .agg(expr("CAST(sum(cents) div count(1) AS BIGINT)").as("k"))
      val wRun = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(k), Seq("o_orderpriority"))
        .withColumn("p", sum(col("cents") - col("k")).over(wRun))
        .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(wRun)))
        .select(col("o_orderpriority"), col("day"), col("cents"),
          col("cusum"), (col("cusum") > col("k")).as("drift_flag"))
        .orderBy(col("o_orderpriority"), col("day"))
    },

    // Rolling exact median over a 7-row frame per priority (robust smoothing —
    // the moving-window twin of q_anomaly_mad's group MAD): an aggregate
    // percentile used as a FRAME window function, ordered by a unique
    // (date, key) tiebreak. Output is 2×median in half-cents: a partial frame
    // at partition start has an even count, so the interpolated median lands
    // on .5 — doubling keeps the contract integer-exact with no float round.
    // Per-key frames at 100 TB: one shuffle on the partition key, linear scan.
    "q_window_median" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey")).rowsBetween(-6, 0)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("med2", percentile(col("cents"), lit(0.5)).over(w) * 2)
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("med2").cast("long").as("med7_halfcents"))
        .orderBy(col("o_orderkey"))
    },

    // SQL entry surface: the FILTER (WHERE ...) aggregate modifier — the
    // standard-SQL form of conditional aggregation (one pass, N conditions),
    // submitted as SQL text so the parser path is exercised; the oracle runs
    // the identical statement.
    "q_agg_filter" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderpriority,
          count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
          count(*) FILTER (WHERE o_totalprice <= 200000) AS n_small,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
            AS BIGINT) AS cents_97plus
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // Equi-width histogram (50k-wide buckets over order totals) with the bucket
    // derived in integer CENTS — floor(x*100) div 5_000_000 — so no float-boundary
    // bucket flip is possible cross-engine. One agg, no shuffle beyond it.
    "q_histogram" -> { (s, d) =>
      Tables.orders(s, d)
        .select(expr("floor(o_totalprice * 100) div 5000000").cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          r2(min(col("o_totalprice"))).as("lo"),
          r2(max(col("o_totalprice"))).as("hi"),
          r2(sum(col("o_totalprice"))).as("sum_price"))
        .orderBy(col("bucket"))
    },

    // Equi-DEPTH histogram (quantile binning — the feature-binning twin of
    // q_histogram's equi-width): 7 exact percentile boundaries over integer
    // cents, broadcast back, bucket = 1 + #boundaries strictly below. NO global
    // sort/ntile — the rank-based formulation would serialize the table through
    // one window; this is one tiny boundary agg + a linear broadcast pass, the
    // shape that survives 100 TB. Spark percentile() == DuckDB quantile_cont()
    // exactly (verified precedent), so boundaries are bit-equal.
    "q_histogram_eqdepth" -> { (s, d) =>
      val cents = Tables.orders(s, d)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      // ONE percentile agg with an array of percentages: seven scalar percentile
      // calls each buffer the full column independently (measured 7x the cost).
      val bounds = cents.agg(percentile(col("cents"),
        array((1 to 7).map(k => lit(k / 8.0)): _*)).as("bs"))
      val bucket = (1 to 7).foldLeft(lit(1L)) { (acc, k) =>
        acc + (col("cents") > element_at(col("bs"), k)).cast("long")
      }
      cents.crossJoin(broadcast(bounds))
        .withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
        .orderBy(col("bucket"))
    },

    // Approximate count-distinct (HLL++) audited against the exact count: the
    // emitted boolean asserts |approx - exact| <= 10% of exact with rsd 0.01 —
    // the bound comes from the sketch's accuracy parameter, NOT from the data
    // distribution, so it holds at any scale factor (contrast q_approx_sketch's
    // data-derived rank bound). 10x the rsd because HLL++ error is not strictly
    // Gaussian near its bias-correction crossovers — the audit must never fail
    // on a correctly-behaving sketch over regenerated data. The raw approx
    // value is engine-specific and never emitted.
    "q_approx_distinct" -> { (s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_nd"),
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_nd"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")) <= col("exact_nd") * lit(0.10))
            .as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },

    // Null-semantics battery: nulls PLANTED via nullif (the fixtures carry
    // none), then the full null algebra — count(*) vs count(col), null-safe
    // equality (<=> / IS NOT DISTINCT FROM), nvl2 three-way branching,
    // null-propagating arithmetic — hash-verified. Cross-engine null handling
    // is the classic silent-divergence source; this pins it.
    "q_null_semantics" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_returnflag"),
        expr("nullif(CAST(floor(l_discount * 100) AS BIGINT), 0)").as("disc_c"),
        // tax_c nullable TOO: both-null rows are the only place null-safe
        // equality differs from plain equality (197 such rows at sf0.01).
        expr("nullif(CAST(floor(l_tax * 100) AS BIGINT), 0)").as("tax_c"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("disc_c")).as("n_disc"),                      // nulls excluded
          sum(when(expr("disc_c <=> tax_c"), 1L).otherwise(0L)).as("n_nullsafe_eq"),
          sum(when(col("disc_c") === col("tax_c"), 1L).otherwise(0L)).as("n_plain_eq"),
          sum(expr("nvl2(disc_c, 1L, 0L)")).as("n_nvl2"),
          sum(coalesce(col("disc_c") + col("tax_c"), lit(-1L))).as("sum_null_arith"))
        .orderBy(col("l_returnflag"))
    },

    // RANGE frame windows (value-based bounds — the frame family q_window_frame's
    // ROWS variants don't cover): per customer, running sum/count over orders
    // within 5000.00 below the current total. RANGE includes peers at equal
    // order-key values in both engines; integer cents keep the sums exact.
    "q_window_range" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("cents"))
        .rangeBetween(-500000L, 0L)
      o.withColumn("near_sum", sum(col("cents")).over(w))
        .withColumn("near_n", count(lit(1)).over(w))
        .orderBy(col("o_custkey"), col("cents"), col("o_orderkey"))
    },

    // percent_rank / cume_dist in INTEGER basis points: the built-ins return
    // (rank-1)/(n-1) doubles whose round-trip through round() is the classic
    // .xxxx5 cross-engine trap — the integer-div formulation over a unique total
    // order is exact. One window shuffle; both windows share the sort.
    "q_window_pctrank" -> { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val wn = Window.partitionBy(col("c_mktsegment"))
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .select(col("c_mktsegment"), col("c_custkey"), col("rn"),
          expr("CAST(CASE WHEN n = 1 THEN 10000 ELSE ((rn - 1) * 10000) div (n - 1) END AS BIGINT)")
            .as("pctrank_bp"),
          expr("(rn * 10000) div n").as("cumedist_bp"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },

    // SQL entry surface 3: window functions through the parser (same SQL text runs
    // verbatim on both engines — the strongest possible B31 check).
    "q_sql_window" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlWindowText)
    },

    // B3: range (theta) join against a tiny in-memory band dimension — broadcast
    // nested-loop by construction, the only sane plan for a non-equi join at scale.
    "q_join_range" -> { (s, d) =>
      import s.implicits._
      val bands = Seq(
        (0L, 0.0, 100000.0), (1L, 100000.0, 200000.0), (2L, 200000.0, 300000.0),
        (3L, 300000.0, 400000.0), (4L, 400000.0, 1000000.0))
        .toDF("band_id", "lo", "hi")
      Tables.orders(s, d)
        .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("sum_price"))
        .orderBy(col("band_id"))
    },

    // B107: BIG-BIG point-in-interval join via bin-overlap rewrite
    // (Relational.rangeJoinBinned). A bare theta join plans as
    // BroadcastNestedLoopJoin — fine for q_join_range's 5-row band dim, dead
    // when the interval side is a full table. Here every supplier defines a
    // balance band [s_acctbal-500, s_acctbal+500) and every customer balance
    // is matched against every band: the rewrite quantizes balances into
    // width-1000 bins (≈ the interval length, so each band explodes to ~2
    // bins), equi-joins on the bin id and keeps the exact bounds as a
    // residual — one linear shuffle, never a quadratic pair space, and the
    // plan is pinned nested-loop-free in PlanSpec.
    "q_join_bins" -> { (s, d) =>
      val bands = Tables.supplier(s, d).select(col("s_suppkey"),
        (col("s_acctbal") - 500.0).as("lo"), (col("s_acctbal") + 500.0).as("hi"))
      val points = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
      graft.operators.Relational
        .rangeJoinBinned(points, "c_acctbal", bands, "lo", "hi", binWidth = 1000.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"), r2(sum(col("c_acctbal"))).as("sum_bal"))
        .orderBy(col("s_suppkey"))
    },

    // B5: rollup with grouping indicators over the geography hierarchy.
    "q_agg_rollup" -> { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          r2(sum(col("c_acctbal"))).as("sum_bal"),
          grouping(col("r_name")).cast("long").as("g_r"),
          grouping(col("n_name")).cast("long").as("g_n"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("r_name"),
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          col("n_cust"), col("sum_bal"), col("g_r"), col("g_n"))
        .orderBy(col("g_r"), col("g_n"), col("r_name"), col("n_name"))
    },

    // B5: cube over lineitem status flags.
    "q_agg_cube" -> { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          r2(sum(col("l_quantity"))).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_f"),
          grouping(col("l_linestatus")).cast("long").as("g_s"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("sum_qty"), col("g_f"), col("g_s"))
        .orderBy(col("g_f"), col("g_s"), col("l_returnflag"), col("l_linestatus"))
    },

    // B4: exact count-distinct per group (HLL's exact twin — approx_count_distinct is
    // the 100 TB path but is excluded from hash-verified queries by design).
    "q_agg_distinct" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n"),
          r2(sum(col("o_totalprice"))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },

    // B6+B7: top-k per group via ranking window (A27 latest-per-key generalized).
    "q_window_rank" -> { (s, d) =>
      Relational.topKPerGroup(Tables.part(s, d), Seq("p_brand"),
          Seq(col("p_retailprice").desc, col("p_partkey")), 3)
        .select(col("p_brand"), col("rnk"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("rnk"))
    },

    // B6: lag across a per-customer order timeline.
    "q_window_lag" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
        .select(
          col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date"))
            .cast("long").as("days_since_prev"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // B6: moving-frame aggregates (running sum + 3-row moving average).
    "q_window_frame" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          r2(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
            .as("running_sum"),
          r4(avg(col("o_totalprice")).over(w.rowsBetween(-2, 0))).as("mavg3"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // B6 battery 2: ntile / percent_rank / cume_dist / first_value over a
    // unique-ordered partition (ties impossible -> deterministic everywhere).
    "q_window_ntile" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(
          col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 4).as("prank"),
          round(cume_dist().over(w), 4).as("cdist"),
          first_value(col("o_orderkey")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).as("cheapest_key"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },

    // B5: explicit GROUPING SETS (beyond rollup/cube).
    "q_grouping_sets" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
          |       coalesce(o_orderstatus, 'ALL') AS st,
          |       count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
          |ORDER BY pri, st""".stripMargin)
    },

    // B16 battery 2: string edit distance + pad/translate/reverse/repeat/split_part.
    "q_string_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") < 2000)
        .select(
          col("p_partkey"),
          levenshtein(col("p_name"), col("p_type")).cast("long").as("edit_dist"),
          lpad(col("p_brand"), 12, "_").as("brand_pad"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"),
          reverse(col("p_brand")).as("brand_rev"),
          split_part(col("p_type"), lit(" "), lit(1)).as("type_head"))
        .orderBy(col("p_partkey"))
    },

    // B16 battery 3: array build/sort/extract/search over grouped quantities.
    "q_array_funcs" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 2000)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity"))).as("qtys"))
        .select(
          col("l_orderkey"),
          size(col("qtys")).cast("long").as("n"),
          array_max(col("qtys")).as("q_max"),
          array_min(col("qtys")).as("q_min"),
          element_at(col("qtys"), 1).as("q_smallest"),
          array_position(col("qtys"), array_max(col("qtys"))).cast("long").as("pos_max"),
          array_contains(col("qtys"), lit(1.0)).as("has_one"))
        .orderBy(col("l_orderkey"))
    },

    // 100 TB sketch path: HLL count-distinct + approximate percentile. Sketches are
    // engine-specific by construction, so no SQL oracle — the driver records the
    // weaker rows-only check; ApproxSpec bounds the error against exact values.
    // B4 approximate battery with a hash-verified contract: the sketch values
    // themselves are not oracle-expressible (HLL++ / GK are Spark-internal), so the
    // query emits the EXACT statistics (oracle-computable) plus booleans asserting
    // the sketches landed inside their published error bounds
    // (approx_count_distinct default rsd=0.05 -> 15% = 3σ bound;
    // percentile_approx accuracy=10000 -> rank error ≤ n/10000, verified against the
    // EXACT percentiles at quantiles 0.5 ± 10/accuracy — a data-derived value band
    // that holds for any price distribution, unlike a fixed %-of-p50 bound; the
    // 10× rank slack absorbs continuous-interpolation edge effects down to
    // group sizes of ~600). The oracle emits literal TRUE, so a sketch drifting
    // out of bound is a hash mismatch, not a silent pass.
    "q_approx_sketch" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("nd_approx"),
          countDistinct(col("l_partkey")).as("nd_exact"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50_approx"),
          percentile(col("l_extendedprice"), lit(0.5)).as("p50_exact"),
          percentile(col("l_extendedprice"), lit(0.5 - 0.001)).as("p50_lo"),
          percentile(col("l_extendedprice"), lit(0.5 + 0.001)).as("p50_hi"),
          count(lit(1)).as("n"))
        .select(
          col("l_returnflag"), col("nd_exact"), col("n"),
          (abs(col("nd_approx") - col("nd_exact")) <=
            col("nd_exact") * lit(0.15)).as("nd_within_bound"),
          (col("p50_approx") >= col("p50_lo") &&
            col("p50_approx") <= col("p50_hi")).as("p50_within_bound"))
        .orderBy(col("l_returnflag"))
    },

    // B7: global top-k under a total order (TakeOrderedAndProject — no full sort).
    "q_topk" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // B8: UNION (distinct) of two key sets.
    "q_set_union" -> { (s, d) =>
      val negBal = Tables.customer(s, d).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      val bigSpenders = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("custkey"))
      negBal.union(bigSpenders).distinct().orderBy(col("custkey"))
    },

    // B8: INTERSECT.
    "q_set_intersect" -> { (s, d) =>
      val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      building.intersect(urgent).orderBy(col("custkey"))
    },

    // B8: EXCEPT — BUILDING-segment customers minus big spenders.
    "q_set_except" -> { (s, d) =>
      val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val bigSpenders = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("custkey"))
      building.except(bigSpenders).orderBy(col("custkey"))
    },

    // B8: EXCEPT ALL — multiset subtraction (keeps multiplicity, unlike EXCEPT).
    "q_set_except_all" -> { (s, d) =>
      val allOrders = Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      allOrders.exceptAll(urgent)
        .groupBy(col("custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("custkey"))
    },

    // B8: INTERSECT ALL — multiset intersection.
    "q_set_intersect_all" -> { (s, d) =>
      val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      f.intersectAll(urgent)
        .groupBy(col("custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("custkey"))
    },

    // B16: scalar string/math function battery (A5/A18/A20 generalized).
    "q_scalar_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(substring(col("p_name"), 1, 5)).as("name5"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"),
          r4(log(col("p_retailprice") + 1)).as("log_price"),
          abs(col("p_size") - 25).cast("long").as("size_dev"),
          concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
          (col("p_partkey") % 7).cast("long").as("k7"))
        .orderBy(col("p_partkey"))
    },

    // B16 addendum, XML scalar functions (the B15 JSON-extraction twin for XML
    // columns): a per-nation XML document is BUILT deterministically from table
    // columns, then pulled apart three independent ways — schema'd from_xml
    // struct extraction, Hive-surface xpath_string, and the array-returning
    // xpath (node-set → size). The oracle predicts every output from the source
    // columns alone, so parser, xpath engine, and schema coercion all have to
    // agree with the values that went in. (to_xml's write side is pinned by the
    // SourcesSpec round-trip test; nation names are A-Z/space only, so no
    // XML-escaping ambiguity enters the hash.)
    "q_xml_funcs" -> { (s, d) =>
      val xmlSchema = new org.apache.spark.sql.types.StructType()
        .add("key", "long").add("name", "string").add("region", "long")
      Tables.nation(s, d)
        .withColumn("doc", concat(
          lit("<nation><key>"), col("n_nationkey"),
          lit("</key><name>"), col("n_name"),
          lit("</name><region>"), col("n_regionkey"),
          lit("</region></nation>")))
        .withColumn("p", from_xml(col("doc"), xmlSchema))
        .select(
          col("n_nationkey").cast("long").as("nationkey"),
          expr("xpath_string(doc, '/nation/name')").as("x_name"),
          col("p.key").as("p_key"),
          col("p.region").as("p_region"),
          size(expr("xpath(doc, '/nation/*/text()')")).cast("long").as("n_parts"))
        .orderBy(col("nationkey"))
    },

    // B16: map functions — build, extract, introspect (oracle verifies the extracted
    // scalars, which is all a map can deterministically externalize to parquet).
    "q_map_funcs" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .withColumn("m", map(
          lit("qty"), col("l_quantity"), lit("price"), col("l_extendedprice")))
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          element_at(col("m"), "qty").as("qty"),
          element_at(col("m"), "price").as("price"),
          size(col("m")).cast("long").as("m_size"),
          array_join(map_keys(col("m")), ",").as("m_keys"),
          map_contains_key(col("m"), "qty").as("has_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // B16 battery 4: math scalars (sign/floor/ceil/exp/pow/sqrt/greatest/least,
    // negative modulo, substring search).
    "q_math_funcs" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") < 2000)
        .select(
          col("p_partkey"),
          instr(col("p_name"), "widget").cast("long").as("pos_widget"),
          signum(col("p_size") - 25).cast("long").as("sgn"),
          floor(col("p_retailprice") / 100).cast("long").as("fl"),
          ceil(col("p_retailprice") / 100).cast("long").as("cl"),
          round(exp(col("p_size") / 25.0), 4).as("ex"),
          pow(lit(2), col("p_size") % 10).cast("long").as("pw"),
          round(sqrt(col("p_retailprice")), 4).as("sq"),
          greatest(col("p_size"), lit(10)).cast("long").as("gr"),
          least(col("p_size"), lit(40)).cast("long").as("le"),
          ((col("p_size") * -1) % 5).cast("long").as("neg_mod"))
        .orderBy(col("p_partkey"))
    },

    // B4 battery: bitwise aggregates per group.
    "q_bit_aggs" -> { (s, d) =>
      Tables.part(s, d)
        .groupBy(col("p_brand"))
        .agg(bit_and(col("p_size")).cast("long").as("b_and"),
          bit_or(col("p_size")).cast("long").as("b_or"),
          bit_xor(col("p_size")).cast("long").as("b_xor"),
          count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    },

    // B16 battery 5: map higher-order functions (transform_keys/values, map_filter);
    // the oracle verifies the externalized scalars (maps can't hash-compare
    // directly, same rule as q_map_funcs).
    "q_map_hof" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .withColumn("m", map(
          lit("qty"), col("l_quantity"), lit("price"), col("l_extendedprice")))
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          element_at(transform_values(col("m"), (_, v) => v * 2), "qty").as("qty_x2"),
          array_join(sort_array(map_keys(
            transform_keys(col("m"), (k, _) => upper(k)))), ",").as("keys_upper"),
          size(map_filter(col("m"), (_, v) => v > 10)).cast("long").as("n_gt10"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // B6 battery 3: nth_value and lead-with-default.
    "q_window_nth" -> { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .select(
          col("o_orderpriority"), col("o_orderkey"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_cheapest"),
          lead(col("o_orderkey"), 1, -1L).over(w).as("next_key"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },

    // B16: date function battery (A8's timestamping generalized).
    "q_date_funcs" -> { (s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          add_months(col("o_orderdate").cast("date"), 1).as("next_month"),
          datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_epoch_start"))
        .orderBy(col("o_orderkey"))
    },

    // B4 extension: exact interpolated percentiles per group (the oracle-able twin
    // of approx_percentile — which is the 100 TB path but sketch-based, so it stays
    // out of hash-verified queries by design).
    "q_percentile" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          r4(percentile(col("o_totalprice"), lit(0.5))).as("p50"),
          r4(percentile(col("o_totalprice"), lit(0.9))).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },

    // B4 extension: statistical aggregates (stddev/correlation/covariance).
    "q_stats_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          r4(stddev_samp(col("l_extendedprice"))).as("sd_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          r4(covar_samp(col("l_quantity"), col("l_discount"))).as("covar_qty_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // B5 extension: pivot (dashboard matrix shape) — explicit value list keeps the
    // output schema deterministic; oracle is the equivalent conditional aggregation.
    "q_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("y"), col("1-URGENT").as("urgent"), col("2-HIGH").as("high"),
          col("3-MEDIUM").as("medium"), col("4-NOT SPECIFIED").as("notspec"),
          col("5-LOW").as("low"))
        .orderBy(col("y"))
    },

    // B5/B16: unpivot (melt) — the inverse reshape of q_pivot; one row per
    // (flag, measure) with the summed value.
    "q_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(round(sum(col("value")), 2).as("sum_value"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("measure"))
    },

    // B17: custom typed Aggregator UDAF — quantity-weighted mean price per flag.
    "q_udaf_weighted" -> { (s, d) =>
      val wm = udaf(new WeightedMean)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(r4(wm(col("l_extendedprice"), col("l_quantity"))).as("wmean_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // ANALYZE surface (B69): per-column CBO statistics in one table pass —
    // row count, non-null count, exact NDV, min/max. Timestamp column pre-cast
    // to DATE so both engines render min/max identically.
    "q_table_stats" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .withColumn("l_ship_day", to_date(col("l_shipdate")))
      Relational.tableStats(li,
        Seq("l_orderkey", "l_partkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "l_ship_day"))
        .orderBy(col("col_name"))
    },

    // DECIMAL exact money arithmetic: the one aggregation family that needs NO
    // round() anywhere — fixed-point sums are exact by type, the strongest
    // determinism posture for financial columns (the double-sum queries above
    // must round because their binary sums carry ~1e-7 drift). All arithmetic
    // stays DECIMAL; the OUTPUT is scaled integers (cents / 1e-4 units) because
    // decimal-typed columns hash differently across engines in the driver's
    // comparator even when values are bit-identical (r3 lesson) — BIGINT is the
    // one exact-integer rendering both engines agree on.
    "q_agg_decimal" -> { (s, d) =>
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg((sum(price) * lit(100)).cast("long").as("sum_price_cents"),
          (sum(price * (lit(1).cast("decimal(4,2)") - disc)) * lit(10000))
            .cast("long").as("sum_disc_e4"),
          (max(price) * lit(100)).cast("long").as("max_price_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // Entity resolution over part names: first-letter blocking (the classic
    // record-linkage blocking key) + native jaro_winkler verification, emitted
    // as floor-scaled basis points. The expression is pinned bit-exact to
    // DuckDB's jaro_winkler_similarity, so the oracle verifies the actual
    // similarity arithmetic, not just the pair set. In-block pair enumeration —
    // no name x name cross join at any scale.
    "q_entity_jaro" -> { (s, d) =>
      import graft.functions.TextOps
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .withColumn("blk", substring(col("p_name"), 1, 1))
      names.groupBy(col("blk"))
        .agg(sort_array(collect_set(col("p_name"))).as("ns"))
        .filter(size(col("ns")) > 1)
        .select(graft.operators.Dedup.enumeratePairs(col("ns"), "name_a", "name_b").as("p"))
        .select(col("p.name_a").as("name_a"), col("p.name_b").as("name_b"))
        .withColumn("jw_bp",
          floor(TextOps.jaroWinkler(col("name_a"), col("name_b")) * 10000).cast("long"))
        .filter(col("jw_bp") >= 8500)
        .orderBy(col("name_a"), col("name_b"))
    },

    // Z-order layout audit: Morton key over (custkey, orderdate-epoch-day), rows
    // grouped into aligned zkey blocks (>> 16, i.e. 256x256-cell quadtree tiles). Each block's min/max in BOTH
    // dimensions is emitted — the bounding boxes parquet pruning would get if
    // files were cut on this key. The bit-interleave ladder is mirrored
    // integer-exactly in the oracle, so one wrong mask breaks every bucket.
    "q_layout_zorder" -> { (s, d) =>
      val o = Tables.orders(s, d).select(
        col("o_custkey").cast("long").as("ck"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).cast("long").as("day"))
      o.withColumn("zkey", graft.operators.Layout.zorderKey(col("ck"), col("day")))
        .groupBy(shiftright(col("zkey"), 16).as("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day"))
        .orderBy(col("z_bucket"))
    },

    // B1/B2 at full width: TPC-H Q5 — the 6-table join (two fact tables, four
    // dims) that exercises join ORDERING, not just join execution. The date
    // filter lands on orders before its join (pushdown), supplier/nation/region
    // are explicit broadcasts (the fact side never shuffles for them), and the
    // customer⋈supplier nation equality rides the already-shuffled fact rows as
    // a post-join predicate-free equi-key. At 100 TB this is the canonical
    // "one big shuffle on orderkey, everything else map-side" plan.
    "q_sql_tpch5" -> { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
                  col("o_orderdate") <  to_timestamp(lit("1997-01-01 00:00:00"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(r2(sum(rev)).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // Skyline / Pareto frontier (min price, max size): the O(n log n) window
    // formulation — per-price max size, one running max over the price order,
    // and a lag for the strictly-cheaper bound — instead of the O(n²)
    // NOT-EXISTS self-join the oracle runs. The only global sort runs on the
    // per-DISTINCT-PRICE aggregate (already reduced), so at 100 TB the frontier
    // costs one agg shuffle plus a metadata-scale window, never an all-pairs.
    "q_skyline" -> { (s, d) =>
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      val wOrd = Window.orderBy(col("p_retailprice"))
      val perPrice = p.groupBy(col("p_retailprice"))
        .agg(max(col("p_size")).as("ms"))
        .withColumn("run_ms",
          max(col("ms")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cheaper_ms", lag(col("run_ms"), 1).over(wOrd))
      // Keep iff no strictly-cheaper part is at-least-as-big, and nothing at the
      // same price is strictly bigger (same price+size ties all survive).
      p.join(broadcast(perPrice), Seq("p_retailprice"))
        .filter((col("cheaper_ms").isNull || col("cheaper_ms") < col("p_size")) &&
          col("p_size") === col("ms"))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long").as("p_size"))
        .orderBy(col("p_retailprice"), col("p_partkey"))
    },

    // Robust outlier detection via median absolute deviation — the
    // training-data-pipeline "drop anomalous records" gate, using medians so a
    // heavy tail can't drag its own threshold (the classic z-score failure).
    // Two exact-percentile aggregations + two broadcast joins of the tiny
    // per-group stats back onto the fact: linear, no sort of the full data.
    // All quantities live in integer CENTS (medians of integers are exact
    // half-integers — representable doubles), so the `adev > 3*mad` gate and
    // the emitted med/mad are engine-exact, never sub-ULP coin flips.
    "q_anomaly_mad" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val med = o.groupBy(col("o_orderpriority"))
        .agg(percentile(col("cents"), lit(0.5)).as("med_cents"))
      val dev = o.join(broadcast(med), Seq("o_orderpriority"))
        .withColumn("adev", abs(col("cents") - col("med_cents")))
      val mad = dev.groupBy(col("o_orderpriority"))
        .agg(percentile(col("adev"), lit(0.5)).as("mad_cents"))
      dev.join(broadcast(mad), Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          first(col("med_cents")).as("med_cents"),
          first(col("mad_cents")).as("mad_cents"),
          sum(when(col("adev") > lit(3) * col("mad_cents"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("o_orderpriority"))
    },

    // Sink/source format fidelity: write a deterministic lineitem slice to ORC,
    // CSV and JSON, read each back, and reduce every copy to the same exact
    // integer signature (floor-cents, not float sums — a lossy writer or a
    // locale-bent parser breaks the hash). The oracle predicts the signature
    // from parquet alone, so all three format round-trips must be bit-faithful.
    // The slice is 10% of lineitem to keep the bench cost of 3 writes honest.
    "q_format_roundtrip" -> { (s, d) =>
      val sub = Tables.lineitem(s, d)
        .filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
      val tmp = Tables.scratchDir(s, "roundtrip", d)
      // The three format writes are independent jobs over the same cached
      // subset writing to disjoint dirs — overlap them from driver threads
      // (guide §2.6) instead of paying three job latencies back to back.
      // Output bytes and the read-back aggregates are identical either way.
      locally {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.DurationInt
        Await.result(Future.sequence(Seq(
          Future(sub.write.mode("overwrite").orc(s"$tmp/orc")),
          Future(sub.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")),
          Future(sub.write.mode("overwrite").json(s"$tmp/json")))), 10.minutes)
      }
      val back = Seq(
        "csv"  -> s.read.schema(sub.schema).option("header", "true").csv(s"$tmp/csv"),
        "json" -> s.read.schema(sub.schema).json(s"$tmp/json"),
        "orc"  -> s.read.orc(s"$tmp/orc"))
      back.map { case (fmt, df) =>
        df.agg(count(lit(1)).as("n"),
            sum(col("l_orderkey") * col("l_linenumber")).as("key_sum"),
            sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
            sum(floor(col("l_quantity") * 100).cast("long")).as("qty_cents"),
            countDistinct(col("l_returnflag")).as("n_flags"))
          .withColumn("fmt", lit(fmt))
          .select(col("fmt"), col("n"), col("key_sum"), col("price_cents"),
            col("qty_cents"), col("n_flags"))
      }.reduce(_ unionByName _).orderBy(col("fmt"))
    },

    // Source-format coverage, XML: Spark 4's NATIVE xml datasource (rowTag
    // record framing), the enterprise-feed ingest path. Integer/string columns
    // only cross the text boundary (cents pre-computed as LONG before the
    // write) so no float-rendering drift can enter; read-back declares the
    // schema explicitly — schema-on-read is never inferred, per SURVEY §1.3.
    // The per-flag signature is predicted by the oracle from parquet alone, so
    // any escaping, framing, or type-coercion defect in writer or reader
    // breaks the hash.
    "q_source_xml" -> { (s, d) =>
      val sub = Tables.lineitem(s, d)
        .filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      val dir = Tables.scratchDir(s, "xmlsrc", d)
      sub.write.mode("overwrite").option("rowTag", "item").format("xml").save(dir)
      s.read.option("rowTag", "item").schema(sub.schema).format("xml").load(dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey") * col("l_linenumber")).as("key_sum"),
          sum(col("price_cents")).as("price_cents_sum"))
        .orderBy(col("l_returnflag"))
    },

    // SQL entry surface 3: correlated LATERAL subquery with per-row ORDER BY +
    // LIMIT — the "top-2 orders for each customer" shape that stresses the
    // DECORRELATION planner path (DomainJoin rewrite), not the join executor.
    // Catalyst rewrites it into a ranked window over one key shuffle, which is
    // exactly the plan you'd hand-write — pinned in PlanSpec.
    "q_sql_lateral" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_custkey % 50 = 0
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    },

    // SQL entry surface: NATIVE recursive CTE (Spark 4's WITH RECURSIVE →
    // UnionLoop planner path) — the account-hierarchy rollup every OLAP
    // migration eventually needs. A balanced binary tree is derived over the
    // 25 nations (parent = (key-1) div 2); one recursion computes depth +
    // root path per node, a second computes the ancestor-descendant closure,
    // and the rollup sums customer counts over each node's subtree. Unlike
    // the hand-iterated graph family (q_graph_bfs), the ENGINE owns the
    // fixpoint here; the oracle runs the same recursion in DuckDB. At scale
    // the recursion depth is log-bounded by the hierarchy (5 levels here) and
    // each step is one equi-join of the frontier against the edge table.
    "q_sql_recursive" -> { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql("""
        WITH RECURSIVE
        tree AS (
          SELECT CAST(n_nationkey AS BIGINT) AS k,
                 CASE WHEN n_nationkey = 0 THEN CAST(NULL AS BIGINT)
                      ELSE CAST((n_nationkey - 1) div 2 AS BIGINT) END AS parent
          FROM nation),
        walk(k, depth, path) AS (
          SELECT k, 0, CAST(k AS STRING) FROM tree WHERE parent IS NULL
          UNION ALL
          SELECT t.k, w.depth + 1, concat(w.path, '>', CAST(t.k AS STRING))
          FROM tree t JOIN walk w ON t.parent = w.k),
        closure(anc, node) AS (
          SELECT k, k FROM tree
          UNION ALL
          SELECT c.anc, t.k FROM tree t JOIN closure c ON t.parent = c.node),
        cust AS (
          SELECT CAST(c_nationkey AS BIGINT) AS k, count(*) AS n_cust
          FROM customer GROUP BY c_nationkey)
        SELECT w.k AS nationkey, CAST(w.depth AS BIGINT) AS depth, w.path,
               count(*) AS n_desc,
               CAST(sum(coalesce(cu.n_cust, 0)) AS BIGINT) AS subtree_cust
        FROM walk w JOIN closure c ON c.anc = w.k
        LEFT JOIN cust cu ON cu.k = c.node
        GROUP BY w.k, w.depth, w.path
        ORDER BY nationkey""")
    },

    // TPC-H Q18 (large-volume customers): the agg-side-first join — lineitem
    // reduces to per-order quantity sums BEFORE touching orders/customer, so the
    // expensive shuffle carries one row per qualifying order, not one per line
    // item. The > 300 gate is exact (quantities are integral doubles; their sums
    // never sit on a float boundary).
    "q_sql_tpch18" -> { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"),
          r2(col("o_totalprice")).as("price"),
          r2(col("sum_qty")).as("sum_qty"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(100)
    },

    // Welch's t-test / scalar subquery: one SQL text, two engines (see the
    // constants above) — the statistical-inference surface of the engine.
    "q_stats_ttest" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlTtestText)
    },

    "q_sql_scalar_subq" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SqlScalarSubqText)
    },

    // Deterministic Poisson bootstrap (the error bar every data-quality metric
    // needs at 100 TB, where you cannot resample by shuffling): each of 40
    // replicates weights every order by a Poisson(1) draw derived from
    // md5(orderkey, replicate) — reproducible, engine-independent, and
    // embarrassingly parallel (one explode + one agg; no data movement beyond
    // the group-by). Replicate means are exact integer-cent ratios, so the
    // quantile interpolation sees bit-identical inputs on both engines.
    "q_bootstrap_ci" -> { (s, d) =>
      import graft.functions.TextOps
      val reps = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("b", explode(sequence(lit(0), lit(39))))
      val u = pmod(TextOps.md5Long(concat(
          lit("boot:"), col("o_orderkey").cast("string"),
          lit(":"), col("b").cast("string"))), lit(1000000L))
        .cast("double") / lit(1000000.0)
      // Poisson(1) inverse CDF: cumulative e^-1 * sum(1/i!)
      val w = when(u < 0.3678794412, 0L).when(u < 0.7357588823, 1L)
        .when(u < 0.9196986029, 2L).when(u < 0.9810118431, 3L)
        .when(u < 0.9963401532, 4L).when(u < 0.9994058152, 5L)
        .when(u < 0.9999167589, 6L).otherwise(7L)
      val means = reps.withColumn("w", w)
        .groupBy(col("o_orderpriority"), col("b"))
        .agg(sum(col("w") * col("cents")).as("sw"), sum(col("w")).as("nw"))
        .select(col("o_orderpriority"),
          (col("sw").cast("double") / (col("nw").cast("double") * lit(100.0)))
            .as("mean_b"))
      means.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_reps"),
          r2(percentile(col("mean_b"), lit(0.025))).as("ci_lo"),
          r2(percentile(col("mean_b"), lit(0.975))).as("ci_hi"))
        .orderBy(col("o_orderpriority"))
    },

    // B110: typed cogroup (KeyValueGroupedDataset.cogroup) — the per-key two-sided
    // merge the relational surface can't express as one operator: both sides
    // shuffle ONCE on the key, then arbitrary JVM logic sees each key's complete
    // customer AND order iterators together (full-outer by construction: a
    // customer with no orders arrives with an empty right iterator). Here the
    // per-key logic is an in-memory sort of the customer's order days to get the
    // longest inter-order gap — per-key state is bounded (~25 orders/customer at
    // every SF, orders scale WITH customers), so executor memory is safe at 100 TB;
    // the same answer via SQL needs a join plus a separate lag-window pass over the
    // fact (two shuffles), which is exactly what the oracle does. Tie days sort
    // adjacent (gap 0) so the max-gap is deterministic under duplicate order dates.
    "q_cogroup_recon" -> { (s, d) =>
      import s.implicits._
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name")).as[(Long, String)]
      val ords = Tables.orders(s, d)
        .select(col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .as[(Long, Long, Long)]
      cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) { (k, cs, os) =>
        val name = cs.toSeq.headOption.map(_._2).getOrElse("<unknown>")
        val rows = os.toArray
        val days = rows.map(_._3).sorted
        val maxGap =
          if (days.length < 2) 0L
          else days.sliding(2).map(p => p(1) - p(0)).max
        Iterator((k, name, rows.length.toLong, rows.map(_._2).sum, maxGap))
      }.toDF("custkey", "name", "n_orders", "total_cents", "max_gap_days")
        .orderBy(col("custkey"))
    },

    // B115: catalog DDL with column DEFAULTs — the managed-table surface (CREATE
    // TABLE … USING parquet in the session catalog) with three default-value
    // behaviors the lakehouse migration path depends on: (1) a partial-column
    // INSERT materializes the declared DEFAULT, (2) a full INSERT overrides it,
    // and (3) ALTER TABLE ADD COLUMN … DEFAULT back-fills EXISTING rows at read
    // time via the column's exists-default metadata — no table rewrite, which at
    // 100 TB is the difference between a metadata operation and rewriting every
    // file. The oracle predicts the final table from the orders parquet alone.
    // %3 split (doc'd gotcha: %2/%4/%5 degenerate on some generated keys).
    "q_sql_ddl_default" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("DROP TABLE IF EXISTS graft_ddl_default")
      // The default session catalog is in-memory: a previous PROCESS's table is
      // forgotten by DROP but its warehouse directory survives and would fail
      // CREATE with LOCATION_ALREADY_EXISTS — remove the stale location too.
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_ddl_default")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      s.sql("""CREATE TABLE graft_ddl_default (
               |  o_orderkey BIGINT, prio STRING, cents BIGINT DEFAULT 0)
               |USING parquet""".stripMargin)
      // partial-column insert: cents takes its DEFAULT
      s.sql("""INSERT INTO graft_ddl_default (o_orderkey, prio)
               |SELECT o_orderkey, o_orderpriority FROM orders
               |WHERE o_orderkey % 3 = 0""".stripMargin)
      // full insert: explicit cents
      s.sql("""INSERT INTO graft_ddl_default
               |SELECT o_orderkey, o_orderpriority,
               |  CAST(floor(o_totalprice * 100) AS BIGINT)
               |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin)
      // metadata-only backfill: rows already written above read 'legacy'
      s.sql("ALTER TABLE graft_ddl_default ADD COLUMN src STRING DEFAULT 'legacy'")
      s.sql("""INSERT INTO graft_ddl_default
               |SELECT o_orderkey, o_orderpriority,
               |  CAST(floor(o_totalprice * 100) AS BIGINT), 'new'
               |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin)
      s.table("graft_ddl_default")
        .groupBy(col("src"), col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          count(when(col("cents") === 0L, 1)).as("n_defaulted"))
        .orderBy(col("src"), col("prio"))
    },

    // B113: SQL session variables + EXECUTE IMMEDIATE (Spark 4 parser surface) —
    // parameterized SQL where the parameter VALUE is itself computed by a query
    // (`SET VAR x = (SELECT …)`), then bound positionally via USING. This is the
    // dynamic-threshold posture of every ops dashboard: derive the cutoff from
    // the data, feed it into a prepared statement; no string interpolation, no
    // client round-trip. Exactness: the threshold is floor(avg(cents)) over
    // BIGINT cents — the sum stays below 2^53 through SF ~100 (1.5e8 orders ×
    // ~1.5e7 cents ≈ 2.3e15 > 2^53 only past SF ~400), so the double division
    // is bit-identical across engines at every tested SF; beyond that, compute
    // the threshold in DECIMAL.
    "q_sql_exec_immediate" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("DECLARE OR REPLACE VARIABLE floor_cents BIGINT DEFAULT 0")
      s.sql("""SET VAR floor_cents = (SELECT CAST(floor(avg(
               |  CAST(floor(o_totalprice * 100) AS BIGINT))) AS BIGINT)
               |  FROM orders)""".stripMargin)
      s.sql("""EXECUTE IMMEDIATE
               |  'SELECT o_orderpriority, count(*) AS n_above,
               |     sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
               |   FROM orders
               |   WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > ?
               |   GROUP BY o_orderpriority ORDER BY o_orderpriority'
               |  USING floor_cents""".stripMargin)
    },

    // B111: dynamic partition overwrite — the incremental-backfill primitive.
    // A restatement batch covering only SOME partitions is written with
    // partitionOverwriteMode=dynamic, which replaces exactly the partitions
    // present in the batch and leaves the rest untouched (static overwrite
    // would wipe them — difference pinned in SourcesSpec). At 100 TB this is
    // the difference between rewriting a day and rewriting the table: the
    // write's file footprint is proportional to the restated partitions only.
    // The oracle predicts the post-backfill table from parquet alone: touched
    // partitions carry doubled cents, untouched carry the original.
    "q_write_dpo" -> { (s, d) =>
      val sub = Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(5)).cast("int").as("pk"))
      val dir = Tables.scratchDir(s, "dpo", d)
      sub.write.mode("overwrite").partitionBy("pk").parquet(dir)
      val restated = sub.filter(col("pk").isin(1, 3))
        .withColumn("cents", col("cents") * 2)
      restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pk").parquet(dir)
      s.read.parquet(dir)
        .groupBy(col("pk").cast("long").as("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("pk"))
    },

    // B117: linear-regression aggregate family (regr_slope/intercept/r2/avgx/avgy/
    // count) — per-group OLS of extended price on quantity in ONE hash-agg pass
    // (each regr_* is a pair-moment accumulator; no second scan, no window).
    // The whole family is partial-aggregatable, so at 100 TB it map-side combines
    // like any sum. Both engines use the SQL-standard (y, x) argument order.
    "q_regr_funcs" -> { (s, d) =>
      val y = col("l_extendedprice"); val x = col("l_quantity")
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          r4(regr_slope(y, x)).as("slope"),
          r2(regr_intercept(y, x)).as("intercept"),
          round(regr_r2(y, x), 6).as("r2"),
          regr_count(y, x).cast("long").as("n_pairs"),
          r4(regr_avgx(y, x)).as("avg_x"),
          r4(regr_avgy(y, x)).as("avg_y"))
        .orderBy(col("l_returnflag"))
    },

    // B118: order-sensitive / positional aggregates — deterministic mode
    // (ties broken to the smallest value: Spark's mode(e, deterministic=true);
    // the oracle re-derives it with a (count DESC, value ASC) ranking so the
    // tie-break contract is verified, not assumed), exact interpolated median,
    // LISTAGG ... WITHIN GROUP (the SQL:2016 ordered string agg), and count_if.
    // All four are single-pass hash aggregates; listagg is bounded here by the
    // 5-value priority domain (DISTINCT before concat), so state stays O(domain).
    "q_agg_mode" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .agg(
          mode(col("o_orderpriority"), deterministic = true).as("top_priority"),
          r4(median(col("o_totalprice"))).as("median_price"),
          expr("listagg(DISTINCT o_orderpriority, '|') " +
            "WITHIN GROUP (ORDER BY o_orderpriority)").as("prio_set"),
          count_if(col("o_totalprice") > 150000).as("n_big"),
          count(lit(1)).as("n"))
        .orderBy(col("y"))
    },

    // B119: gaps-and-islands — consecutive-month order streaks per customer via
    // the classic (value - row_number) island key, then the streak-length
    // distribution. One shuffle on custkey (window + first agg share it thanks to
    // the partial agg on the window's partitioning), then a tiny re-agg by length.
    "q_gaps_islands" -> { (s, d) =>
      val months = Tables.orders(s, d)
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m"))
        .distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
      months
        .withColumn("grp", col("m") - row_number().over(w))
        .groupBy(col("o_custkey"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("len"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("len"))
    },

    // B123: SQL-defined functions (Spark 4 CREATE FUNCTION ... RETURN) — a scalar
    // UDF battery the analyzer INLINES into the plan (no black-box function call
    // survives optimization: the band CASE and cents floor fold straight into the
    // aggregate's project, staying inside whole-stage codegen — the opposite of a
    // JVM UDF). The oracle runs the hand-inlined equivalent.
    "q_sql_udf" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
              |RETURNS STRING RETURN CASE WHEN p < 50000 THEN 'low'
              |  WHEN p < 150000 THEN 'mid' ELSE 'high' END""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION order_cents(p DOUBLE)
              |RETURNS BIGINT RETURN CAST(floor(p * 100) AS BIGINT)""".stripMargin)
      // SQL TABLE function (RETURNS TABLE) composing the scalar UDFs — also
      // inlined: it analyzes to a plain filtered subquery, so the scalar
      // subquery over it is one pushed-down-filter aggregate, not a function
      // call. (A parameter can feed a WHERE but not a LIMIT — Spark requires
      // the limit expression to fold to a constant, and an inlined table-
      // function argument stays an outer reference.)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION cents_above(thr DOUBLE)
              |RETURNS TABLE(cents BIGINT)
              |RETURN SELECT order_cents(o_totalprice) FROM orders
              |  WHERE o_totalprice >= thr""".stripMargin)
      s.sql("""SELECT price_band(o_totalprice) AS band, count(*) AS n,
              |  sum(order_cents(o_totalprice)) AS cents,
              |  (SELECT sum(cents) FROM cents_above(400000.0)) AS big_cents
              |FROM orders GROUP BY band ORDER BY band""".stripMargin)
    },

    // B124: nested data model — a STRUCT as the grouping key, then an
    // array-of-struct sorted by a COMPARATOR LAMBDA (count desc, status asc)
    // and rendered to a flat string. collect_list's arrival order is
    // non-deterministic, so determinism comes from the comparator being a total
    // order — exactly the contract the lambda has to get right. Arrays are
    // bounded by the status domain (≤4 per flag), so state is O(domain).
    "q_struct_funcs" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(struct(col("l_returnflag").as("f"), col("l_linestatus").as("st")).as("k"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("k.f").as("flag"))
        .agg(collect_list(struct(col("n"), col("k.st").as("st"))).as("arr"))
        .withColumn("by_n", expr(
          """array_sort(arr, (a, b) -> CASE
            |  WHEN a.n > b.n THEN -1 WHEN a.n < b.n THEN 1
            |  WHEN a.st < b.st THEN -1 WHEN a.st > b.st THEN 1 ELSE 0 END)""".stripMargin))
        .select(col("flag"),
          expr("array_join(transform(by_n, x -> concat(x.st, ':', x.n)), '|')")
            .as("ranked"),
          size(col("by_n")).cast("long").as("n_status"))
        .orderBy(col("flag"))
    },

    // B125: 2D spatial neighbor join — the binned-range-join family (B107/B108)
    // lifted to two dimensions: deterministic integer tenth-degree coordinates,
    // points binned once into radius-sized grid cells, the probe side exploded
    // to its 3×3 cell neighborhood, equi-join on cell id, exact integer squared-
    // distance residual. Cell size = radius guarantees every qualifying pair
    // shares a probed cell, and each pair meets exactly once (the build point
    // lives in ONE cell). All-integer arithmetic: no float boundary drift, and
    // the oracle can brute-force the cross product at test SF while the engine
    // plan stays equi-join-only at any SF.
    "q_join_spatial" -> { (s, d) =>
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        (col("c_custkey") * 131 % 3600).as("clat"),
        (col("c_custkey") * 197 % 7200).as("clon"))
        .withColumn("cx", expr("clat div 50"))
        .withColumn("cy", expr("clon div 50"))
      val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"),
        (col("s_suppkey") * 131 % 3600).as("slat"),
        (col("s_suppkey") * 197 % 7200).as("slon"))
        .withColumn("dx", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("dy", explode(array(lit(-1), lit(0), lit(1))))
        .withColumn("cx", expr("slat div 50") + col("dx"))
        .withColumn("cy", expr("slon div 50") + col("dy"))
      cust.join(supp, Seq("cx", "cy"))
        .withColumn("d2",
          (col("clat") - col("slat")) * (col("clat") - col("slat")) +
          (col("clon") - col("slon")) * (col("clon") - col("slon")))
        .filter(col("d2") <= 2500)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_pairs"), min(col("d2")).as("min_d2"),
          sum(col("d2")).as("sum_d2"))
        .orderBy(col("s_nationkey"))
    },

    // B126: exact distinct counting via roaring-style bitmaps — the classic
    // bitmap-index acceleration: keys map to (bucket, bit) with
    // bitmap_bucket_number/bitmap_bit_position, per-bucket bitmaps build in one
    // hash agg (bitmap_construct_agg), cardinality is a popcount sum, and the
    // GLOBAL distinct re-uses the per-group bitmaps through bitmap_or_agg —
    // merging sketches instead of re-scanning the fact, the property that makes
    // bitmap indexes composable at 100 TB (unlike count(DISTINCT) whose Expand
    // re-shuffles raw rows per grouping). Exact, so the oracle is plain
    // count(DISTINCT).
    "q_bitmap_distinct" -> { (s, d) =>
      val perBucket = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"),
          bitmap_bucket_number(col("o_custkey")).as("bkt"),
          bitmap_bit_position(col("o_custkey")).as("pos"))
        .groupBy(col("prio"), col("bkt"))
        .agg(bitmap_construct_agg(col("pos")).as("bm"))
      val global = perBucket
        .groupBy(col("bkt")).agg(bitmap_or_agg(col("bm")).as("bm"))
        .agg(sum(bitmap_count(col("bm"))).as("nd_all"))
      perBucket.groupBy(col("prio"))
        .agg(sum(bitmap_count(col("bm"))).as("nd"))
        .crossJoin(broadcast(global))
        .orderBy(col("prio"))
    },

    // B127: column-level encryption — AES-128-ECB/PKCS round-trip entirely in
    // expressions. ECB is chosen deliberately: its determinism is what makes
    // the contract oracle-checkable (same plaintext → same ciphertext, so
    // distinct-ciphertext = distinct-plaintext and PKCS length is a pure
    // function of plaintext length; GCM's random IV would be unverifiable —
    // and is the right choice in production for exactly that reason).
    // try_aes_decrypt's error channel: a non-block-multiple ciphertext yields
    // NULL, not a dead job (A19 posture).
    "q_aes_roundtrip" -> { (s, d) =>
      val k = "'0123456789abcdef'"
      Tables.orders(s, d)
        .withColumn("pt", concat(col("o_orderpriority"), lit(":"), col("o_orderkey")))
        .withColumn("ct", expr(s"aes_encrypt(pt, $k, 'ECB')"))
        .withColumn("rt", expr(s"CAST(aes_decrypt(ct, $k, 'ECB') AS STRING)"))
        .withColumn("corrupt", expr(s"try_aes_decrypt(substring(ct, 1, 8), $k, 'ECB')"))
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"),
          count(when(col("rt") === col("pt"), 1)).as("n_roundtrip"),
          countDistinct(col("ct")).as("nd_ct"),
          count(when(col("corrupt").isNull, 1)).as("n_corrupt_null"),
          max(length(col("ct"))).cast("long").as("max_ct_len"))
        .orderBy(col("prio"))
    },

    // B128: SQL scripting (Spark 4 BEGIN…END) — DECLAREd accumulators mutated
    // by a WHILE loop of scalar queries: the procedural control-flow surface
    // (migration target for stored-procedure workloads). The script's last
    // statement is its result; the oracle is the closed form of the loop.
    "q_sql_script" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.conf.set("spark.sql.scripting.enabled", "true")
      s.sql("""BEGIN
              |  DECLARE thr DOUBLE DEFAULT 0.0;
              |  DECLARE bands BIGINT DEFAULT 0;
              |  DECLARE grand BIGINT DEFAULT 0;
              |  WHILE thr < 500000.0 DO
              |    SET grand = grand +
              |      (SELECT count(*) FROM orders WHERE o_totalprice >= thr);
              |    SET bands = bands + 1;
              |    SET thr = thr + 100000.0;
              |  END WHILE;
              |  SELECT bands, grand;
              |END""".stripMargin)
    },

    // B129: DataFrameWriterV2 against the graft TableCatalog (sources/
    // GraftCatalog.scala — manifest-committed table format): create (CTAS),
    // append, and overwritePartitions all land as atomic manifest generations;
    // the read-back goes through manifest-pruned scanning. The V2 twin of
    // q_write_dpo with a real catalog underneath instead of path options.
    "q_writeto_v2" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(4)).cast("int").as("pk"))
      // Seed (pk ≠ 3 partitions) memoized; the timed ops are the writer-V2
      // surface itself: append into a fresh partition + overwritePartitions.
      clonedSeed(s, d, "wt_s", "wt", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("pk") =!= 3).writeTo("graft.wt_s")
          .partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      base.filter(col("pk") === 3).writeTo("graft.wt").append()
      base.filter(col("pk") === 1).withColumn("cents", col("cents") * 2)
        .writeTo("graft.wt").overwritePartitions()
      s.table("graft.wt")
        .groupBy(col("pk").cast("long").as("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("pk"))
    },

    // B130: snapshot time travel — every catalog commit keeps its manifest, so
    // VERSION AS OF replays any generation with zero data copying (the read
    // path just resolves an older entry list; gen dirs are immutable). Current
    // and pre-restatement snapshots are compared in one query.
    "q_catalog_timetravel" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "tt", 2L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("int").as("pk"))
        base.writeTo("graft.tt").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()             // gen 1
        base.filter(col("pk") === 1).withColumn("cents", col("cents") * 3)
          .writeTo("graft.tt").overwritePartitions()             // gen 2
      }
      s.sql("""SELECT 'cur' AS snap, CAST(pk AS BIGINT) AS pk, count(*) AS n,
              |  sum(cents) AS cents
              |FROM graft.tt GROUP BY pk
              |UNION ALL
              |SELECT 'v1' AS snap, CAST(pk AS BIGINT) AS pk, count(*) AS n,
              |  sum(cents) AS cents
              |FROM graft.tt VERSION AS OF 1 GROUP BY pk
              |ORDER BY snap, pk""".stripMargin)
    },

    // B131: catalog commit history (DESCRIBE HISTORY analogue) — a fixed op
    // sequence (create / append / TRUNCATE / append) leaves a fully determined
    // manifest trail: the clustered write distribution makes file counts exact
    // (one file per partition per commit), so the whole history is predictable
    // down to file granularity and the oracle is the literal expected ledger.
    "q_catalog_history" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "hist", 4L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("int").as("pk"))
        base.writeTo("graft.hist").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()                 // gen 1: 3 files
        base.filter(col("pk") === 1).writeTo("graft.hist").append()  // gen 2: +1
        s.sql("TRUNCATE TABLE graft.hist")                           // gen 3: empty
        base.filter(col("pk") === 2).writeTo("graft.hist").append()  // gen 4: 1
      }
      graft.sources.GraftCatalogOps
        .history(s, Tables.scratchDir(s, "catalog", d), "hist")
        .orderBy(col("gen"))
    },

    // B132: SQL DELETE on the catalog — metadata-only partition deletes
    // (SupportsDelete): the commit drops entries, files stay, and the
    // pre-delete snapshot remains queryable via VERSION AS OF in the same
    // statement. Undecidable predicates are refused at analysis, not guessed.
    "q_catalog_delete" -> { (s, d) =>
      // Seeded by clone (gen 0 = pre-delete snapshot); DELETE is the timed op.
      clonedSeed(s, d, "del_s", "del", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("int").as("pk"))
          .writeTo("graft.del_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      s.sql("DELETE FROM graft.del WHERE pk = 1")
      s.sql("""SELECT 'cur' AS snap, CAST(pk AS BIGINT) AS pk, count(*) AS n,
              |  sum(cents) AS cents
              |FROM graft.del GROUP BY pk
              |UNION ALL
              |SELECT 'v1' AS snap, CAST(pk AS BIGINT) AS pk, count(*) AS n,
              |  sum(cents) AS cents
              |FROM graft.del VERSION AS OF 0 GROUP BY pk
              |ORDER BY snap, pk""".stripMargin)
    },

    // B133: SQL pipe syntax (Spark 4 |> operators) — the linear query form
    // (FROM … |> WHERE … |> EXTEND … |> AGGREGATE … |> ORDER BY): each stage
    // is a plain logical operator, so the optimized plan is identical to the
    // nested-SELECT equivalent the oracle runs.
    "q_sql_pipe" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql("""FROM orders
              ||> WHERE o_totalprice > 50000
              ||> EXTEND CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
              ||> AGGREGATE count(*) AS n, sum(cents) AS cents
              |   GROUP BY o_orderpriority
              ||> SELECT o_orderpriority AS prio, n, cents
              ||> ORDER BY prio""".stripMargin)
    },

    // B120: CSV scalar codec — to_csv(struct) ↔ from_csv round-trip entirely in
    // expressions (codegen'd, no line-based source needed). Integer/enum columns
    // only: float→text rendering differs across engines, so the text boundary
    // stays on exactly-representable values (same posture as q_source_xml).
    // The oracle predicts both the parsed-back values and the wire length.
    "q_csv_funcs" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("line",
          to_csv(struct(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))))
        .withColumn("back",
          expr("from_csv(line, 'k BIGINT, prio STRING, st STRING')"))
        .groupBy(col("back.st").as("st"))
        .agg(count(lit(1)).as("n"),
          sum(col("back.k")).as("key_sum"),
          countDistinct(col("back.prio")).as("n_prio"),
          max(length(col("line"))).cast("long").as("max_len"))
        .orderBy(col("st"))
    },

    // B134: GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB shared dialect) — the
    // grouping set is inferred from the non-aggregate select items, the sort from
    // the whole select list. ONE SQL text runs verbatim on both engines, so the
    // oracle is literally the same query.
    "q_sql_groupall" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(GroupAllText)
    },

    // B135: IDENTIFIER() dynamic names + named parameter markers (Spark 4
    // parameterized SQL): table, grouping column, and measure column arrive as
    // *constants bound at parse time*, the threshold as a typed named parameter —
    // the injection-safe templating surface (a quote inside a parameter is data,
    // never SQL). The oracle runs the fully-resolved query.
    "q_sql_identifier" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT IDENTIFIER(:gcol) AS grp, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(floor(IDENTIFIER(:vcol) * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM IDENTIFIER(:tbl)
          |WHERE IDENTIFIER(:vcol) > :minp
          |GROUP BY IDENTIFIER(:gcol)
          |ORDER BY grp""".stripMargin,
        Map("gcol" -> "o_orderpriority", "vcol" -> "o_totalprice",
          "tbl" -> "orders", "minp" -> Int.box(50000)))
    },

    // B136: table-valued function in FROM — range() generates the dense year
    // grid driver-free (a generated relation, not a collected literal), LEFT
    // JOIN preserves empty years with explicit zeros. The dense-grid-from-TVF
    // pattern is the scale-safe spine for gap-filling reports: the grid is
    // O(domain), never O(rows).
    "q_sql_tvf" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """SELECT g.id AS y, CAST(count(o.o_orderkey) AS BIGINT) AS n,
          |  CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
          |FROM range(1994, 2003) g
          |LEFT JOIN orders o ON year(o.o_orderdate) = g.id
          |GROUP BY g.id ORDER BY y""".stripMargin)
    },

    // B137: generator battery — stack (wide→long unpivot generator), posexplode
    // over sequence() (positional explode of a generated array), and LATERAL
    // VIEW OUTER inline over an empty struct-array (outer semantics must keep
    // the parent row with NULLs). All three are Generate-node row multipliers;
    // DuckDB re-derives them with UNION ALL + lateral generate_series, with the
    // posexplode position reconstructed as value − start.
    "q_generators" -> { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(
        """WITH base AS (
          |  SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |  FROM orders GROUP BY o_orderpriority)
          |SELECT p, 'stack' AS fam, metric AS k, val AS v
          |  FROM base LATERAL VIEW stack(2, 'n', n, 'cents', cents) AS metric, val
          |UNION ALL
          |SELECT p, 'seq' AS fam, CAST(pos AS STRING) AS k, v
          |  FROM base LATERAL VIEW posexplode(sequence(n % 3 + 1, n % 3 + 3)) AS pos, v
          |UNION ALL
          |SELECT p, 'outer' AS fam, k, v
          |  FROM base LATERAL VIEW OUTER inline(
          |    CASE WHEN n < 0 THEN array(named_struct('k', 'x', 'v', CAST(0 AS BIGINT)))
          |         ELSE array() END) AS k, v
          |ORDER BY p, fam, k, v""".stripMargin)
    },

    // B138: scalable surrogate keys — global dense row numbers WITHOUT the
    // single-partition sort that `row_number() OVER (ORDER BY …)` would plan
    // (the classic 100 TB faceplant: every row through one task). See
    // Relational.globalRowNumber: one range shuffle + local sort, then each
    // sorted partition numbered from its prefix-summed offset.
    "q_surrogate_keys" -> { (s, d) =>
      graft.operators.Relational
        .globalRowNumber(Tables.orders(s, d).select(col("o_orderkey")),
          col("o_orderkey"), 16, "sk")
        .select(col("o_orderkey"), col("sk"))
        .orderBy(col("o_orderkey"))
    },

    // B139: snapshot diff (CDC) — classify every key as insert/update/delete/
    // unchanged between two table versions via ONE full-outer join on the key
    // with md5 row-fingerprint comparison (no column-by-column CASE ladder; at
    // 100 TB the fingerprint collapses change detection to one string compare).
    // The "new" snapshot is derived deterministically from orders: keys %13==0
    // deleted, %7==0 repriced (+100000 cents), %17==0 cloned to a new key space
    // (inserts). Output: per-change-type row counts and cents movement.
    "q_snapshot_diff" -> { (s, d) =>
      val cents = expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
      val old = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"), cents.as("cents"))
      val survivors = old.filter(col("k") % 13 =!= 0)
      val updated = survivors.withColumn("cents",
        when(col("k") % 7 === 0, col("cents") + 100000L).otherwise(col("cents")))
      val inserts = survivors.filter(col("k") % 17 === 0)
        .select((col("k") + 1000000000L).as("k"), col("st"), (col("cents") + 1L).as("cents"))
      val newSnap = updated.unionAll(inserts)
      val fp = (t: String) => md5(concat_ws("|", col(s"$t.st"), col(s"$t.cents")))
      old.as("a").join(newSnap.as("b"), col("a.k") === col("b.k"), "full_outer")
        .withColumn("change",
          when(col("a.k").isNull, "insert")
            .when(col("b.k").isNull, "delete")
            .when(fp("a") =!= fp("b"), "update")
            .otherwise("unchanged"))
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("a.cents"), lit(0L))).as("cents_before"),
          sum(coalesce(col("b.cents"), lit(0L))).as("cents_after"))
        .orderBy(col("change"))
    },

    // B141: audited approximate quantiles — approx_percentile is Greenwald-
    // Khanna: its rank error is a DETERMINISTIC worst-case bound (≤ n/accuracy,
    // merge-order independent), unlike a probabilistic sketch. The sketch VALUE
    // is engine-internal, so the contract emits the exact interpolated
    // percentiles (cross-engine comparable) plus a rank-audit boolean the
    // oracle pins TRUE: rank(approx_p_q) must lie in [(q−ε)n − 1, (q+ε)n + 1].
    // The audit join is against a 5-row broadcast — metadata, not a rescan.
    "q_approx_quantiles" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val ap = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        expr("approx_percentile(value, array(0.5, 0.9), 100)").as("ap"),
        expr("round(percentile(value, 0.5), 4)").as("p50_exact"),
        expr("round(percentile(value, 0.9), 4)").as("p90_exact"))
      // GK guarantees SOME rank of the returned value lies in (q±eps)n — the
      // value's rank INTERVAL is [count(<v)+1, count(<=v)], so the audit must
      // check interval overlap, not a single endpoint (duplicate-heavy data
      // would otherwise flip the boolean while the sketch meets its bound).
      val audit = ev.join(broadcast(ap.select(col("event_type"), col("ap"))), "event_type")
        .groupBy(col("event_type")).agg(
          sum(when(col("value") < element_at(col("ap"), 1), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= element_at(col("ap"), 1), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") < element_at(col("ap"), 2), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("value") <= element_at(col("ap"), 2), 1L).otherwise(0L)).as("le90"))
      def ok(ltR: Column, leR: Column, q: Double) =
        leR >= lit(q - 0.01) * col("n") - lit(1.0) &&
          (ltR + lit(1L)) <= lit(q + 0.01) * col("n") + lit(1.0)
      ap.join(audit, "event_type")
        .select(col("event_type"), col("n"), col("p50_exact"), col("p90_exact"),
          ok(col("lt50"), col("le50"), 0.5).as("ok50"),
          ok(col("lt90"), col("le90"), 0.9).as("ok90"))
        .orderBy(col("event_type"))
    },

    // B143: period-over-period — monthly revenue with month-over-month delta
    // and year-over-year ratio in integer basis points (DECIMAL-widened like
    // B97, so the arithmetic survives SF 1000). The lag window runs over the
    // ~96-row post-aggregate series, never the fact table: at 100 TB the fact
    // reduces first, the analytic reads the reduction.
    "q_period_over_period" -> { (s, d) =>
      val monthly = Tables.orders(s, d)
        .groupBy(expr("CAST(year(o_orderdate) AS BIGINT)").as("y"),
          expr("CAST(month(o_orderdate) AS BIGINT)").as("m"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
      val w = Window.orderBy(col("y"), col("m"))
      monthly
        .withColumn("mom_delta", col("cents") - lag(col("cents"), 1).over(w))
        .withColumn("yoy_bp",
          expr("CAST(CAST(cents AS DECIMAL(38,0)) * 10000 div lag(cents, 12) OVER (ORDER BY y, m) AS BIGINT)"))
        .orderBy(col("y"), col("m"))
    },

    // B146: declarative data-quality expectations (the dbt-test/Deequ shape) —
    // not-null, uniqueness, accepted-values, and range constraints evaluated in
    // ONE map-side-combinable aggregate pass over the fact (stack unpivots the
    // result to a per-constraint report), plus a referential-integrity check as
    // a broadcast anti-join. One scan + one tiny join for the whole battery —
    // never a scan per constraint.
    "q_dq_expectations" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val scalar = o.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("uq"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("av"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("rg"))
        .selectExpr(
          """stack(4,
            | 'not_null:o_custkey', nn,
            | 'unique:o_orderkey', uq,
            | 'accepted_values:o_orderstatus', av,
            | 'range:o_totalprice_positive', rg) AS (check_name, violations)""".stripMargin)
      val ri = o.join(
          broadcast(Tables.customer(s, d).select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("ri:o_custkey->customer").as("check_name"), col("violations"))
      scalar.unionByName(ri)
        .withColumn("ok", col("violations") === 0L)
        .orderBy(col("check_name"))
    },

    // B150 query witness: four range-clustered commits land four files whose
    // manifest min/max key ranges are disjoint; a key-range read then provably
    // skips 3 of 4 files. files_skipped is computed with the LIBRARY's own
    // stats evaluator (GraftFileStats.mayMatch) over the live manifest — the
    // oracle pins it to the literal 3, so a regression that stops skipping
    // (or skips wrongly) flips a hash-checked column, not just a plan detail.
    // The maxKey collect is one row — metadata, not a data pass.
    "q_catalog_skipping" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val maxk = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val bw = maxk / 4 + 1
      fixture(s, d, "sk", 4L, "v1", Seq("orders")) { marker =>
        (0L until 4L).foreach { b =>
          base.filter(col("o_orderkey") >= b * bw && col("o_orderkey") < (b + 1) * bw)
            .coalesce(1).writeTo("graft.sk") match {
              case w if b == 0 => w.tableProperty("fixture", marker).create()
              case w           => w.append()
            }
        }
      }
      val (lo, hi) = (bw, 2 * bw) // band 1
      val agg = s.table("graft.sk")
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      // Library-evaluator witness over the committed manifest.
      import graft.sources.{GraftFileStats, GraftManifest}
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.catalog.graft.root"), "sk")
      val conf = s.sessionState.newHadoopConf()
      val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val filters: Array[org.apache.spark.sql.sources.Filter] =
        Array(GreaterThanOrEqual("o_orderkey", lo), LessThan("o_orderkey", hi))
      val skipped = m.entries.count { case (_, rel) =>
        !GraftFileStats.mayMatch(m.fileStats.get(rel), filters, m.dataSchema) }
      agg.select(col("n"), col("cents"),
        lit(m.entries.size.toLong).as("files_total"),
        lit(skipped.toLong).as("files_skipped"))
    },

    // B187 query witness: predicate overwrite (Delta replaceWhere) with
    // file-level pruning — four orderkey-banded files, a backfill replaces
    // band 1's rows with repriced copies (+7 cents) in ONE commit.
    // `pruned` pins that the manifest's min/max stats narrowed the rewrite
    // to 1 candidate file of 4; `surgical` pins that every out-of-band file
    // rides the manifest forward with its IDENTITY (rel path) intact — the
    // other three files were neither read nor rewritten. The per-status
    // aggregate hash-verifies the row-level replace semantics.
    "q_catalog_replacewhere" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderstatus"))
      // The 4-file banded layout IS the fixture (the band width rides the
      // seed's props so no per-invocation max() job recomputes it); the
      // predicate overwrite is the timed op.
      clonedSeed(s, d, "rw_s", "rw", 4L, "v1", Seq("orders")) { marker =>
        val maxk = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        val sbw = maxk / 4 + 1
        (0L until 4L).foreach { b =>
          base.filter(col("o_orderkey") >= b * sbw && col("o_orderkey") < (b + 1) * sbw)
            .coalesce(1).writeTo("graft.rw_s") match {
              case w if b == 0 =>
                w.tableProperty("bw", sbw.toString)
                  .tableProperty("fixture", marker).create()
              case w           => w.append()
            }
        }
      }
      import graft.sources.{GraftCatalogOps, GraftManifest}
      val root = Tables.scratchDir(s, "catalog", d)
      val dir = new org.apache.hadoop.fs.Path(root, "rw")
      val conf = s.sessionState.newHadoopConf()
      val before = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val bw = before.props("bw").toLong
      val (lo, hi) = (bw, 2 * bw)
      val repriced = base
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .withColumn("cents", col("cents") + lit(7L))
      val (cand, total) = GraftCatalogOps.replaceWhere(s, "graft.rw", root, "rw",
        s"o_orderkey >= $lo AND o_orderkey < $hi", repriced)
      val after = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val afterSet = after.entries.toSet
      val removed = before.entries.map(_._2).toSet -- after.entries.map(_._2).toSet
      val surgical = removed.size.toLong == cand &&
        before.entries.filter(e => !removed(e._2)).forall(afterSet)
      s.table("graft.rw").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("pruned", lit(cand == 1L && total == 4L))
        .withColumn("surgical", lit(surgical))
        .orderBy(col("o_orderstatus"))
    },

    // B193 query witness: CALL procedures — the maintenance surface driven
    // from pure SQL with named arguments: DV-targeted OPTIMIZE and snapshot
    // TAG run via `CALL graft.system.*`, their one-row result sets feed the
    // pinned booleans (`opt_ok`: exactly the DV-heavy file compacted;
    // `tag_ok`), and the tagged pre-delete snapshot is read back through
    // `VERSION AS OF '<name>'` into the hash-gated output alongside the live
    // per-partition aggregate.
    // B195 query witness: WAP branches — fork, write two batches to the
    // branch (main provably isolated), audit-read the branch head via
    // VERSION AS OF, then fast_forward publishes BOTH branch commits as ONE
    // main generation (metadata-only: data files never move). The final
    // aggregate hashes the published state; the isolation + publish pins
    // ride the gate as booleans.
    "q_catalog_branch" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // Main seed memoized; fork / branch-writes / audit / fast_forward are
      // the timed WAP cycle.
      clonedSeed(s, d, "wapq_s", "wapq", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0).writeTo("graft.wapq_s")
          .tableProperty("fixture", marker).create()
      }
      val mainN = s.table("graft.wapq").count()
      val forkBase = s.sql(
        "CALL graft.system.branch(table => 'wapq', name => 'audit')")
        .collect()(0).getLong(0)
      base.filter(col("o_orderkey") % 4 === 1)
        .writeTo("graft.wapq").option("branch", "audit").append()
      base.filter(col("o_orderkey") % 4 === 3)
        .writeTo("graft.wapq").option("branch", "audit").append()
      val isolated = s.table("graft.wapq").count() == mainN
      val auditN = s.sql("SELECT count(*) FROM graft.wapq VERSION AS OF 'audit'")
        .collect()(0).getLong(0)
      val published = s.sql(
        "CALL graft.system.fast_forward(table => 'wapq', name => 'audit')")
        .collect()(0).getLong(0)
      val ffOk = published == forkBase + 1 &&
        s.table("graft.wapq").count() == auditN
      s.table("graft.wapq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("audit_n", lit(auditN))
        .withColumn("main_isolated", lit(isolated))
        .withColumn("ff_ok", lit(ffOk))
        .orderBy(col("pk"))
    },

    "q_catalog_call" -> { (s, d) =>
      // DV-mode seed memoized; the CALL surface (optimize / tag) plus the
      // debt-creating DELETE are the timed ops. The clone is born at gen 0,
      // so the pre-delete snapshot tag pins version 0.
      clonedSeed(s, d, "pcall_s", "pcall", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.pcall_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()
      }
      s.sql("DELETE FROM graft.pcall WHERE pk = 0 AND o_orderkey % 2 = 0")
      val opt = s.sql(
        "CALL graft.system.optimize(table => 'pcall', min_deleted_ratio => 0.2)")
        .collect()(0)
      val optOk = opt.getLong(1) == 1L && opt.getLong(3) == 0L
      val tagOk = s.sql(
        "CALL graft.system.tag(table => 'pcall', name => 'audit', version => 0)")
        .collect()(0).getBoolean(0)
      val taggedN = s.sql(
        "SELECT count(*) FROM graft.pcall VERSION AS OF 'audit'")
        .collect()(0).getLong(0)
      s.table("graft.pcall").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("tagged_n", lit(taggedN))
        .withColumn("opt_ok", lit(optOk))
        .withColumn("tag_ok", lit(tagOk))
        .orderBy(col("pk"))
    },

    // B190 query witness: RENAME COLUMN via column mapping — two renames on
    // a two-file banded table are metadata-only commits (`no_rewrite` pins
    // entry-set identity across the ALTERs); reads, writes (the marker row
    // appends under the NEW names), and file-stat pruning (`pruned`, via the
    // library evaluator probing the RENAMED key) all follow the logical
    // names while every parquet footer keeps the original physical name.
    "q_catalog_rename" -> { (s, d) =>
      // Two-file banded seed memoized (band width in props); the metadata
      // RENAMEs, the post-rename append, and the renamed-key pruning probe
      // are the timed ops.
      clonedSeed(s, d, "ren_s", "ren", 2L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderstatus"))
        val maxk = base.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        val sbw = maxk / 2 + 1
        base.filter(col("o_orderkey") < sbw).coalesce(1).writeTo("graft.ren_s")
          .tableProperty("bw", sbw.toString)
          .tableProperty("fixture", marker).create()
        base.filter(col("o_orderkey") >= sbw).coalesce(1)
          .writeTo("graft.ren_s").append()
      }
      import graft.sources.{GraftCatalogOps, GraftManifest}
      val root = Tables.scratchDir(s, "catalog", d)
      val dir = new org.apache.hadoop.fs.Path(root, "ren")
      val conf = s.sessionState.newHadoopConf()
      val before = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val bw = before.props("bw").toLong
      s.sql("ALTER TABLE graft.ren RENAME COLUMN o_orderkey TO order_id")
      s.sql("ALTER TABLE graft.ren RENAME COLUMN cents TO price_cents")
      val after = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val noRewrite = before.entries.toSet == after.entries.toSet
      import s.implicits._
      Seq((-1L, 777L, "X")).toDF("order_id", "price_cents", "o_orderstatus")
        .writeTo("graft.ren").append()
      val m2 = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val kept = GraftCatalogOps.mayTouch(m2, Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("order_id", bw)))
      val pruned = kept.nonEmpty && kept.size < m2.entries.size
      s.table("graft.ren").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("cents"))
        .withColumn("no_rewrite", lit(noRewrite))
        .withColumn("pruned", lit(pruned))
        .orderBy(col("o_orderstatus"))
    },

    // B189 query witness: GENERATED COLUMNS — the table partitions by
    // o_month, declared as `generate.o_month = month(o_orderdate)`; the
    // caller appends WITHOUT the column (insertGenerated computes it), a
    // write carrying a WRONG value is rejected by the per-row invariant
    // (`enforced`, commit atomicity implies the hash can't include those
    // rows), and an equality probe on the generated column partition-prunes
    // (`pruned`, from the library's own metadata evaluator). The per-month
    // aggregate rides the hash gate — the derived key itself is verified.
    "q_catalog_generated" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.gcol")
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderdate"))
      src.limit(0).withColumn("o_month", expr("CAST(month(o_orderdate) AS INT)"))
        .writeTo("graft.gcol").partitionedBy(col("o_month"))
        .tableProperty("generate.o_month", "CAST(month(o_orderdate) AS INT)")
        .create()
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.insertGenerated(s, "graft.gcol", root, "gcol", src)
      val rejected =
        try {
          src.limit(5).withColumn("o_month", lit(99))
            .writeTo("graft.gcol").append()
          false
        } catch { case _: Exception => true }
      import graft.sources.{GraftCatalogOps, GraftManifest}
      val dir = new org.apache.hadoop.fs.Path(root, "gcol")
      val conf = s.sessionState.newHadoopConf()
      val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val kept = GraftCatalogOps.mayTouch(m,
        Array(org.apache.spark.sql.sources.EqualTo("o_month", 3)))
      val pruned = kept.nonEmpty && kept.size < m.entries.size
      s.table("graft.gcol").groupBy(col("o_month"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("enforced", lit(rejected))
        .withColumn("pruned", lit(pruned))
        .orderBy(col("o_month"))
    },

    // B188 query witness: SHALLOW CLONE — a metadata-only table fork whose
    // gen-0 manifest references the source's files by absolute path (zero
    // data bytes move; `metadata_only` pins that the clone dir holds no data
    // files at clone time), inheriting the source's deletion vectors. The
    // two tables then DIVERGE: the clone DV-deletes against an inherited
    // file and appends; the source row proves it saw none of it. Both
    // sides' aggregates ride the hash gate.
    "q_catalog_clone" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.cls")
      s.sql("DROP TABLE IF EXISTS graft.cld")
      Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .coalesce(2).writeTo("graft.cls").tableProperty("dml", "dv").create()
      s.sql("DELETE FROM graft.cls WHERE o_orderkey % 10 = 0") // source DV
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.cloneTable(s, root, "cls", "cld")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      val cloneDataFiles = Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(root, "cld/gen-*")))
        .getOrElse(Array.empty).length
      s.sql("DELETE FROM graft.cld WHERE o_orderkey % 7 = 0") // DV on inherited file
      import s.implicits._
      Seq((-1L, 100L), (-2L, 200L)).toDF("o_orderkey", "cents")
        .writeTo("graft.cld").append()
      def side(name: String, t: String) = s.table(t)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(lit(name).as("side"), col("n"), col("cents"),
          lit(cloneDataFiles == 0).as("metadata_only"))
      side("clone", "graft.cld").unionByName(side("src", "graft.cls"))
        .orderBy(col("side"))
    },

    // B152 query witness: the catalog table driven END TO END as a streaming
    // source — snapshot commit, AvailableNow drain, a second commit, a resumed
    // drain from the same checkpoint — and the STREAM-maintained aggregate is
    // what ships to the oracle, which predicts it from parquet alone. Equality
    // proves snapshot-first + commit-granular increments with no re-emit and
    // no loss. Checkpoint/sink state is reset up front so the query is
    // idempotent across Verify/Bench runs in fresh or shared sessions.
    "q_catalog_stream" -> { (s, d) =>
      val ckpt = Tables.scratchDir(s, "cs_ckpt", d)
      val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
      ckptPath.getFileSystem(s.sessionState.newHadoopConf()).delete(ckptPath, true)
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("int").as("pk"))
      // Pre-subscription snapshot memoized (clone = gen 0; a fresh stream's
      // first batch is the full current snapshot whatever its generation
      // number); the drains and the incremental commit are the timed ops.
      clonedSeed(s, d, "cs_s", "cs", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("pk") =!= 2).writeTo("graft.cs_s")
          .partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      def drain(): Unit = {
        // 3 groups don't need 32 state stores: the stateful aggregate's
        // shuffle-partition count is baked into the checkpoint at first
        // start, and each AvailableNow drain pays state-store init PER
        // partition — 4 keeps the fixed cost proportional to the state, not
        // the session default (values are partition-count invariant).
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "4")
        try {
          val q = s.readStream.table("graft.cs")
            .groupBy(col("pk")).agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode("complete").format("memory").queryName("graft_cs_sink")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          // A timed-out drain would ship a PARTIAL aggregate that reads as a
          // correctness bug — fail loudly instead.
          val done = q.awaitTermination(240000)
          q.stop()
          require(done, "q_catalog_stream: AvailableNow drain did not finish in 240s")
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      drain()                                           // snapshot batch
      base.filter(col("pk") === 2).writeTo("graft.cs").append()
      drain()                                           // incremental batch
      s.table("graft_cs_sink")
        .select(col("pk").cast("long").as("pk"), col("n"), col("cents"))
        .orderBy(col("pk"))
    },

    // B155 query witness: the catalog's full SQL DML surface — UPDATE, MERGE
    // INTO (matched update + unmatched insert), and a non-partition DELETE —
    // each a group-based copy-on-write rewrite that swaps only the files its
    // scan planned. The oracle replays the same edits relationally from
    // parquet, so the final table state (including which rows each statement
    // touched) is hash-verified end to end.
    "q_catalog_merge" -> { (s, d) =>
      // CoW seed memoized; the timed ops are UPDATE / DELETE / MERGE — the
      // full row-level DML surface against an already-existing table.
      clonedSeed(s, d, "dml_s", "dml", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.dml_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      s.sql("UPDATE graft.dml SET cents = cents + 7 WHERE o_orderkey % 5 = 0")
      s.sql("DELETE FROM graft.dml WHERE cents % 11 = 3")
      Tables.orders(s, d).filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT) + 100000").as("cents"),
          pmod(col("o_orderkey") + 1, lit(3)).cast("long").as("pk"))
        .createOrReplaceTempView("dml_src")
      s.sql(
        """MERGE INTO graft.dml t USING dml_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET cents = s.cents
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, cents, pk)
          |  VALUES (s.o_orderkey, s.cents, s.pk)""".stripMargin)
      s.table("graft.dml")
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("pk"))
    },

    // B160 query witness: merge-on-read row-level DML via positional deletion
    // vectors (`dml=dv`). DELETE, UPDATE, and MERGE run against the catalog
    // table WITHOUT rewriting any existing data file — deletes become DV
    // entries, updates delete+insert — and the query proves it structurally:
    // `no_rewrite` checks every original (gen-1) file survives verbatim in
    // the final manifest, `has_dvs` that deletion vectors actually exist.
    // The oracle replays the DML relationally and pins both booleans true.
    "q_catalog_dv" -> { (s, d) =>
      // Merge-on-read seed memoized (clone inherits `dml=dv`); the timed ops
      // are the DV DELETE / UPDATE / MERGE themselves.
      clonedSeed(s, d, "dvt_s", "dvt", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.dvt_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()
      }
      s.sql("DELETE FROM graft.dvt WHERE o_orderkey % 7 = 3")
      s.sql("UPDATE graft.dvt SET cents = cents + 11 WHERE o_orderkey % 13 = 0")
      Tables.orders(s, d).filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"),
          (expr("CAST(floor(o_totalprice * 100) AS BIGINT)") + 200000).as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
        .createOrReplaceTempView("dvt_src")
      s.sql(
        """MERGE INTO graft.dvt t USING dvt_src s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET cents = s.cents
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, cents, pk)
          |  VALUES (s.o_orderkey, s.cents, s.pk)""".stripMargin)
      // Structural proof, manifest-scale driver reads only: the original
      // (clone gen-0) files all survive, and DVs carry the deletes.
      import org.apache.hadoop.fs.Path
      val conf = s.sessionState.newHadoopConf()
      val dir = new Path(Tables.scratchDir(s, "catalog", d), "dvt")
      val cur = graft.sources.GraftManifest.load(dir,
        graft.sources.GraftManifest.currentGen(dir, conf), conf)
      val orig = graft.sources.GraftManifest.load(dir, 0L, conf)
      val noRewrite = orig.entries.toSet.subsetOf(cur.entries.toSet)
      val hasDvs = cur.fileDVs.nonEmpty
      s.table("graft.dvt").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("no_rewrite", lit(noRewrite))
        .withColumn("has_dvs", lit(hasDvs))
        .orderBy(col("pk"))
    },

    // B161 query witness: OPTIMIZE — catalog compaction that collapses a
    // fragmented file set (4 commits × 3 partitions) to one file per
    // partition AND materializes deletion vectors away, in one atomic
    // dynamic-overwrite commit. `compacted` / `dvs_cleared` pin the
    // structural outcome; the hash-verified aggregate pins losslessness.
    "q_catalog_optimize" -> { (s, d) =>
      // The fragmented 4-commit layout IS the fixture (the state OPTIMIZE
      // exists to fix); DELETE + OPTIMIZE are the timed ops.
      clonedSeed(s, d, "optq_s", "optq", 4L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
        base.filter(pmod(col("o_orderkey"), lit(4)) === 0)
          .writeTo("graft.optq_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()
        (1 to 3).foreach { r =>
          base.filter(pmod(col("o_orderkey"), lit(4)) === r)
            .writeTo("graft.optq_s").append()
        }
      }
      s.sql("DELETE FROM graft.optq WHERE o_orderkey % 9 = 5")
      val (filesBefore, dvsBefore, filesAfter, dvsAfter) =
        graft.sources.GraftCatalogOps.optimize(s, "graft.optq",
          Tables.scratchDir(s, "catalog", d), "optq")
      s.table("graft.optq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("compacted", lit(filesAfter < filesBefore))
        .withColumn("dvs_cleared", lit(dvsBefore > 0 && dvsAfter == 0))
        .orderBy(col("pk"))
    },

    // B182 query witness: DV-TARGETED OPTIMIZE — `minDeletedRatio` makes
    // compaction pay for dead rows only (the Delta OPTIMIZE-on-DV-debt
    // heuristic): pk=0's file is ~50% deleted (≥ the 0.2 threshold) and gets
    // rewritten DV-free in one surgical replace-groups commit; pk=1's file is
    // ~1% deleted and KEEPS its cheap deletion vector (rewriting a big file
    // to drop 1% of rows is the write amplification merge-on-read avoids).
    // Targets are picked from manifest metadata alone (DV cardinality ÷
    // per-file row count, driver-side); the rewrite reads `_file`-pruned.
    // The hash gate rides the per-pk aggregate (live content unchanged) plus
    // the targeting booleans.
    "q_catalog_optimize_dv" -> { (s, d) =>
      // DV-mode seed memoized; the unequal-debt DELETEs + the targeted
      // OPTIMIZE are the timed ops.
      clonedSeed(s, d, "odvq_s", "odvq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.odvq_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()
      }
      s.sql("DELETE FROM graft.odvq WHERE pk = 0 AND o_orderkey % 2 = 0")
      s.sql("DELETE FROM graft.odvq WHERE pk = 1 AND o_orderkey % 97 = 0")
      val root = Tables.scratchDir(s, "catalog", d)
      val (filesBefore, dvsBefore, filesAfter, dvsAfter) =
        graft.sources.GraftCatalogOps.optimize(s, "graft.odvq", root, "odvq",
          minDeletedRatio = 0.2)
      s.table("graft.odvq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("targeted", lit(filesBefore == 3L && filesAfter == 3L))
        .withColumn("heavy_cleared", lit(dvsBefore == 2L && dvsAfter == 1L))
        .orderBy(col("pk"))
    },

    // B164 query witness: manifest-fed CBO statistics, audited end to end —
    // a partitioned catalog table's scan-level estimateStatistics (per-file
    // HLL sketches merged driver-side, zero data IO) is compared against the
    // EXACT distinct counts computed from the data. The hash-gated output is
    // the exact values plus audit booleans: `audit_ok` pins numRows and
    // partition-column NDV EXACT (manifest row sums / directory values) and
    // data-column NDV within the 256-register HLL guarantee band (15% > 2σ;
    // the per-dataset error is deterministic, so the boolean is hash-stable).
    "q_catalog_ndv" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "ndvq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.ndvq").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      val scan = s.table("graft.ndvq").filter(col("o_orderkey") >= 0)
        .queryExecution.optimizedPlan.collectLeaves().collectFirst {
          case sr: DataSourceV2ScanRelation => sr.scan
        }.get.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      val st = scan.estimateStatistics()
      def est(c: String): Long = {
        val k = st.columnStats().keySet().toArray.collectFirst {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
            if r.fieldNames().sameElements(Array(c)) => r
        }
        k.map(st.columnStats().get(_).distinctCount().getAsLong).getOrElse(-1L)
      }
      val ex = s.table("graft.ndvq").agg(
        count(lit(1)), countDistinct(col("o_orderkey")),
        countDistinct(col("o_custkey")), countDistinct(col("o_orderstatus")),
        countDistinct(col("pk"))).collect()(0)
      val exact = Map("_rows" -> ex.getLong(0), "o_orderkey" -> ex.getLong(1),
        "o_custkey" -> ex.getLong(2), "o_orderstatus" -> ex.getLong(3),
        "pk" -> ex.getLong(4))
      def within(c: String): Boolean =
        math.abs(est(c) - exact(c)) <= math.max(2L, (0.15 * exact(c)).toLong)
      val rows = Seq(
        ("_rows", exact("_rows"), st.numRows().getAsLong == exact("_rows")),
        ("o_custkey", exact("o_custkey"), within("o_custkey")),
        ("o_orderkey", exact("o_orderkey"), within("o_orderkey")),
        ("o_orderstatus", exact("o_orderstatus"), within("o_orderstatus")),
        ("pk", exact("pk"), est("pk") == exact("pk")))
      import s.implicits._
      rows.toDF("column", "exact", "audit_ok").orderBy(col("column"))
    },

    // B166 query witness: METADATA-ONLY aggregates — an ungrouped
    // COUNT(*) / COUNT(col) / MIN / MAX over a catalog table answers from the
    // manifest's row counts and file bounds on the driver, zero file IO (the
    // lakehouse "count from metadata" optimization; see
    // GraftScanBuilder.supportCompletePushDown for the soundness gates). The
    // `metadata_only` boolean pins the PLAN (LocalTableScan, no BatchScan) so
    // the hash gate fails if the pushdown silently stops applying; the values
    // themselves are hash-checked against DuckDB computing them from data.
    "q_catalog_agg" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "aggq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            col("o_orderstatus"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.aggq").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      val q = s.sql(
        """SELECT count(*) AS n, count(o_orderstatus) AS n_status,
          |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
          |  min(cents) AS min_cents, max(cents) AS max_cents,
          |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
          |  min(pk) AS min_pk, max(pk) AS max_pk
          |FROM graft.aggq""".stripMargin)
      val planStr = q.queryExecution.executedPlan.toString
      q.withColumn("metadata_only",
        lit(planStr.contains("LocalTableScan") && !planStr.contains("BatchScan")))
    },

    // B202 query witness: metadata-only SUM/AVG — per-file exact integral
    // sums (the 5th stats field) answer ungrouped and partition-grouped SUM
    // from the manifest, and Spark's sum/count decomposition makes AVG ride
    // the same path; `metadata_only` pins the LocalTableScan plan inside the
    // hash gate. At 100 TB this turns a revenue-total scan into a map lookup.
    // Round-8 extension: the table is merge-on-read (`dml=dv`) and a DV
    // delete lands mid-query — the metadata path now SUBTRACTS the per-file
    // deleted-row aggregates recorded at delete time (GraftDVAggs), so the
    // post-delete totals stay LocalTableScan too (`metadata_only` pins all
    // four plans, before AND after the delete).
    "q_catalog_sum" -> { (s, d) =>
      // Seed memoized (clone inherits dml=dv + dvaggs + per-file stats, so
      // metadata aggregates work from the first query); the timed ops are
      // the metadata-only aggregates and the DV DELETE between them.
      clonedSeed(s, d, "sumq_s", "sumq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.sumq_s").partitionedBy(col("pk"))
          // `dvaggs=true` opts this table into recording deleted-row aggregates
          // AT DELETE TIME (an extra job per DML commit) — the price of the
          // post-delete aggregates below staying metadata-only. Default is off:
          // tables that never serve metadata aggs shouldn't pay a per-commit tax.
          .tableProperty("dml", "dv").tableProperty("dvaggs", "true")
          .tableProperty("fixture", marker).create()
      }
      val q0 = s.sql(
        "SELECT sum(cents) AS total_cents, sum(o_orderkey) AS total_keys, " +
          "sum(pk) AS total_pk, count(*) AS n FROM graft.sumq")
      val plan0 = q0.queryExecution.executedPlan.toString
      val totals = q0.collect()(0)
      s.sql("DELETE FROM graft.sumq WHERE o_orderkey % 7 = 3")
      val q2 = s.sql(
        "SELECT sum(cents) AS total_cents, count(*) AS n FROM graft.sumq")
      val plan2 = q2.queryExecution.executedPlan.toString
      val after = q2.collect()(0)
      val q1 = s.sql(
        """SELECT pk, sum(cents) AS cents, count(*) AS n,
          |  CAST(floor(avg(cents)) AS BIGINT) AS avg_cents_floor
          |FROM graft.sumq GROUP BY pk""".stripMargin)
      val plan1 = q1.queryExecution.executedPlan.toString
      def metaOnly(p: String) = p.contains("LocalTableScan") && !p.contains("BatchScan")
      q1.withColumn("total_cents_before", lit(totals.getLong(0)))
        .withColumn("n_before", lit(totals.getLong(3)))
        .withColumn("total_cents_after", lit(after.getLong(0)))
        .withColumn("metadata_only",
          lit(metaOnly(plan0) && metaOnly(plan1) && metaOnly(plan2)))
        .orderBy(col("pk"))
    },

    // B167 query witness: per-partition metadata profile — GROUP BY over the
    // PARTITION column pushes completely (group keys = manifest directory
    // values, per-group COUNT/MIN/MAX from the same file stats), so the whole
    // partition profile (a SHOW PARTITIONS that also answers "how big / what
    // key range") is one driver-side LocalTableScan: zero tasks, zero file
    // IO, at any table size. Plan pinned inside the hash gate like B166.
    "q_catalog_partitions" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "partq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(4)).cast("long").as("pk"))
          .writeTo("graft.partq").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      val q = s.sql(
        """SELECT pk, count(*) AS n_rows, min(o_orderkey) AS min_key,
          |  max(o_orderkey) AS max_key, min(cents) AS min_cents,
          |  max(cents) AS max_cents
          |FROM graft.partq GROUP BY pk""".stripMargin)
      val planStr = q.queryExecution.executedPlan.toString
      q.withColumn("metadata_only",
        lit(planStr.contains("LocalTableScan") && !planStr.contains("BatchScan")))
        .orderBy(col("pk"))
    },

    // B168 query witness: STORAGE-PARTITIONED JOIN — two catalog tables
    // partitioned the same way join with ZERO shuffle (each scan reports its
    // physical layout as a KeyGroupedPartitioning; Spark matches the two and
    // drops both exchanges — at 100 TB this deletes the dominant cost of
    // every co-partitioned fact join). The `spj` boolean pins the PLAN (no
    // hash-partition exchange under the join) inside the hash gate, planned
    // under V2 bucketing with broadcast off; the join values themselves are
    // hash-checked against DuckDB joining the raw parquet.
    "q_catalog_spj" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "spjf", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(16)).cast("long").as("pk"))
          .writeTo("graft.spjf").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      fixture(s, d, "spjd", 1L, "v1", Seq("lineitem")) { marker =>
        Tables.lineitem(s, d)
          .groupBy(pmod(col("l_orderkey"), lit(16)).cast("long").as("pk"))
          .agg(count(lit(1)).as("items"),
            expr("CAST(sum(l_quantity) AS BIGINT)").as("qty"))
          .writeTo("graft.spjd").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      // Plan the join under SPJ conditions, capture the structural boolean,
      // then restore — the RETURNED frame re-plans under ambient conf, so the
      // values never depend on the flipped settings.
      val flips = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val saved = flips.map { case (k, _) => k -> s.conf.getOption(k) }
      val spj =
        try {
          flips.foreach { case (k, v) => s.conf.set(k, v) }
          val plan = s.table("graft.spjf").join(s.table("graft.spjd"), "pk")
            .queryExecution.executedPlan.toString
          !plan.contains("Exchange hashpartitioning")
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      s.table("graft.spjf").join(s.table("graft.spjd"), "pk")
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          first(col("items")).as("items"), first(col("qty")).as("qty"))
        .withColumn("spj", lit(spj))
        .orderBy(col("pk"))
    },

    // B212 query witness: RUNTIME PARTITION PRUNING (dynamic partition
    // pruning lifted to DataSource V2): the catalog scan advertises its
    // partition columns via SupportsRuntimeFiltering.filterAttributes, so a
    // selective broadcast-dim join pushes the dim's pk VALUES back into the
    // fact scan AT RUNTIME — whole manifest partitions drop before any file
    // IO (at 100 TB: a date-dim filter prunes years of a fact table the
    // static optimizer could not, because the surviving keys only exist in
    // the dim's data). `dpp` pins the dynamicpruning expression in the plan
    // inside the hash gate; CatalogSpec additionally pins that the runtime
    // filter REACHED the scan and shrank its kept-entry list to exactly the
    // probed partitions.
    "q_catalog_dpp" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "dppf", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(8)).cast("long").as("pk"))
          .writeTo("graft.dppf").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      // The dim carries a LIKELY-SELECTIVE `In` filter that SURVIVES
      // optimization (a filtered literal relation constant-folds away before
      // the PartitionPruning rule sees it — a real dim table is exactly the
      // production shape anyway: the dim's WHERE clause is what prunes the
      // fact). Pin on the OPTIMIZED plan: the logical DynamicPruningSubquery
      // is AQE-agnostic, while the physical string under AQE can defer
      // materialization.
      val dim = Tables.nation(s, d)
        .filter(col("n_nationkey").isin(2, 5))
        .select(col("n_nationkey").cast("long").as("pk"), col("n_name").as("tag"))
      val joined = s.table("graft.dppf").join(broadcast(dim), "pk")
      val planStr = joined.queryExecution.optimizedPlan.toString
      joined.groupBy(col("pk"), col("tag"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("dpp", lit(planStr.contains("dynamicpruning")))
        .orderBy(col("pk"))
    },

    // B169 query witness: CHANGE DATA FEED — row-level changes across a
    // create → append → DV-delete → delta-update history, recovered from
    // manifest diffs + deletion-vector deltas + `_file`-pruned snapshot reads
    // (no change files written at commit time; see GraftCatalogOps.changes).
    // The oracle replays the same history relationally: appends surface as
    // inserts, DV deletes as deletes, updates as their delete+insert pairs —
    // per-commit counts and value sums hash-verified.
    // B211 query witness: multi-column per-file blooms — two files whose key
    // SETS are disjoint (even/odd) but whose lexical RANGES fully overlap on
    // BOTH bloom columns, so min/max can never prune an equality probe;
    // `skip_s`/`skip_u` pin that a point probe on EITHER column excludes the
    // other file via its own named bloom. Aggregate is plain orders.
    "q_catalog_bloom_multi" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      // Fixed key range at every SF: a 2048-bit bloom saturates past a few
      // hundred distinct values per file — the fixture must stay inside the
      // filter's working cardinality, which is the honest modeling of "one
      // bloom per FILE of bounded size" (real tables bound file size, so
      // per-file cardinality is bounded too).
      val base = Tables.orders(s, d).filter(col("o_orderkey") <= 600)
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          concat(lit("v"), col("o_orderkey")).as("sk"),
          concat(lit("w"), col("o_orderkey")).as("uk"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      fixture(s, d, "bmq", 2L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0).coalesce(1)
          .writeTo("graft.bmq").tableProperty("bloom", "sk,uk")
          .tableProperty("fixture", marker).create()
        base.filter(col("o_orderkey") % 2 === 1).coalesce(1)
          .writeTo("graft.bmq").append()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      val dir = new org.apache.hadoop.fs.Path(root, "bmq")
      val hconf = s.sessionState.newHadoopConf()
      import graft.sources.{GraftCatalogOps, GraftManifest}
      import org.apache.spark.sql.sources.EqualTo
      val m = GraftManifest.load(dir, GraftManifest.currentGen(dir, hconf), hconf)
      val evenRel = m.entries.map(_._2).find(_.startsWith("gen-1-")).get
      // A handful of odd keys is a metadata-scale driver probe list.
      val oddKeys = s.table("graft.bmq").filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(50)
        .collect().map(_.getLong(0))
      def prunes(c: String, prefix: String) = oddKeys.exists(k =>
        !GraftCatalogOps.mayTouch(m, Array(EqualTo(c, s"$prefix$k")))
          .exists(_._2 == evenRel))
      s.table("graft.bmq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("skip_s", lit(prunes("sk", "v")))
        .withColumn("skip_u", lit(prunes("uk", "w")))
        .orderBy(col("pk"))
    },

    // B208 query witness: OPTIMIZE ... WHERE — three fragmenting appends per
    // partition, then a compaction scoped to pk = 1: the out-of-scope
    // partitions' files ride forward byte-identical (`scoped_ok`), the
    // in-scope partition collapses to one fresh file, and the content is
    // untouched (plain orders, hash-verified).
    "q_catalog_optimize_where" -> { (s, d) =>
      // The per-partition fragmentation IS the fixture; the partition-scoped
      // OPTIMIZE is the timed op.
      clonedSeed(s, d, "optwq_s", "optwq", 3L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
        // Fragment every partition: the split axis is independent of pk, so
        // each append drops one file into EACH partition.
        val band = pmod(hash(col("o_orderkey")), lit(3))
        base.filter(band === 0)
          .writeTo("graft.optwq_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
        base.filter(band === 1).writeTo("graft.optwq_s").append()
        base.filter(band === 2).writeTo("graft.optwq_s").append()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      val dir = new org.apache.hadoop.fs.Path(root, "optwq")
      val hconf = s.sessionState.newHadoopConf()
      import graft.sources.GraftManifest
      def files(m: GraftManifest, pk: Long) =
        m.entries.filter(_._1 == s"pk=$pk").map(_._2).toSet
      val before = GraftManifest.load(dir, GraftManifest.currentGen(dir, hconf), hconf)
      s.sql("CALL graft.system.optimize(table => 'optwq', where => 'pk = 1')")
      val after = GraftManifest.load(dir, GraftManifest.currentGen(dir, hconf), hconf)
      val scopedOk = files(after, 0L) == files(before, 0L) &&
        files(after, 2L) == files(before, 2L) &&
        files(after, 1L).size < files(before, 1L).size &&
        files(after, 1L).intersect(files(before, 1L)).isEmpty
      s.table("graft.optwq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("scoped_ok", lit(scopedOk))
        .orderBy(col("pk"))
    },

    // B200 query witness: COPY INTO — stage orders as raw landing files,
    // load them exactly-once across three calls: first call ingests both
    // staged files, a blind re-run loads zero (`rerun_ok`), a later third
    // file loads alone (`delta_ok`); the final aggregate is plain orders.
    "q_catalog_copyinto" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.cpq")
      s.sql("CREATE TABLE graft.cpq (o_orderkey BIGINT, cents BIGINT, pk BIGINT)")
      val hconf = s.sessionState.newHadoopConf()
      // Landing files STAGE once per dataset (deterministic projections of
      // orders — the fixture doctrine applied to raw landing bytes, via the
      // shared marker protocol in [[Tables.memoDir]]); each invocation
      // rebuilds the landing dir by cheap fs copies so the exactly-once
      // ledger sequencing (a+b, rerun, then c) is reproduced without
      // re-running three write jobs. copy_into is the timed op.
      val stageDir = Tables.memoDir(s, "cp_stage", d, "v1", Seq("orders"),
          Seq("a.parquet", "b.parquet", "c.parquet")) { memo =>
        val fs0 = memo.getFileSystem(hconf)
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
        def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          val tmp = new org.apache.hadoop.fs.Path(memo, s"stage_$name")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = fs0.globStatus(
            new org.apache.hadoop.fs.Path(tmp, "part-*.parquet"))(0).getPath
          fs0.rename(part, new org.apache.hadoop.fs.Path(memo, s"$name.parquet"))
          fs0.delete(tmp, true)
        }
        stage("a", base.filter(col("o_orderkey") % 3 === 0))
        stage("b", base.filter(col("o_orderkey") % 3 === 1))
        stage("c", base.filter(col("o_orderkey") % 3 === 2))
      }
      val fs = stageDir.getFileSystem(hconf)
      val land = Tables.scratchDir(s, "cp_land", d)
      val landPath = new org.apache.hadoop.fs.Path(land)
      fs.delete(landPath, true)
      fs.mkdirs(landPath)
      def place(name: String): Unit =
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(stageDir, s"$name.parquet"), fs,
          new org.apache.hadoop.fs.Path(landPath, s"$name.parquet"),
          false, hconf)
      place("a"); place("b")
      def copy() = s.sql(
        s"CALL graft.system.copy_into(table => 'cpq', path => '$land')")
        .collect()(0)
      val r1 = copy()
      val r2 = copy()
      val rerunOk = r1.getLong(0) == 2L && r2.getLong(0) == 0L && r2.getLong(1) == 2L
      place("c")
      val r3 = copy()
      val deltaOk = r3.getLong(0) == 1L && r3.getLong(1) == 2L
      s.table("graft.cpq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("rerun_ok", lit(rerunOk))
        .withColumn("delta_ok", lit(deltaOk))
        .orderBy(col("pk"))
    },

    // B199 query witness: column DEFAULTs on the catalog — ALTER ADD COLUMN
    // with DEFAULT is one metadata commit (`no_rewrite` pins entry identity),
    // yet every pre-ALTER row answers the folded constant instead of NULL
    // (existence default, filled per file by the parquet reader); a
    // post-ALTER append carries explicit values that survive, and the
    // default participates in filters and aggregates exactly.
    "q_catalog_default" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // Pre-ALTER seed memoized; the DEFAULT-bearing ALTER and the explicit
      // post-ALTER append are the timed ops.
      clonedSeed(s, d, "defq_s", "defq", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0).writeTo("graft.defq_s")
          .tableProperty("fixture", marker).create()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      val dir = new org.apache.hadoop.fs.Path(root, "defq")
      val hconf = s.sessionState.newHadoopConf()
      import graft.sources.GraftManifest
      val before = GraftManifest.load(dir, GraftManifest.currentGen(dir, hconf), hconf)
      s.sql("ALTER TABLE graft.defq ADD COLUMN bonus BIGINT DEFAULT 7")
      val after = GraftManifest.load(dir, GraftManifest.currentGen(dir, hconf), hconf)
      val noRewrite = before.entries.toSet == after.entries.toSet
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("bonus", pmod(col("o_orderkey"), lit(100)))
        .writeTo("graft.defq").append()
      s.table("graft.defq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"),
          count(when(col("bonus") === 7L, 1)).as("n_default"),
          sum(col("cents")).as("cents"), sum(col("bonus")).as("bonus"))
        .withColumn("no_rewrite", lit(noRewrite))
        .orderBy(col("pk"))
    },

    // B198 query witness: incremental materialized view — seed an aggregate
    // view of a dv-mode table, run the full DML mix (append, DV delete,
    // delta update) on the SOURCE, then ONE refresh folds the change feed:
    // the view must equal the full recompute while having read only the
    // delta. The refresh range and the no-op idempotence pin ride the gate.
    "q_catalog_mview" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // Source seed + seeded view build ONCE per dataset (one fixture guards
      // both — they only ever build together); each invocation forks both by
      // clone, the view's `mview.source` re-pointed at the cloned source and
      // its fold floor reset to the clone's gen 0 (the props-override clone
      // surface). The timed ops are the DML mix + the delta-folding refresh.
      // The view seed is only as fresh as its SOURCE seed: probe mvq_s
      // first, and void mvqv_s when the source is lost/damaged — otherwise
      // a surviving view marker would skip the rebuild and the clone of the
      // missing source would fail on every invocation.
      val mvqSrcOk =
        try {
          val sdir = new org.apache.hadoop.fs.Path(
            Tables.scratchDir(s, "catalog", d), "mvq_s")
          graft.sources.GraftManifest.currentGen(
            sdir, s.sessionState.newHadoopConf()) == 1L
        } catch { case _: Exception => false }
      if (!mvqSrcOk) s.sql("DROP TABLE IF EXISTS graft.mvqv_s")
      // v2: the view schema gained mv_nncount (exact AVG serving).
      fixture(s, d, "mvqv_s", 2L, "v2", Seq("orders")) { marker =>
        s.sql("DROP TABLE IF EXISTS graft.mvq_s")
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.mvq_s").tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()                   // gen 1
        s.sql("CALL graft.system.create_mview(source => 'mvq_s', " +
          "name => 'mvqv_s', keys => 'pk', sum_col => 'cents')")
        s.sql(s"ALTER TABLE graft.mvqv_s SET TBLPROPERTIES('fixture'='$marker')")
      }
      s.sql("DROP TABLE IF EXISTS graft.mvq")
      s.sql("DROP TABLE IF EXISTS graft.mvqv")
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mvq_s", "mvq")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mvqv_s", "mvqv",
        Map("mview.source" -> "mvq", "mview.gen" -> "0"))
      base.filter(col("o_orderkey") % 2 === 1).writeTo("graft.mvq").append() // 1
      s.sql("DELETE FROM graft.mvq WHERE o_orderkey % 7 = 0")          // gen 2
      s.sql("UPDATE graft.mvq SET cents = cents + 5 WHERE o_orderkey % 11 = 0") // 3
      val r1 = s.sql("CALL graft.system.refresh_mview(name => 'mvqv')").collect()(0)
      val foldedDelta = r1.getLong(0) == 0L && r1.getLong(1) == 3L
      val r2 = s.sql("CALL graft.system.refresh_mview(name => 'mvqv')").collect()(0)
      val noop = r2.getLong(0) == 3L && r2.getLong(1) == 3L
      // Explicit projection: a view seeded AFTER the schema gained
      // mv_min/mv_max carries two more columns than the memoized v2 seed —
      // both vintages must hash identically.
      s.table("graft.mvqv")
        .select(col("pk"), col("mv_count"), col("mv_sum"), col("mv_nncount"))
        .withColumn("folded_delta", lit(foldedDelta))
        .withColumn("noop_ok", lit(noop))
        .orderBy(col("pk"))
    },

    "q_catalog_cdf" -> { (s, d) =>
      cdfFixture(s, d)
      graft.sources.GraftCatalogOps.changes(s, "graft.cdfq",
          Tables.scratchDir(s, "catalog", d), "cdfq", 1L, 4L)
        .groupBy(col("_commit_version").as("gen"), col("_change_type").as("change"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("gen"), col("change"))
    },

    // B230 query witness: CDC APPLY — the consumer half of the change feed
    // (Delta's APPLY CHANGES / Debezium-sink posture): a replica table is
    // bootstrapped from the initial snapshot, then one MERGE per later source commit. Each
    // commit's batch collapses to net row effects (an UPDATE's delete+insert
    // pair on one key becomes an upsert; delete-only keys delete), so the
    // replica replays the history without ever scanning the source. At
    // 100 TB this is how downstream marts follow a fact table: feed volume is
    // proportional to CHANGED rows, never table size. `in_sync` pins full
    // bidirectional equality with the source snapshot inside the hash gate.
    "q_catalog_cdc_apply" -> { (s, d) =>
      cdfFixture(s, d)
      // BOOTSTRAP from the initial snapshot (the Debezium/APPLY CHANGES
      // posture: one snapshot load, then per-commit deltas) — the replica is
      // born as the source's gen-1 state. The bootstrap itself is one-time
      // state (a replica exists before every APPLY after the first), so it
      // memoizes like any fixture and each invocation forks it by clone;
      // the APPLY — change-feed read, per-key netting, ONE MERGE — is the
      // timed op. Merge-on-read DML: each applied commit lands as deletion
      // vectors + new rows, never a file rewrite of the replica.
      // Ver couples to cdfFixture's "v1": bump BOTH if the source history
      // changes shape (same orders fingerprint guards data regeneration).
      clonedSeed(s, d, "cdcr_s", "cdcr", 1L, "v1+cdfq.v1", Seq("orders")) { marker =>
        s.sql("SELECT o_orderkey, cents, pk FROM graft.cdfq VERSION AS OF 1")
          .writeTo("graft.cdcr_s").tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()
      }
      val feed = graft.sources.GraftCatalogOps.changes(s, "graft.cdfq",
          Tables.scratchDir(s, "catalog", d), "cdfq", 1L, 4L)
      // ALL pending commits net-effected into ONE MERGE (the Databricks
      // APPLY CHANGES `sequence_by` posture): per key, the LATEST commit
      // wins, and within that commit an UPDATE's insert half is the final
      // state (a commit's feed emits delete(old)+insert(new) for updates —
      // it never deletes a row it inserted). Sound because MERGE itself is
      // net-effect-per-key and nets compose: a key inserted then deleted
      // nets to 'd' (a no-op when the replica never saw it — no NOT MATCHED
      // delete clause), deleted then re-inserted nets to 'u'. One MERGE
      // commit (group-filter scan + replica read + write) instead of three —
      // the per-commit fixed cost, not the delta volume, dominated here.
      // The window shuffles only the delta-sized feed, never the table.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey"))
        .orderBy(col("_commit_version").desc, col("_is_ins").desc)
      val net = feed
        .withColumn("_is_ins", (col("_change_type") === "insert").cast("int"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("o_orderkey"),
          when(col("_is_ins") === 1, col("cents")).as("cents"),
          when(col("_is_ins") === 1, col("pk")).as("pk"),
          when(col("_is_ins") === 1, lit("u")).otherwise(lit("d")).as("_op"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      net.createOrReplaceTempView("cdc_net")
      s.sql(
        """MERGE INTO graft.cdcr t USING cdc_net s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s._op = 'd' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET cents = s.cents, pk = s.pk
          |WHEN NOT MATCHED AND s._op = 'u' THEN INSERT (o_orderkey, cents, pk)
          |  VALUES (s.o_orderkey, s.cents, s.pk)""".stripMargin)
      net.unpersist()
      val replica = s.table("graft.cdcr").select("o_orderkey", "cents", "pk")
      val source = s.table("graft.cdfq").select("o_orderkey", "cents", "pk")
      // Bidirectional equality: both sides union into ONE aggregation that
      // counts each full row per side — in sync ⇔ no row tuple is single-
      // sided (o_orderkey is unique on both sides, so per-tuple side counts
      // are 0/1 and count_r ≠ count_s ⇔ the old full-outer join's dangling
      // row). r16: the full-outer SortMergeJoin shuffled AND sorted both
      // sides (2 Exchanges + 2 Sorts + join); the union aggregate is one
      // partial-aggregated Exchange over the same rows (guide §2.4/§3 —
      // don't join when an aggregate answers the question), and the
      // isEmpty probe early-exits on the first mismatching partition.
      val inSync = replica.withColumn("_side", lit(1))
        .unionByName(source.withColumn("_side", lit(2)))
        .groupBy(col("o_orderkey"), col("cents"), col("pk"))
        .agg(count(when(col("_side") === 1, 1)).as("_r"),
          count(when(col("_side") === 2, 1)).as("_s"))
        .filter(col("_r") =!= col("_s"))
        .isEmpty
      replica.groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("in_sync", lit(inSync))
        .orderBy(col("pk"))
    },

    // B229 query witness: DROP COLUMN via column mapping (the other half of
    // B190's rename): one metadata commit, zero rewrites — the column leaves
    // the logical schema while its bytes stay in every file; a re-ADD of the
    // SAME name maps to a FRESH physical column through the drop tombstone,
    // so old files answer NULL instead of resurrecting dropped data (the
    // column-mapping guarantee). `no_resurrection` pins it inside the hash
    // gate: pre-drop rows must count ZERO non-null values under the re-added
    // column while post-add appends carry real ones.
    // B234: AUTOMATIC MATERIALIZED-VIEW QUERY REWRITE (Oracle QUERY REWRITE /
    // Snowflake mview rewrite): the query below is the NATURAL aggregate
    // over the base table — the user never names the view — and the
    // optimizer answers it from the B198 incremental mview because the
    // view's fold floor equals the exact generation the scan reads
    // (provably fresh ⇒ provably identical). `rewritten` (the optimized
    // plan scans the view, not the base) rides the hash gate next to the
    // values, and the oracle replays the aggregate over the BASE data — a
    // rewrite serving stale or wrong numbers, or silently not firing, both
    // break the hash.
    "q_mview_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      val df = s.table("graft.mvrq")
        .groupBy(col("pk"), col("b"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"), col("b"))
    },

    // B234 ROLLUP rewrite: the user groups by pk ALONE, the only registered
    // view is keyed (pk, b) — the optimizer answers by RE-AGGREGATING the
    // view (count = SUM(mv_count), sum = SUM(mv_sum), avg = the two exact
    // longs divided), provably exact because the view partitions the base
    // rows. Shares q_mview_rewrite's fixtures; the `rewritten` boolean pins
    // that the optimized plan scans the VIEW and never the base table, and
    // the oracle replays the base-table aggregate the plan no longer runs.
    // B5∘B234 GROUPING-SETS rewrite: the dashboard CUBE — the most
    // scan-hungry reporting shape (every base row replayed once PER grouping
    // set) — served from the (pk,b) view by substituting the view UNDER the
    // optimizer's own Expand: key positions re-point to view key columns
    // (structural NULLs and the literal grouping_id ride verbatim, so
    // natural-vs-structural NULL disambiguation is untouched), agg inputs
    // become mv_* partials, and each expanded group re-aggregates exactly
    // one partial row per view group per set. grouping_id() pins which set
    // each row came from; `rewritten` pins the view-scan plan; the oracle
    // replays the CUBE in DuckDB.
    "q_mview_cube_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      val df = s.sql(
        "SELECT pk, b, grouping_id() AS gid, count(*) AS n, " +
          "sum(cents) AS cents FROM graft.mvrq GROUP BY CUBE(pk, b)")
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten))
        .orderBy(col("gid"), col("pk"), col("b"))
    },

    "q_mview_rollup" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      val df = s.table("graft.mvrq")
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B234 FILTERED rollup: the user filters on a VIEW KEY (`b IN (1,3)`)
    // and groups by the other — a key-only predicate is constant within each
    // view group, so it selects WHOLE groups and replays on the view before
    // the rollup re-aggregation. The optimizer serves the whole thing from
    // the (pk,b) view: filter view rows, sum the partials. Shares
    // q_mview_rewrite's fixtures; `rewritten` pins the view-only plan and
    // the oracle replays the filtered base aggregate.
    "q_mview_filter_rollup" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      val df = s.table("graft.mvrq")
        .filter(col("b").isin(1L, 3L))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B234 JOIN-AGGREGATE rewrite: `fact ⋈ dim GROUP BY dim.grp` — the
    // dominant reporting shape once a star schema normalizes — answered by
    // EAGER AGGREGATION (Yan–Larson): the (pk,b) view substitutes for the
    // fact side, the FILTERED dimension rides verbatim, and the partials
    // re-aggregate above the (now view-sized) join. Unconditionally exact
    // for count/sum/avg — no uniqueness or RELY declaration needed (a dup
    // or filtered dim key multiplies/drops both paths identically). The
    // `rewritten` boolean pins the view-for-fact substitution in the plan;
    // the oracle replays the base join-aggregate the plan no longer runs.
    "q_mview_join_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      mvrqDimFixture(s, d)
      val df = s.table("graft.mvrq")
        .join(s.table("graft.mvrq_dim").filter(col("bpk") =!= 4L),
          col("b") === col("bpk"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") &&
        named.contains("mvrq_dim") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("grp"))
    },

    // B170 ∘ B198 ∘ B234 CONTINUOUS materialized view, END TO END: the
    // source's `$changes` STREAM (checkpointed, Trigger.AvailableNow — the
    // catch-up shape) drives the incremental fold with zero manual refresh
    // calls, and the natural GROUP BY is then served FROM the
    // continuously-maintained view by the rewrite. Exactly-once falls out
    // of the fold re-reading from the view's own ledger floor: a SECOND
    // drain over a FRESH checkpoint replays every batch and must publish
    // NOTHING (`no_republish` pins the view generation unchanged through
    // it). The DML mix (append + DV delete) rides the stream because the
    // source declares dml=dv. The oracle replays the DML relationally.
    "q_mview_continuous" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      val root = Tables.scratchDir(s, "catalog", d)
      // Own dv-enabled seed pair (the shared mvqv_s seed deliberately stays
      // a pre-foldmode vintage for compat coverage — it would refuse the
      // ANSI sum/avg rewrite this query pins).
      val cmqSrcOk =
        try {
          val sdir = new org.apache.hadoop.fs.Path(
            Tables.scratchDir(s, "catalog", d), "cmq_s")
          graft.sources.GraftManifest.currentGen(
            sdir, s.sessionState.newHadoopConf()) == 1L
        } catch { case _: Exception => false }
      if (!cmqSrcOk) s.sql("DROP TABLE IF EXISTS graft.cmqv_s")
      fixture(s, d, "cmqv_s", 2L, "v1", Seq("orders")) { marker =>
        s.sql("DROP TABLE IF EXISTS graft.cmq_s")
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.cmq_s").tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()                  // gen 1
        s.sql("CALL graft.system.create_mview(source => 'cmq_s', " +
          "name => 'cmqv_s', keys => 'pk', sum_col => 'cents')")
        s.sql(s"ALTER TABLE graft.cmqv_s SET TBLPROPERTIES('fixture'='$marker')")
      }
      s.sql("DROP TABLE IF EXISTS graft.cmq")
      s.sql("DROP TABLE IF EXISTS graft.cmqv")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "cmq_s", "cmq")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "cmqv_s", "cmqv",
        Map("mview.source" -> "cmq", "mview.gen" -> "0"))
      base.filter(col("o_orderkey") % 2 === 1).writeTo("graft.cmq").append() // 1
      s.sql("DELETE FROM graft.cmq WHERE o_orderkey % 7 = 0")         // gen 2
      val scratch = Tables.scratchDir(s, "cmmq", d)
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      def drain(ckpt: String): Unit = {
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        val q = graft.sources.GraftCatalogOps.continuousMviewMaintenance(
          s, "graft", root, "cmqv", ckpt,
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        val done = q.awaitTermination(240000)
        q.stop()
        require(done, "continuous-mview drain: AvailableNow did not finish in 240s")
      }
      drain(s"$scratch/ckpt1")
      val dirV = new org.apache.hadoop.fs.Path(root, "cmqv")
      val hconf = s.sessionState.newHadoopConf()
      val genAfterFold = graft.sources.GraftManifest.currentGen(dirV, hconf)
      // Replay: a fresh checkpoint re-reads the WHOLE feed; every batch
      // folds an empty range and publishes nothing.
      drain(s"$scratch/ckpt2")
      val noRepublish =
        graft.sources.GraftManifest.currentGen(dirV, hconf) == genAfterFold
      val df = s.table("graft.cmq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("cmqv") && !named.contains("cmq")
      df.withColumn("rewritten", lit(rewritten))
        .withColumn("no_republish", lit(noRepublish))
        .orderBy(col("pk"))
    },

    // B234 MULTI-DIMENSION join rewrite: `fact ⋈ d1 ⋈ d2 GROUP BY d1.grp,
    // d2.plabel` — the normalized star shape once item attributes split
    // into their own dimensions. The (pk,b) view substitutes ONCE for the
    // fact leaf of the inner-join TREE (both fact join keys are view keys),
    // BOTH dimension subtrees ride verbatim (d1 keeps its own filter), and
    // the partials re-aggregate above the whole tree — the same per-group
    // eager-aggregation proof as one dim, because a view group's rows all
    // join the same multiset of dim-attribute tuples through the entire dim
    // structure. `rewritten` pins the view-for-fact substitution with both
    // dims still in the plan; the oracle replays the 3-table aggregate.
    "q_mview_join2_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      mvrqDimFixture(s, d)
      mvrqDim2Fixture(s, d)
      val df = s.table("graft.mvrq")
        .join(s.table("graft.mvrq_dim").filter(col("bpk") =!= 4L),
          col("b") === col("bpk"))
        .join(s.table("graft.mvrq_dim2"), col("pk") === col("ppk"))
        .groupBy(col("grp"), col("plabel"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") &&
        named.contains("mvrq_dim") && named.contains("mvrq_dim2") &&
        !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten))
        .orderBy(col("grp"), col("plabel"))
    },

    // B189 ∘ B234 GENERATED-KEY rewrite: the user groups by the raw
    // EXPRESSION (`ok % 6`) — never naming the generated column — and the
    // optimizer recognizes it as the source's declared generation rule
    // (canonical match after the same coercion/folding the query got),
    // serving the aggregate from the view keyed on the generated column.
    // The write invariant (okb <=> ok % 6, enforced per row on every commit)
    // is exactly what makes the substitution sound. `rewritten` pins the
    // view-only plan; the oracle replays the expression aggregate raw.
    "q_mview_genkey_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvgkFixtures(s, d)
      val df = s.table("graft.mvgk")
        .groupBy(expr("ok % 6").as("k"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvgk_mv") && !named.contains("mvgk")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("k"))
    },

    // B198+B234 MIN/MAX materialized view with DELETE-AWARE maintenance:
    // the clone-forked source takes an append, a row DELETE (which may
    // strip group extremes — the fold recomputes exactly the affected
    // groups from the semi-join-pruned base) and an UPDATE that mints new
    // global minima (exercising the insert-side least/greatest fast path);
    // one refresh folds it all, and the natural min/max/count GROUP BY is
    // then answered FROM the view (`rewritten` pins the plan). The oracle
    // replays the DML relationally over the base data.
    // B189∘B5∘B234 — GROUPING SETS over a GENERATED-KEY EXPRESSION: the
    // monthly-cube dashboard shape, `GROUP BY ROLLUP(ok % 6)` over a source
    // declaring `generate.okb = ok % 6`. The optimizer pulls the expression
    // into a _groupingexpression Project below its Expand; the rewrite
    // peels it, resolves the key position through the declaration, and
    // serves both grouping sets from the view keyed on the declared column.
    // grouping_id() disambiguates the grand-total row; `rewritten` pins the
    // view-scan plan; DuckDB replays the rollup.
    "q_mview_gsets_genkey" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvgkFixtures(s, d)
      val df = s.sql(
        "SELECT ok % 6 AS k, grouping_id() AS gid, count(*) AS n, " +
          "sum(cents) AS cents FROM graft.mvgk GROUP BY ROLLUP(ok % 6)")
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvgk_mv") && !named.contains("mvgk")
      df.withColumn("rewritten", lit(rewritten))
        .orderBy(col("gid"), col("k"))
    },

    // B198+B234 SKETCHED DISTINCT from the materialized view: the view
    // maintains a DataSketches HLL union column (mv_hll — insert folds
    // union, non-NULL deletes recompute exactly the affected groups' sketches
    // from the semi-join-pruned base), and the rewrite serves the Spark 3.5
    // sketchable-distinct shape hll_sketch_estimate(hll_sketch_agg(v)) as a
    // ROLLUP union over the view's finer (pk,b) groups. Hash contract (the
    // B55/B96 exactness audit): the value domain (v = ok % 97, ≤ 97 distinct
    // per group at EVERY SF) stays under the lgK=12 coupon promotion point
    // (384), so the estimate IS the exact distinct count — the oracle pins
    // it with COUNT(DISTINCT v), and `rewritten` pins the view-scan plan.
    // Exact COUNT(DISTINCT) itself never rewrites (MviewRewriteSpec).
    "q_mview_distinct" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(5)).cast("long").as("pk"),
        pmod(col("o_orderkey"), lit(2)).cast("long").as("b"),
        pmod(col("o_orderkey"), lit(97)).cast("long").as("v"))
      val hdSrcOk =
        try {
          val sdir = new org.apache.hadoop.fs.Path(
            Tables.scratchDir(s, "catalog", d), "mvhd_s")
          graft.sources.GraftManifest.currentGen(
            sdir, s.sessionState.newHadoopConf()) == 1L
        } catch { case _: Exception => false }
      if (!hdSrcOk) s.sql("DROP TABLE IF EXISTS graft.mvhdv_s")
      fixture(s, d, "mvhdv_s", 2L, "v1", Seq("orders")) { marker =>
        s.sql("DROP TABLE IF EXISTS graft.mvhd_s")
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.mvhd_s").tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()                  // gen 1
        s.sql("CALL graft.system.create_mview(source => 'mvhd_s', " +
          "name => 'mvhdv_s', keys => 'pk,b', sum_col => 'v')")
        s.sql(s"ALTER TABLE graft.mvhdv_s SET TBLPROPERTIES('fixture'='$marker')")
      }
      s.sql("DROP TABLE IF EXISTS graft.mvhd")
      s.sql("DROP TABLE IF EXISTS graft.mvhdv")
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mvhd_s", "mvhd")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mvhdv_s", "mvhdv",
        Map("mview.source" -> "mvhd", "mview.gen" -> "0"))
      base.filter(col("o_orderkey") % 2 === 1).writeTo("graft.mvhd").append() // 1
      s.sql("DELETE FROM graft.mvhd WHERE o_orderkey % 11 = 0")       // gen 2
      val r = s.sql("CALL graft.system.refresh_mview(name => 'mvhdv')").collect()(0)
      val folded = r.getLong(0) == 0L && r.getLong(1) == 2L
      val df = s.table("graft.mvhd")
        .groupBy(col("pk"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(v))").as("nd"),
          count(lit(1)).as("n"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = folded && named.contains("mvhdv") && !named.contains("mvhd")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B233+B234 POLICIED-BASE rewrite (governed dashboards): the source
    // declares a row policy (pk <> 0), the view is stamped with the seed
    // session's effective regime (`mview.policy`), and the natural
    // aggregate over the POLICIED scan serves from the view because both
    // paths aggregate the same policy-transformed rows — fold-maintained
    // under the same regime (a regime change refuses the fold, so a FRESH
    // view is always current-regime-consistent). The oracle replays the
    // policy as a plain WHERE. `rewritten` pins the view-scan plan.
    "q_mview_policy_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(4)).cast("long").as("pk"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val prSrcOk =
        try {
          val sdir = new org.apache.hadoop.fs.Path(
            Tables.scratchDir(s, "catalog", d), "mvpr_s")
          graft.sources.GraftManifest.currentGen(
            sdir, s.sessionState.newHadoopConf()) == 1L
        } catch { case _: Exception => false }
      if (!prSrcOk) s.sql("DROP TABLE IF EXISTS graft.mvprv_s")
      fixture(s, d, "mvprv_s", 2L, "v1", Seq("orders")) { marker =>
        s.sql("DROP TABLE IF EXISTS graft.mvpr_s")
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.mvpr_s")
          .tableProperty("graft.rowFilter", "pk <> 0")
          .tableProperty("fixture", marker).create()                  // gen 1
        s.sql("CALL graft.system.create_mview(source => 'mvpr_s', " +
          "name => 'mvprv_s', keys => 'pk', sum_col => 'cents')")
        s.sql(s"ALTER TABLE graft.mvprv_s SET TBLPROPERTIES('fixture'='$marker')")
      }
      s.sql("DROP TABLE IF EXISTS graft.mvpr")
      s.sql("DROP TABLE IF EXISTS graft.mvprv")
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mvpr_s", "mvpr")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mvprv_s", "mvprv",
        Map("mview.source" -> "mvpr", "mview.gen" -> "0"))
      base.filter(col("o_orderkey") % 2 === 1).writeTo("graft.mvpr").append() // 1
      val r = s.sql("CALL graft.system.refresh_mview(name => 'mvprv')").collect()(0)
      val folded = r.getLong(0) == 0L && r.getLong(1) == 1L
      val df = s.table("graft.mvpr")
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = folded && named.contains("mvprv") && !named.contains("mvpr")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B234 r15 — PARTITION-PRUNED scan served from the view: the dashboard
    // shape `GROUP BY b WHERE <partition pred>` over a partition(pk)ed fact.
    // The predicate rides the scan's FULLY-HANDLED partition channel (no
    // residual Filter survives above the scan; entries prune before IO), and
    // the rewrite reconstructs it from the pushed V2 shapes and replays it
    // on the view — sound because pk is a view key, so the predicate selects
    // WHOLE view groups. At 100 TB this is the single most common reporting
    // query there is: a time-partitioned fact under a date slice. The
    // `rewritten` boolean pins the view-scan plan (and is also pinned at the
    // partition-channel level in MviewRewriteSpec, with the non-key and
    // `_file` refusals); the oracle replays the sliced aggregate.
    "q_mview_partition_filter" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvpfFixtures(s, d)
      val df = s.table("graft.mvpf")
        .filter(col("pk").isin(0L, 2L))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvpf_mv") && !named.contains("mvpf")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("b"))
    },

    // B234 r15 — EXACT count(DISTINCT <view key>) mixed with sum/count,
    // the multi-distinct dashboard aggregate: the view's key tuples
    // enumerate exactly the (pk,b) combos present in the base (one view row
    // per base group), so distinct b per pk re-counts over VIEW rows —
    // exact, not sketched, with |view| ≪ |base| doing the work. Single
    // distinct group, so the plan reaches the rule un-lowered (the
    // multi-distinct-group Expand lowering still refuses — pinned in
    // MviewRewriteSpec). `rewritten` pins the view-only plan; the oracle
    // replays the mixed aggregate.
    "q_mview_multidistinct" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      val df = s.table("graft.mvrq")
        .groupBy(col("pk"))
        .agg(countDistinct(col("b")).as("ndb"), count(lit(1)).as("n"),
          sum(col("cents")).as("cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B234 r15 — MULTI-DISTINCT-GROUP aggregate served from the view: two
    // count(DISTINCT) over DIFFERENT view keys + regular partials reach the
    // rule as the RewriteDistinctAggregates double-Aggregate-over-Expand
    // lowering; the rewrite keeps the whole structure (outer aggregate
    // VERBATIM) and substitutes the view under the Expand — distinct slices
    // enumerate the same (group, value) combos because view keys enumerate
    // base combos, and the regular row's partials fold from mv_*.
    // `rewritten` pins the view-scan plan; DuckDB replays the aggregate.
    "q_mview_distinct_pair" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      val df = s.table("graft.mvrq")
        .agg(countDistinct(col("pk")).as("ndp"),
          countDistinct(col("b")).as("ndb"),
          sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten))
    },

    // B234 r15 — SEMI-JOIN (EXISTS) reporting shape served from the view:
    // `WHERE EXISTS (...)` lowers to a LeftSemi join, which keeps fact rows
    // without duplication — a view group passes or fails the condition
    // together, so the view's partial is kept or dropped exactly as its
    // rows were. `rewritten` pins the view-for-fact substitution with the
    // dim still in the plan; the oracle replays the EXISTS aggregate.
    "q_mview_semijoin_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      mvrqDimFixture(s, d)
      val df = s.sql(
        "SELECT pk, count(*) AS n, sum(cents) AS cents FROM graft.mvrq f " +
          "WHERE EXISTS (SELECT 1 FROM graft.mvrq_dim d " +
          "WHERE d.bpk = f.b AND d.bpk <> 4) GROUP BY pk")
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") &&
        named.contains("mvrq_dim") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B234 r15 — LEFT-OUTER join tree served from the view (the lossless
    // reporting join: keep every fact row, attribute what matches): the
    // (pk,b) view substitutes for the fact on the PRESERVED side, the
    // filtered dim rides verbatim, and unmatched view rows ride
    // null-extended into the NULL dim group carrying their partials intact
    // — contributing exactly what each of their base rows null-extended
    // once would have (fk NULLs and filtered-away dim keys form their own
    // group on both paths). The fact-on-null-extended-side orientation
    // never qualifies (refusal pinned in MviewRewriteSpec). `rewritten`
    // pins the substitution; the oracle replays the outer join-aggregate.
    "q_mview_leftjoin_rewrite" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      mvrqFixtures(s, d)
      mvrqDimFixture(s, d)
      val df = s.table("graft.mvrq")
        .join(s.table("graft.mvrq_dim").filter(col("bpk") =!= 4L),
          col("b") === col("bpk"), "left")
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          avg(col("cents")).as("avg_cents"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = named.contains("mvrq_mv") &&
        named.contains("mvrq_dim") && !named.contains("mvrq")
      df.withColumn("rewritten", lit(rewritten))
        .orderBy(col("grp").asc_nulls_first)
    },

    "q_mview_minmax" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.MviewRewriteRule(s))
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(4)).cast("long").as("pk"))
      // Seed source + seeded view build once per dataset; each invocation
      // forks both by clone (the q_catalog_mview pattern — the view's
      // mview.source re-pointed, fold floor reset to the clone's gen 0).
      val mmSrcOk =
        try {
          val sdir = new org.apache.hadoop.fs.Path(
            Tables.scratchDir(s, "catalog", d), "mmq_s")
          graft.sources.GraftManifest.currentGen(
            sdir, s.sessionState.newHadoopConf()) == 1L
        } catch { case _: Exception => false }
      if (!mmSrcOk) s.sql("DROP TABLE IF EXISTS graft.mmqv_s")
      fixture(s, d, "mmqv_s", 2L, "v1", Seq("orders")) { marker =>
        s.sql("DROP TABLE IF EXISTS graft.mmq_s")
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.mmq_s").tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()                  // gen 1
        s.sql("CALL graft.system.create_mview(source => 'mmq_s', " +
          "name => 'mmqv_s', keys => 'pk', sum_col => 'cents')")
        s.sql(s"ALTER TABLE graft.mmqv_s SET TBLPROPERTIES('fixture'='$marker')")
      }
      s.sql("DROP TABLE IF EXISTS graft.mmq")
      s.sql("DROP TABLE IF EXISTS graft.mmqv")
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mmq_s", "mmq")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "mmqv_s", "mmqv",
        Map("mview.source" -> "mmq", "mview.gen" -> "0"))
      base.filter(col("o_orderkey") % 2 === 1).writeTo("graft.mmq").append() // 1
      s.sql("DELETE FROM graft.mmq WHERE o_orderkey % 7 = 0")         // gen 2
      s.sql("UPDATE graft.mmq SET cents = cents - 100000 " +
        "WHERE o_orderkey % 13 = 0")                                  // gen 3
      val r = s.sql("CALL graft.system.refresh_mview(name => 'mmqv')").collect()(0)
      val folded = r.getLong(0) == 0L && r.getLong(1) == 3L
      val df = s.table("graft.mmq")
        .groupBy(col("pk"))
        .agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"),
          count(lit(1)).as("n"))
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation => V2SR}
      val scans = df.queryExecution.optimizedPlan.collect {
        case sr: V2SR => sr.relation.table.name() }
      val named = scans.map(scanLeaf)
      val rewritten = folded && named.contains("mmqv") && !named.contains("mmq")
      df.withColumn("rewritten", lit(rewritten)).orderBy(col("pk"))
    },

    // B175/B182/B194 composition — INCREMENTAL ZORDER (liquid-clustering
    // maintenance): the seeded table is Morton-clustered and STAMPED once
    // (fixture); each invocation clone-forks it, lands a LOCALIZED append
    // (x,y in the [0,16)² corner of the 64×64 space), and the timed op
    // re-clusters ONLY the new files plus the tiles they overlap — the
    // `surgical` boolean pins that strictly fewer than all files were
    // rewritten AND every carried file rode the manifest forward with an
    // IDENTICAL rel path (immutable bytes), and `skip_x` pins that the
    // maintained layout still prunes. The oracle replays the final content
    // relationally (x/y are layout-only; the aggregate ignores them).
    "q_catalog_zorder_incr" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      val root = Tables.scratchDir(s, "catalog", d)
      // Seed = the STAMPED clustered state (create gen 1, z-rewrite gen 2,
      // stamp gen 3) — the layout incremental maintenance extends.
      fixture(s, d, "zoi_s", 3L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0)
          .withColumn("x", pmod(hash(col("o_orderkey")), lit(64)).cast("long"))
          .withColumn("y", pmod(hash(col("o_orderkey") + 7), lit(64)).cast("long"))
          .repartition(8)
          .writeTo("graft.zoi_s")
          .tableProperty("fixture", marker).create()
        graft.sources.GraftCatalogOps.optimizeZorder(
          s, "graft.zoi_s", root, "zoi_s", "x", "y", numFiles = 8)
      }
      s.sql("DROP TABLE IF EXISTS graft.zoi")
      // Clone is born at gen 0 holding the clustered entry list — re-point
      // the stamp at it (the mview.gen re-point pattern).
      graft.sources.GraftCatalogOps.cloneTable(s, root, "zoi_s", "zoi",
        Map("zorder.gen" -> "0"))
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("x", pmod(hash(col("o_orderkey")), lit(16)).cast("long"))
        .withColumn("y", pmod(hash(col("o_orderkey") + 7), lit(16)).cast("long"))
        .coalesce(2)
        .writeTo("graft.zoi").append()                              // gen 1
      val dirP = new org.apache.hadoop.fs.Path(root, "zoi")
      val hconf = s.sessionState.newHadoopConf()
      def entriesNow = graft.sources.GraftManifest.load(dirP,
        graft.sources.GraftManifest.currentGen(dirP, hconf), hconf)
        .entries.map(_._2)
      val before = entriesNow
      val (rw, kept) = graft.sources.GraftCatalogOps
        .optimizeZorderIncremental(s, "graft.zoi", root, "zoi", numFiles = 4)
      val after = entriesNow
      val surgical = kept >= 1L && rw < before.size.toLong &&
        (before.toSet.intersect(after.toSet).size.toLong == kept)
      import org.apache.spark.sql.sources.GreaterThan
      val (skipX, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zoi", Array(GreaterThan("x", 48L)))
      s.table("graft.zoi").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("surgical", lit(surgical))
        .withColumn("skip_x", lit(skipX >= 1L))
        .orderBy(col("pk"))
    },

    // B175/B182/B183/B194 composition — INCREMENTAL ZORDER on a PARTITIONED
    // table under a HILBERT stamp: the seeded table is hilbert-clustered
    // WITHIN partitions and stamped; the clone takes a localized corner
    // append into ONE partition (pk=1), and the increment re-clusters only
    // that corner — `surgical` pins the strictly-partial rewrite with
    // identical carried rel paths, `part_scoped` pins that every tile of
    // the UNTOUCHED partitions rode forward (the per-partition overlap
    // scoping), and `skip_x` that the maintained hilbert layout still
    // prunes. The oracle replays the final content relationally.
    "q_catalog_zorder_incr_part" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      val root = Tables.scratchDir(s, "catalog", d)
      fixture(s, d, "zoip_s", 3L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0)
          .withColumn("x", pmod(hash(col("o_orderkey")), lit(64)).cast("long"))
          .withColumn("y", pmod(hash(col("o_orderkey") + 7), lit(64)).cast("long"))
          .repartition(6)
          .writeTo("graft.zoip_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
        graft.sources.GraftCatalogOps.optimizeZorder(
          s, "graft.zoip_s", root, "zoip_s", "x", "y", numFiles = 12,
          curve = "hilbert")
      }
      s.sql("DROP TABLE IF EXISTS graft.zoip")
      graft.sources.GraftCatalogOps.cloneTable(s, root, "zoip_s", "zoip",
        Map("zorder.gen" -> "0"))
      // Corner append into pk=1 ONLY (x,y in [0,16)²) — the localized-ingest
      // shape per-partition maintenance exists for.
      base.filter(col("o_orderkey") % 2 === 1 && col("pk") === 1L)
        .withColumn("x", pmod(hash(col("o_orderkey")), lit(16)).cast("long"))
        .withColumn("y", pmod(hash(col("o_orderkey") + 7), lit(16)).cast("long"))
        .coalesce(2)
        .writeTo("graft.zoip").append()                             // gen 1
      val dirP = new org.apache.hadoop.fs.Path(root, "zoip")
      val hconf = s.sessionState.newHadoopConf()
      def entriesNow = graft.sources.GraftManifest.load(dirP,
        graft.sources.GraftManifest.currentGen(dirP, hconf), hconf)
        .entries.map(_._2)
      val before = entriesNow
      val (rw, kept) = graft.sources.GraftCatalogOps
        .optimizeZorderIncremental(s, "graft.zoip", root, "zoip", numFiles = 3)
      val after = entriesNow
      val carried = before.toSet.intersect(after.toSet)
      val surgical = kept >= 1L && rw < before.size.toLong &&
        carried.size.toLong == kept
      // part_scoped pins BOTH directions of the per-partition test: tiles of
      // untouched partitions all carried AND at least one pk=1 tile actually
      // merged with the new data (matching is by partition-dir chain, never
      // the per-commit gen-* path — which would match nothing).
      val otherTiles = before.filterNot(_.contains("pk=1"))
      val partScoped = otherTiles.nonEmpty &&
        otherTiles.forall(carried.contains) &&
        before.filter(_.contains("pk=1")).exists(tl => !carried.contains(tl))
      import org.apache.spark.sql.sources.GreaterThan
      val (skipX, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zoip", Array(GreaterThan("x", 48L)))
      s.table("graft.zoip").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("surgical", lit(surgical))
        .withColumn("part_scoped", lit(partScoped))
        .withColumn("skip_x", lit(skipX >= 1L))
        .orderBy(col("pk"))
    },

    // B233: ROW-LEVEL SECURITY + COLUMN MASKING enforced IN the scan (the
    // Unity row-filter / Snowflake masking-policy posture): the fixture
    // table declares `graft.rowFilter = k % 7 <> 0`, `graft.mask.tag =
    // '***'`, and an exempt `auditor` role. The returned (policed) read must
    // see ONLY filtered rows and the mask constant — policed_n/cents replay
    // the filter relationally in the oracle, policed_tags=1 and
    // mask_value='***' pin that no raw tag ever escapes — while the
    // one-row auditor probe (session role flipped inside the query,
    // restored in finally) must see raw counts/sums/distincts. A policy
    // layer that leaks raw values, hides the wrong rows, or polices the
    // exempt role breaks the hash, not a unit test.
    "q_catalog_policy" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      import graft.sources.GraftPolicies
      s.conf.unset(GraftPolicies.RoleConf)
      fixture(s, d, "polq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            concat(lit("t"), pmod(col("o_orderkey"), lit(100))).as("tag"))
          .coalesce(2).writeTo("graft.polq")
          .tableProperty(GraftPolicies.FilterProp, "k % 7 <> 0")
          .tableProperty(GraftPolicies.MaskPrefix + "tag", "'***'")
          .tableProperty(GraftPolicies.ExemptProp, "auditor")
          .tableProperty("fixture", marker).create()
      }
      // Exempt probe: one collected row under the auditor role (scalar
      // metadata-scale collect), role restored before the policed DF builds.
      val audit = try {
        s.conf.set(GraftPolicies.RoleConf, "auditor")
        s.table("graft.polq").agg(count(lit(1)).as("n"),
          countDistinct(col("tag")).as("t"), sum(col("cents")).as("c")).collect()(0)
      } finally s.conf.unset(GraftPolicies.RoleConf)
      s.table("graft.polq")
        .agg(count(lit(1)).as("policed_n"),
          sum(col("cents")).as("policed_cents"),
          countDistinct(col("tag")).as("policed_tags"),
          max(col("tag")).as("mask_value"))
        .withColumn("raw_n", lit(audit.getLong(0)))
        .withColumn("raw_tags", lit(audit.getLong(1)))
        .withColumn("raw_cents", lit(audit.getLong(2)))
    },

    // B237: HIDDEN BUCKET PARTITIONING (Iceberg partition transforms,
    // bucket v1): the table is partitioned by bucket(8,k) but k STAYS in
    // the data — the user filters on the REAL column and the scan prunes
    // to the matching bucket directory (floorMod is the transform, so the
    // oracle can replay a row's bucket as k % 8). The per-bucket rollup
    // proves no row was lost or misrouted across the 8 derived directories,
    // `probe_n` pins the point lookup's answer, and `bucket_pruned` — parsed
    // from the EXECUTED plan's entries=kept/total — pins that the lookup
    // opened exactly ONE of the table's files inside the hash gate.
    "q_catalog_hidden_bucket" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "hbq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
          .coalesce(1).writeTo("graft.hbq")
          .partitionedBy(bucket(8, col("k")))
          .tableProperty("fixture", marker).create()
      }
      val k0 = s.table("graft.hbq").agg(min(col("k"))).head.getLong(0) // 1-row probe
      val probe = s.table("graft.hbq").filter(col("k") === k0)
      val desc = probe.queryExecution.executedPlan.toString
      val pruned = "entries=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
        .exists(m => m.group(1).toInt == 1 && m.group(2).toInt > 1)
      val probeN = probe.count()
      s.table("graft.hbq")
        .groupBy(pmod(col("k"), lit(8)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("probe_n", lit(probeN))
        .withColumn("bucket_pruned", lit(pruned))
        .orderBy(col("bucket"))
    },

    // B237 extension: HIDDEN days(ts) partitioning — the time-partitioned
    // fact table, THE most common lakehouse layout. The cloned seed (gen 0)
    // holds the even event keys partitioned by days(ts) (ts STAYS in the data; the
    // directory key is the epoch day). The two-day RANGE probe pins that
    // the scan opened exactly the two covered day directories out of 30
    // (`days_pruned`, parsed from the EXECUTED plan's entries=kept/total —
    // the boundary-exact `ts < day12-midnight` drops the boundary day too),
    // then ONE metadata-only commit evolves the spec to truncate(2,et)
    // (B232 × B237: both new transform kinds in one lineage) and the odd
    // keys append under the prefix layout. The per-day rollup then spans
    // BOTH vintages — a row lost or misrouted across the spec boundary
    // breaks the hash, not just a plan detail.
    "q_catalog_hidden_days" -> { (s, d) =>
      val base = Tables.events(s, d).select(col("event_id").as("k"), col("ts"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        col("event_type").as("et"))
      // The days(ts)-partitioned seed is memoized; the range-pruned probe,
      // the spec evolution to truncate(2,et), and the mixed-layout append
      // are the timed ops.
      clonedSeed(s, d, "hdq_s", "hdq", 1L, "v1", Seq("events")) { marker =>
        base.filter(col("k") % 2 === 0).coalesce(1).writeTo("graft.hdq_s")
          .partitionedBy(days(col("ts")))
          .tableProperty("fixture", marker).create()         // seed gen 1; clone is gen 0, days(ts)=…
      }
      val probe = s.table("graft.hdq").filter(
        expr("ts >= timestamp'2024-01-10 00:00:00' AND " +
          "ts < timestamp'2024-01-12 00:00:00'"))
      val desc = probe.queryExecution.executedPlan.toString
      val pruned = "entries=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
        .exists(m => m.group(1).toInt <= 2 && m.group(2).toInt > 10)
      val probeN = probe.count()
      s.sql("CALL graft.system.set_partition_spec(table => 'hdq', cols => 'truncate(2,et)')")
      base.filter(col("k") % 2 === 1).coalesce(1)
        .writeTo("graft.hdq").append()                       // gen 2: et-prefix dirs
      import graft.sources.GraftManifest
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.catalog.graft.root"), "hdq")
      val conf = s.sessionState.newHadoopConf()
      val wasMixed = !GraftManifest.load(dir,
        GraftManifest.currentGen(dir, conf), conf).specUniform
      s.table("graft.hdq")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("probe_n", lit(probeN))
        .withColumn("days_pruned", lit(pruned))
        .withColumn("was_mixed", lit(wasMixed))
        .orderBy(col("day"))
    },

    // B231 outer twin: LEFT OUTER elimination — grouping on the DIM pk
    // (substituted to the fk under RELY: matched rows have pk = fk by the
    // condition, unmatched rows have fk IS NULL which equals the
    // null-extended pk), with NO null guard (outer joins preserve every
    // fact row — the null-fk rows form their own group, unlike the inner
    // twin where they vanish). The oracle replays the LEFT JOIN itself.
    "q_rely_outer_elim" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.RelyJoinEliminationRule(s))
      // Shares q_rely_join_elim's fixtures (built there or here, whichever
      // runs first — same marker, same tables).
      relyFixtures(s, d)
      val f = s.table("graft.rely_f")
      val dm = s.table("graft.rely_d")
      val joined = f.join(dm, f("cust") === dm("c_custkey"), "left")
        .groupBy(pmod(dm("c_custkey"), lit(10)).cast("long").as("grp"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
      val eliminated = joined.queryExecution.optimizedPlan
        .collect { case j: LJoin => j }.isEmpty
      joined.withColumn("join_eliminated", lit(eliminated)).orderBy(col("grp"))
    },

    // B232: PARTITION SPEC EVOLUTION (the Iceberg flagship metadata design):
    // the cloned seed (gen 0) is partitioned by pk and holds the even keys;
    // one metadata-only commit re-partitions the spec to b (zero rewrites —
    // the old files keep their pk=… layout); the next commit appends the
    // odd keys under b=…. The mixed-layout read then reconstructs BOTH vintages'
    // partition values from their own paths (`was_mixed` pins the mixed
    // state inside the hash gate), a row-level DELETE spans both vintages
    // exactly (path-keyed metadata deletes refuse on mixed tables and Spark
    // reroutes to copy-on-write), and full OPTIMIZE migrates every file to
    // the current spec (`uniform_after` + `migrated_layout` pin that the
    // rewrite landed under b=…). The oracle replays the whole history
    // relationally — a value lost or duplicated across the spec boundary
    // breaks the hash, not just a plan detail.
    "q_catalog_partition_evolution" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"),
        pmod(col("o_orderkey"), lit(5)).cast("long").as("b"))
      // The pk-layout seed is memoized; the spec evolution, mixed-vintage
      // append, cross-vintage DELETE, and migrating OPTIMIZE are the timed
      // ops.
      clonedSeed(s, d, "evo_s", "evo", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("k") % 2 === 0).coalesce(2).writeTo("graft.evo_s")
          .partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()               // seed gen 1; clone is gen 0, pk=…
      }
      s.sql("CALL graft.system.set_partition_spec(table => 'evo', cols => 'b')") // gen 1
      base.filter(col("k") % 2 === 1).coalesce(2)
        .writeTo("graft.evo").append()                             // gen 2: b=…
      import graft.sources.GraftManifest
      val dir = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.catalog.graft.root"), "evo")
      val conf = s.sessionState.newHadoopConf()
      def m() = GraftManifest.load(dir, GraftManifest.currentGen(dir, conf), conf)
      val wasMixed = !m().specUniform
      s.sql("DELETE FROM graft.evo WHERE b = 0")        // row-level, both vintages
      s.sql("CALL graft.system.optimize(table => 'evo')")          // migrates
      val after = m()
      val uniformAfter = after.specUniform
      val migrated = after.entries.nonEmpty &&
        after.entries.forall { case (pp, _) => pp.startsWith("b=") }
      s.table("graft.evo")
        .groupBy(col("pk"), col("b"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("was_mixed", lit(wasMixed))
        .withColumn("uniform_after", lit(uniformAfter))
        .withColumn("migrated_layout", lit(migrated))
        .orderBy(col("pk"), col("b"))
    },

    // B231: RELY PK-FK join elimination (graft.plans.RelyJoinEliminationRule)
    // — the informational-constraint optimization (Oracle RELY NOVALIDATE /
    // Snowflake / Databricks RELY): the fact table DECLARES its FK against
    // the dimension's declared PK, both RELY, so the optimizer removes the
    // inner join entirely when no dimension column (beyond the pk itself,
    // rewritten to the fk) survives — no dim scan, no broadcast, no join. At
    // 100 TB this deletes an entire dimension-table read from every qualifying
    // query. The fact carries NULL fks (every 7th order) to pin the exact
    // inner-join row semantics (`fk IS NOT NULL` replaces the join's null
    // drop), the grouping key references the DIM pk (exercising the pk→fk
    // substitution), and `join_eliminated` — computed from the optimized
    // plan — rides the hash gate: the oracle replays the JOIN itself, so a
    // rewrite that changed semantics OR silently stopped firing both fail.
    "q_rely_join_elim" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.RelyJoinEliminationRule(s))
      relyFixtures(s, d)
      val f = s.table("graft.rely_f")
      val dm = s.table("graft.rely_d")
      val joined = f.join(dm, f("cust") === dm("c_custkey"))
        .groupBy(pmod(dm("c_custkey"), lit(10)).cast("long").as("grp"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
      val eliminated = joined.queryExecution.optimizedPlan
        .collect { case j: LJoin => j }.isEmpty
      joined.withColumn("join_eliminated", lit(eliminated)).orderBy(col("grp"))
    },

    // B231 DISTINCT twin: SELECT DISTINCT over a declared RELY PK is a
    // no-op — the grouping covers the unique key, so the optimizer deletes
    // the whole hash aggregate and its shuffle (uniqueness is row-level:
    // any filter above the scan preserves it). The plan pin counts
    // Aggregates: exactly ONE must survive (the seg rollup the query itself
    // asks for), zero for the distinct. The oracle replays the DISTINCT.
    "q_rely_distinct_elim" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.RelyJoinEliminationRule(s))
      relyFixtures(s, d)
      val dm = s.table("graft.rely_d")
      val df = dm.distinct()
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("keysum"))
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg}
      val aggs = df.queryExecution.optimizedPlan
        .collect { case ag: LAgg => ag }
      df.withColumn("distinct_eliminated", lit(aggs.size == 1))
        .orderBy(col("seg"))
    },

    // B231 SEMI/ANTI twin: the EXISTS / NOT EXISTS shapes. Under the RELY
    // FK a fact row has a dimension match iff its fk is non-null, so the
    // optimizer reduces the semi join to `cust IS NOT NULL` and the anti
    // join to `cust IS NULL` — both dimension scans vanish. The oracle
    // replays the ACTUAL semi/anti joins (EXISTS / NOT EXISTS subqueries
    // over the dimension), so an elimination that changed any row breaks
    // the hash; `join_eliminated` pins that BOTH joins really left the plan.
    "q_rely_semi_elim" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.RelyJoinEliminationRule(s))
      relyFixtures(s, d)
      val f = s.table("graft.rely_f")
      val dm = s.table("graft.rely_d")
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
      val anti = f.join(dm, f("cust") === dm("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val antiElim = anti.queryExecution.optimizedPlan
        .collect { case j: LJoin => j }.isEmpty
      val antiN = anti.head.getLong(0) // 1-row driver pin
      val semi = f.join(dm, f("cust") === dm("c_custkey"), "left_semi")
        .groupBy(pmod(col("cust"), lit(10)).cast("long").as("grp"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      val semiElim = semi.queryExecution.optimizedPlan
        .collect { case j: LJoin => j }.isEmpty
      semi.withColumn("anti_n", lit(antiN))
        .withColumn("join_eliminated", lit(semiElim && antiElim))
        .orderBy(col("grp"))
    },

    // B231 composite twin: the dimension declares a TWO-column RELY PK
    // (pk1, pk2 — the div/mod-97 decomposition of c_custkey, unique by
    // construction) and the fact a positionally-paired composite FK whose
    // components go null INDEPENDENTLY (every 7th order drops fk1, every
    // 11th fk2). The inner join equating the FULL key set is eliminated;
    // the any-component-null drop is replayed by the per-column IS NOT NULL
    // guards the rewrite installs, and the oracle replays the join itself —
    // a partial-key firing or a mis-paired substitution breaks the hash.
    "q_rely_composite_elim" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      org.apache.spark.sql.GraftBridge.addOptimization(s,
        graft.plans.RelyJoinEliminationRule(s))
      fixture(s, d, "rely_cd", 1L, "v1", Seq("customer")) { marker =>
        Tables.customer(s, d)
          .select(expr("CAST(floor(c_custkey / 97) AS BIGINT)").as("pk1"),
            pmod(col("c_custkey"), lit(97)).cast("long").as("pk2"),
            col("c_mktsegment").as("seg")).distinct()
          .coalesce(1).writeTo("graft.rely_cd")
          .tableProperty("graft.primaryKey", "pk1, pk2 RELY")
          .tableProperty("fixture", marker).create()
      }
      fixture(s, d, "rely_cf", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(
            expr("CASE WHEN o_orderkey % 7 = 0 THEN NULL " +
              "ELSE CAST(floor(o_custkey / 97) AS BIGINT) END").as("fk1"),
            expr("CASE WHEN o_orderkey % 11 = 0 THEN NULL " +
              "ELSE o_custkey % 97 END").as("fk2"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
          .coalesce(1).writeTo("graft.rely_cf")
          .tableProperty("graft.foreignKey.ck",
            "fk1, fk2 REFERENCES rely_cd (pk1, pk2) RELY")
          .tableProperty("fixture", marker).create()
      }
      val f = s.table("graft.rely_cf")
      val dm = s.table("graft.rely_cd")
      val joined = f.join(dm,
          f("fk1") === dm("pk1") && f("fk2") === dm("pk2"))
        .groupBy(pmod(dm("pk2"), lit(10)).cast("long").as("grp"))
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n"))
      import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
      val eliminated = joined.queryExecution.optimizedPlan
        .collect { case j: LJoin => j }.isEmpty
      joined.withColumn("join_eliminated", lit(eliminated)).orderBy(col("grp"))
    },

    "q_catalog_dropcol" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        (col("o_orderkey") % 5).cast("long").as("prio"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // Pre-drop seed memoized (clone = gen 0); DROP/re-ADD/append are the
      // timed column-mapping ops.
      clonedSeed(s, d, "dcq_s", "dcq", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.dcq_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      s.sql("ALTER TABLE graft.dcq DROP COLUMN prio")                // gen 1
      s.sql("ALTER TABLE graft.dcq ADD COLUMN prio BIGINT")          // gen 2
      base.filter(col("o_orderkey") % 2 === 1)
        .writeTo("graft.dcq").append()                               // gen 3
      val resurrected = s.table("graft.dcq")
        .filter(col("o_orderkey") % 2 === 0 && col("prio").isNotNull).count()
      s.table("graft.dcq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          count(col("prio")).as("n_prio"),
          sum(coalesce(col("prio"), lit(0L))).as("prio_sum"))
        .withColumn("no_resurrection", lit(resurrected == 0L))
        .orderBy(col("pk"))
    },

    // B170 query witness: STREAMING change data feed — the `$changes` twin of
    // a dv-mode catalog table streamed through a checkpointed file sink: the
    // first drain delivers the live snapshot as inserts, the second streams
    // the delta commits exactly — appended files as inserts, DV growth as
    // deletes read at the newly-dead positions, a delta UPDATE as its
    // delete+insert pair. The oracle replays the same history relationally;
    // per-commit change counts and value sums are hash-verified end to end.
    "q_catalog_cdf_stream" -> { (s, d) =>
      val hconf = s.sessionState.newHadoopConf()
      val ckpt = Tables.scratchDir(s, "cdfs_ckpt", d)
      val out = Tables.scratchDir(s, "cdfs_out", d)
      Seq(ckpt, out).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).delete(hp, true)
      }
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // Initial snapshot memoized (clone = gen 0 — the snapshot batch then
      // carries _commit_version 0, and the delta commits are 1..3; the
      // oracle counts from the same basis); drains + DML are the timed ops.
      clonedSeed(s, d, "cdfs_s", "cdfs", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.cdfs_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()                  // gen 1
      }
      def drain(): Unit = {
        val q = s.readStream.table("graft.`cdfs$changes`")
          .writeStream.option("checkpointLocation", ckpt)
          .format("parquet")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        val done = q.awaitTermination(240000)
        q.stop()
        require(done, "q_catalog_cdf_stream: AvailableNow drain did not finish in 240s")
      }
      drain()                                      // snapshot batch: inserts @0
      base.filter(col("o_orderkey") % 2 === 1)
        .writeTo("graft.cdfs").append()                               // gen 1
      s.sql("DELETE FROM graft.cdfs WHERE o_orderkey % 7 = 0")        // gen 2
      s.sql("UPDATE graft.cdfs SET cents = cents + 5 WHERE o_orderkey % 11 = 0") // gen 3
      drain()                                      // delta batches @1..@3
      s.read.parquet(out)
        .groupBy(col("_commit_version").as("gen"), col("_change_type").as("change"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("gen"), col("change"))
    },

    // B171 query witness: CHECK constraints — the `check` table property is a
    // boolean SQL expression every write path must satisfy row-by-row (batch
    // append, streaming epochs, delta DML, CoW rewrites); a violation fails
    // the task and the commit NEVER publishes, so rejection is all-or-nothing.
    // The query drives a valid create, a wholly-violating append, a violating
    // UPDATE, then a compliant UPDATE; `rejected_*` pin that both bad writes
    // threw, `atomic` that the generation pointer never advanced across them,
    // and the hash gate proves the final state is exactly
    // create+compliant-update — the rejected writes left zero rows.
    "q_catalog_check" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // MULTI-constraint surface: the legacy unnamed `check` plus a NAMED
      // `check.key_min` at CREATE; `check.cents_cap` added later via
      // ALTER TABLE SET TBLPROPERTIES (the ADD CONSTRAINT surface) and
      // `check.key_min` dropped via UNSET TBLPROPERTIES. The constrained
      // seed is memoized (clone inherits every check property); the
      // rejected writes, ALTERs, and compliant DML are the timed ops.
      clonedSeed(s, d, "chkq_s", "chkq", 1L, "v1", Seq("orders")) { marker =>
        base.writeTo("graft.chkq_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("check", "cents >= 0")
          .tableProperty("check.key_min", "o_orderkey >= 0")
          .tableProperty("fixture", marker).create()
      }
      val dir = new org.apache.hadoop.fs.Path(
        Tables.scratchDir(s, "catalog", d), "chkq")
      val hconf = s.sessionState.newHadoopConf()
      def gen = graft.sources.GraftManifest.currentGen(dir, hconf)
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      val g1 = gen
      val rejectedAppend =
        try {
          base.withColumn("cents", -col("cents") - 1)
            .writeTo("graft.chkq").append(); false
        } catch { case _: Exception => true }
      val rejectedUpdate =
        try {
          s.sql("UPDATE graft.chkq SET cents = -5 WHERE o_orderkey % 10 = 0"); false
        } catch { case _: Exception => true }
      import s.implicits._
      val keyNeg = Seq((-1L, 42L, 2L)).toDF("o_orderkey", "cents", "pk")
      // Violating the NAMED constraint must name it — the per-constraint
      // error message a multi-constraint table owes its operator.
      val namedError =
        try { keyNeg.writeTo("graft.chkq").append(); false }
        catch { case e: Exception => chain(e).contains("key_min") }
      val atomic = gen == g1
      s.sql("ALTER TABLE graft.chkq SET TBLPROPERTIES" +
        "('check.cents_cap'='cents < 100000000000')")
      val addEnforced =
        try {
          Seq((9L, 100000000000L, 0L)).toDF("o_orderkey", "cents", "pk")
            .writeTo("graft.chkq").append(); false
        } catch { case e: Exception => chain(e).contains("cents_cap") }
      s.sql("ALTER TABLE graft.chkq UNSET TBLPROPERTIES('check.key_min')")
      s.sql("UPDATE graft.chkq SET cents = cents + 3 WHERE o_orderkey % 10 = 0")
      // The formerly-violating row now lands: drop released exactly one
      // constraint, the other two still stand (addEnforced proved cents_cap).
      keyNeg.writeTo("graft.chkq").append()
      s.table("graft.chkq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("rejected_append", lit(rejectedAppend))
        .withColumn("rejected_update", lit(rejectedUpdate))
        .withColumn("named_error", lit(namedError))
        .withColumn("add_enforced", lit(addEnforced))
        .withColumn("atomic", lit(atomic))
        .orderBy(col("pk"))
    },

    // B172 query witness: BUCKETED co-located join — the bucketed-table
    // pattern on the catalog: both fact tables carry a derived bucket column
    // (murmur3(key) mod 8) as their partition key, so a BIG-BIG join on the
    // REAL key (join keys ⊇ partition keys, subset-cluster satisfaction)
    // runs with ZERO exchange on either side — at 100 TB this is the
    // fact-fact join without the two dominant shuffles. `spj` pins the plan
    // inside the hash gate; values are hash-checked vs DuckDB joining the
    // raw parquet on the key alone (the bucket column is derived from the
    // key on both sides, so bucket equality adds nothing semantically).
    "q_catalog_spj_bucket" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "bspf", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("bk", pmod(hash(col("o_orderkey")), lit(8)).cast("int"))
          .writeTo("graft.bspf").partitionedBy(col("bk"))
          .tableProperty("fixture", marker).create()
      }
      fixture(s, d, "bspl", 1L, "v1", Seq("lineitem")) { marker =>
        Tables.lineitem(s, d).select(col("l_orderkey"),
            expr("CAST(l_quantity AS BIGINT)").as("qty"))
          .withColumn("bk", pmod(hash(col("l_orderkey")), lit(8)).cast("int"))
          .writeTo("graft.bspl").partitionedBy(col("bk"))
          .tableProperty("fixture", marker).create()
      }
      val flips = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      val saved = flips.map { case (k, _) => k -> s.conf.getOption(k) }
      val spj =
        try {
          flips.foreach { case (k, v) => s.conf.set(k, v) }
          val plan = s.table("graft.bspf").as("f")
            .join(s.table("graft.bspl").as("l"),
              col("f.bk") === col("l.bk") && col("o_orderkey") === col("l_orderkey"))
            .queryExecution.executedPlan.toString
          !plan.contains("Exchange hashpartitioning")
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      s.table("graft.bspf").as("f")
        .join(s.table("graft.bspl").as("l"),
          col("f.bk") === col("l.bk") && col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty"),
          sum(col("cents")).as("cents"))
        .withColumn("spj", lit(spj))
        .orderBy(col("status"))
    },

    // B115/B165 query witness (schema evolution on the CATALOG): ALTER TABLE
    // ADD COLUMN publishes a widened-schema generation with untouched entries
    // — zero rewrite; pre-evolution files surface NULL for the new column
    // straight from the schema'd parquet read, post-evolution appends carry
    // real values. The hash gate proves the null-fill boundary lands exactly
    // on the evolution commit.
    "q_catalog_evolution" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "evoq", 3L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.evoq").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()                 // gen 1
        s.sql("ALTER TABLE graft.evoq ADD COLUMN bonus BIGINT")      // gen 2
        base.filter(col("o_orderkey") % 2 === 1)
          .withColumn("bonus", col("o_orderkey") % 100)
          .writeTo("graft.evoq").append()                            // gen 3
      }
      s.table("graft.evoq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          count(col("bonus")).as("n_bonus"),
          sum(coalesce(col("bonus"), lit(0L))).as("bonus"))
        .orderBy(col("pk"))
    },

    // B174 query witness: RESTORE — roll the table back to generation 1
    // after a DV delete and a delta update, as ONE metadata-only commit (no
    // data file moves; the restored manifest carries gen 1's exact entries).
    // `restored` pins the new generation number, `no_copy` pins entry-level
    // identity with gen 1, and the hash gate proves the content is the
    // original orders projection — the rolled-back DML left no trace.
    "q_catalog_restore" -> { (s, d) =>
      // Seed memoized (clone = gen 0, the restore target); the rolled-back
      // DML mix and the RESTORE itself are the timed ops.
      clonedSeed(s, d, "rstq_s", "rstq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
          .writeTo("graft.rstq_s").partitionedBy(col("pk"))
          .tableProperty("dml", "dv")
          .tableProperty("fixture", marker).create()
      }
      s.sql("DELETE FROM graft.rstq WHERE o_orderkey % 7 = 0")        // gen 1
      s.sql("UPDATE graft.rstq SET cents = cents + 9 WHERE o_orderkey % 5 = 0") // gen 2
      val root = Tables.scratchDir(s, "catalog", d)
      val newGen = graft.sources.GraftCatalogOps.restore(s, root, "rstq", 0L)
      val hconf = s.sessionState.newHadoopConf()
      val dir = new org.apache.hadoop.fs.Path(root, "rstq")
      val m0 = graft.sources.GraftManifest.load(dir, 0L, hconf)
      val mNew = graft.sources.GraftManifest.load(dir, newGen, hconf)
      val noCopy = mNew.entries == m0.entries && mNew.fileDVs.isEmpty
      s.table("graft.rstq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("restored", lit(newGen == 3L))
        .withColumn("no_copy", lit(noCopy))
        .orderBy(col("pk"))
    },

    // B175 query witness: OPTIMIZE ZORDER — a catalog maintenance rewrite
    // that Morton-clusters the table on two uniform hash-derived columns;
    // afterwards a single-axis min/max probe on x AND one on y each provably
    // exclude files (the library's own stats evaluator counts them — the
    // property a one-column sort cannot give both axes). Layout columns never
    // reach the output: the hash gate rides the per-pk aggregate (lossless
    // rewrite) plus the skip booleans and the exact rewritten file count.
    "q_catalog_zorder_opt" -> { (s, d) =>
      // The unclustered 8-file layout IS the fixture (the state ZORDER
      // exists to fix); the Morton rewrite + skip probes are the timed ops.
      clonedSeed(s, d, "zoq_s", "zoq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"),
            pmod(hash(col("o_orderkey")), lit(64)).cast("long").as("x"),
            pmod(hash(col("o_orderkey") + 7), lit(64)).cast("long").as("y"))
          .repartition(8)
          .writeTo("graft.zoq_s")
          .tableProperty("fixture", marker).create()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      val (_, nFiles) = graft.sources.GraftCatalogOps.optimizeZorder(
        s, "graft.zoq", root, "zoq", "x", "y", numFiles = 8)
      import org.apache.spark.sql.sources.LessThan
      val (skipX, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zoq", Array(LessThan("x", 16L)))
      val (skipY, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zoq", Array(LessThan("y", 16L)))
      s.table("graft.zoq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("zorder_files", lit(nFiles))
        .withColumn("skip_x", lit(skipX >= 2L))
        .withColumn("skip_y", lit(skipY >= 2L))
        .orderBy(col("pk"))
    },

    // B194 query witness: HILBERT clustering — the same maintenance op under
    // `curve => 'hilbert'`, driven through the CALL surface (B193): the
    // native loop expression (graft.plans.HilbertIndex) Hilbert-orders the
    // table so a contiguous key range is a compact, diagonal-jump-free tile;
    // both single-axis probes still prune by file stats, and the rewrite is
    // lossless (per-pk aggregate rides the hash gate).
    "q_catalog_zorder_hilbert" -> { (s, d) =>
      // Same unclustered seed posture as q_catalog_zorder_opt; the Hilbert
      // rewrite through the CALL surface + skip probes are the timed ops.
      clonedSeed(s, d, "zhq_s", "zhq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"),
            pmod(hash(col("o_orderkey")), lit(64)).cast("long").as("x"),
            pmod(hash(col("o_orderkey") + 7), lit(64)).cast("long").as("y"))
          .repartition(8)
          .writeTo("graft.zhq_s")
          .tableProperty("fixture", marker).create()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      val nFiles = s.sql("CALL graft.system.zorder(table => 'zhq', " +
          "col_x => 'x', col_y => 'y', curve => 'hilbert')")
        .collect()(0).getLong(1)
      import org.apache.spark.sql.sources.LessThan
      val (skipX, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zhq", Array(LessThan("x", 16L)))
      val (skipY, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zhq", Array(LessThan("y", 16L)))
      s.table("graft.zhq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("hilbert_files", lit(nFiles))
        .withColumn("skip_x", lit(skipX >= 2L))
        .withColumn("skip_y", lit(skipY >= 2L))
        .orderBy(col("pk"))
    },

    // B183 query witness: OPTIMIZE ZORDER on a PARTITIONED table (the Delta
    // within-partition Z-ordering semantics round 6 refused): range-partition
    // over (partition cols, morton key) keeps partition values contiguous
    // while carving each partition into z-tiles, and the layout=managed write
    // option lets that distribution through. Afterwards BOTH single-axis
    // min/max probes provably exclude files inside the still-partitioned
    // table (x and y are data columns; pk still prunes at partition
    // granularity). The hash gate rides the per-pk aggregate (lossless
    // rewrite) plus conservative skip floors on each axis.
    "q_catalog_zorder_part" -> { (s, d) =>
      // Partitioned seed memoized; the within-partition z-tiling rewrite +
      // probes are the timed ops.
      clonedSeed(s, d, "zpq_s", "zpq", 1L, "v1", Seq("orders")) { marker =>
        Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
            pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"),
            pmod(hash(col("o_orderkey")), lit(64)).cast("long").as("x"),
            pmod(hash(col("o_orderkey") + 7), lit(64)).cast("long").as("y"))
          .writeTo("graft.zpq_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      val (_, nFiles) = graft.sources.GraftCatalogOps.optimizeZorder(
        s, "graft.zpq", root, "zpq", "x", "y", numFiles = 24)
      import org.apache.spark.sql.sources.LessThan
      val (skipX, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zpq", Array(LessThan("x", 16L)))
      val (skipY, _) = graft.sources.GraftCatalogOps.filesSkippedBy(
        s, root, "zpq", Array(LessThan("y", 16L)))
      s.table("graft.zpq").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("tiled", lit(nFiles >= 12L))
        .withColumn("skip_x", lit(skipX >= 3L))
        .withColumn("skip_y", lit(skipY >= 3L))
        .orderBy(col("pk"))
    },

    // B177 query witness: OPTIMISTIC CONCURRENCY — three writers append
    // disjoint slices of orders to the same catalog table CONCURRENTLY; the
    // CAS commit protocol hands each a distinct generation (losers rebase
    // their metadata, nothing re-executes) so the union lands exactly once.
    // The interleaving is nondeterministic, the CONTENT is not: the hash gate
    // rides the per-pk aggregate of the full table, `serialized` pins one
    // contiguous generation per commit, and `all_landed` the exact row count.
    "q_catalog_concurrent" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      s.sql("DROP TABLE IF EXISTS graft.ccw")
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      base.limit(0).writeTo("graft.ccw").partitionedBy(col("pk")).create()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until 3).map { w =>
        new Thread(() => {
          try base.filter(pmod(col("o_orderkey"), lit(3)) === w)
            .writeTo("graft.ccw").append()
          catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(240000))
      require(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
      val dir = new org.apache.hadoop.fs.Path(
        Tables.scratchDir(s, "catalog", d), "ccw")
      val hconf = s.sessionState.newHadoopConf()
      val cur = graft.sources.GraftManifest.currentGen(dir, hconf)
      val fs = dir.getFileSystem(hconf)
      val contiguous = (0L to cur).forall(g =>
        fs.exists(new org.apache.hadoop.fs.Path(dir, s"manifest-$g.txt")))
      val nRows = s.table("graft.ccw").count()
      val expected = Tables.orders(s, d).count()
      s.table("graft.ccw").groupBy(col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("serialized", lit(cur == 4L && contiguous))
        .withColumn("all_landed", lit(nRows == expected))
        .orderBy(col("pk"))
    },

    // B178 query witness: named snapshot TAGS — `VERSION AS OF 'baseline'`
    // reads the tagged generation after later commits AND after an aggressive
    // VACUUM that reclaimed every other old generation (the tag is a durable
    // retention pin, not an alias). Both the current and the tagged snapshot
    // ride the hash gate; `tag_survived_vacuum` pins the retention behavior.
    "q_catalog_tag" -> { (s, d) =>
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
      // Seed memoized (clone = gen 0, the generation being tagged); tag,
      // appends, and the tag-respecting VACUUM are the timed ops.
      clonedSeed(s, d, "tagq_s", "tagq", 1L, "v1", Seq("orders")) { marker =>
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.tagq_s").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()
      }
      val root = Tables.scratchDir(s, "catalog", d)
      graft.sources.GraftCatalogOps.tag(s, root, "tagq", "baseline", 0L)
      base.filter(col("o_orderkey") % 2 === 1)
        .writeTo("graft.tagq").append()                              // gen 1
      base.limit(0).writeTo("graft.tagq").append()                   // gen 2
      graft.sources.GraftCatalogOps.vacuum(s, root, "tagq", keepGens = 1,
        leaseTtlMs = 0, uncommittedGraceMs = 0)
      val survived =
        try {
          s.sql("SELECT count(*) FROM graft.tagq VERSION AS OF 'baseline'")
            .collect()(0).getLong(0) > 0
        } catch { case _: Exception => false }
      s.sql(
        """SELECT 'cur' AS snap, CAST(pk AS BIGINT) AS pk, count(*) AS n,
          |  sum(cents) AS cents FROM graft.tagq GROUP BY pk
          |UNION ALL
          |SELECT 'tagged', CAST(pk AS BIGINT), count(*), sum(cents)
          |FROM graft.tagq VERSION AS OF 'baseline' GROUP BY pk""".stripMargin)
        .withColumn("tag_survived_vacuum", lit(survived))
        .orderBy(col("snap"), col("pk"))
    },

    // B179 query witness: METADATA TWIN TABLES — `t$partitions`, `t$files`,
    // and `t$history` are batch-queryable relations answered from manifests
    // on the driver (LocalTableScan, zero tasks, zero data IO at any table
    // size — the Iceberg metadata-table surface). Clustered writes make the
    // profile fully deterministic: one file per partition per commit, so
    // per-partition file counts, row totals, live-file count, and commit
    // count are all exact; the plan pin rides the hash gate.
    "q_catalog_meta" -> { (s, d) =>
      GraftCatalogSetup(s, d)
      fixture(s, d, "metaq", 2L, "v1", Seq("orders")) { marker =>
        val base = Tables.orders(s, d).select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
          pmod(col("o_orderkey"), lit(3)).cast("long").as("pk"))
        base.filter(col("o_orderkey") % 2 === 0)
          .writeTo("graft.metaq").partitionedBy(col("pk"))
          .tableProperty("fixture", marker).create()                 // gen 1
        base.filter(col("o_orderkey") % 2 === 1)
          .writeTo("graft.metaq").append()                           // gen 2
      }
      val q = s.sql(
        """SELECT p.partition, p.n_files, p.rows,
          |  (SELECT count(*) FROM graft.`metaq$history`) AS n_commits,
          |  (SELECT count(*) FROM graft.`metaq$files`) AS n_live_files
          |FROM graft.`metaq$partitions` p ORDER BY p.partition""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      q.withColumn("metadata_only",
        lit(plan.contains("LocalTableScan") && !plan.contains("BatchScan")))
    },

    // B149: chi-square test of independence (status × priority) — the
    // categorical complement to B85's t-test. Observed cell counts are one
    // hash aggregate; expected counts come from row/column marginals via two
    // tiny broadcast joins of the 15-cell contingency table with itself — the
    // fact is scanned ONCE. chi² sums 15 double terms; round(…,4) absorbs
    // order drift.
    "q_stats_chisq" -> { (s, d) =>
      val cells = Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("obs"))
      val rowTot = cells.groupBy(col("st")).agg(sum(col("obs")).as("rt"))
      val colTot = cells.groupBy(col("pr")).agg(sum(col("obs")).as("ct"))
      val grand = cells.agg(sum(col("obs")).as("n"))
      cells.join(broadcast(rowTot), "st").join(broadcast(colTot), "pr")
        .crossJoin(broadcast(grand))
        .withColumn("exp", col("rt") * col("ct") / col("n"))
        .withColumn("term", pow(col("obs") - col("exp"), 2) / col("exp"))
        .agg(
          first(col("n")).as("n"),
          ((countDistinct(col("st")) - 1) * (countDistinct(col("pr")) - 1)).as("dof"),
          r4(sum(col("term"))).as("chi2"))
        .select(col("n"), col("dof"), col("chi2"))
    },

    // B220: character-trigram entity resolution (the fuzzy-match complement
    // of B59's Jaro-Winkler): part names blocked by (brand, size) — the
    // standard composite blocking key, quadratic only WITHIN blocks — and
    // scored by trigram-set Jaccard in INTEGER basis points (set ops over
    // distinct char-3-grams; no float, no libm). Output is the top-50
    // match SHORTLIST (score desc, id tiebreaks) — the review-queue shape
    // an ER deployment emits, non-degenerate at every SF where a fixed
    // threshold either empties small corpora or floods large ones. At
    // 100 TB the block key keeps every bucket catalog-page sized; the
    // trigram arrays are built once per row, not per pair.
    "q_entity_trigram" -> { (s, d) =>
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          lower(col("p_name")).as("nm"))
        // Names SHORTER than 3 chars get an EMPTY trigram set (matching the
        // oracle's range(1, len-1)): sequence(1, 0) is Spark's DESCENDING
        // [1, 0] — the learnBpeMerges footgun — which would fabricate a
        // non-empty set and a fake 10000 bp Jaccard for short-name pairs.
        .withColumn("tri", expr(
          "CASE WHEN length(nm) >= 3 THEN array_distinct(transform(" +
            "sequence(1, length(nm) - 2), i -> substring(nm, i, 3))) " +
            "ELSE CAST(array() AS ARRAY<STRING>) END"))
        // Materialized ONCE (r16): the trigram frame feeds the posting-list
        // candidate pipeline AND both sides of the scoring join — the
        // per-name trigram transform otherwise runs three times (§2.4), on
        // the single scan partition the one-file part table pins.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Candidates via SHARED-TRIGRAM posting lists inside each (brand, size)
      // block (Dedup.erTrigramCandidates) instead of the all-pairs self-join:
      // the coarse key has FIXED cardinality (~25 brands × 50 sizes), so
      // blocks grow linearly with the catalog and all-pairs work grows
      // QUADRATICALLY — the classic ER blocking mistake. Posting lists are
      // df-capped (absolute bound ⇒ bounded pair work per bucket at any
      // scale); exact trigram-set duplicates get their own linear pass so the
      // 10000 bp top of the shortlist never depends on a rare trigram
      // existing. Candidates = exactly the positive-Jaccard pairs (+ exact
      // dups), so when they can't fill the top-50 (tiny-corpus regime, where
      // zero-score pairs enter the shortlist by id order) the query falls
      // back to the exact all-pairs block join — detected with one scalar
      // probe, semantics identical to the spec SQL at every SF.
      def score(pairs: org.apache.spark.sql.DataFrame) = pairs
        .join(p.select(col("p_partkey").as("id_a"), col("tri").as("tri_a")), "id_a")
        .join(p.select(col("p_partkey").as("id_b"), col("tri").as("tri_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("tri_a"), col("tri_b"))).cast("long") * 10000L /
            size(array_union(col("tri_a"), col("tri_b"))).cast("long"))
            .cast("long").as("tri_jacc_bp"))
      // Persisted: the scalar shortlist-fill probe and the scoring join read
      // the SAME candidate materialization instead of recomputing the
      // posting-list pipeline twice (candidate sets are pair-id rows — tiny
      // relative to the corpus at any SF).
      val cand = graft.operators.Dedup.erTrigramCandidates(
          p, Seq("p_brand", "p_size"), "p_partkey", "tri")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val enough = cand.count() >= 50
      val pairs =
        if (enough) score(cand)
        else p.as("a").join(p.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
              col("a.p_size") === col("b.p_size") &&
              col("a.p_partkey") < col("b.p_partkey"))
          .select(col("a.p_partkey").as("id_a"), col("b.p_partkey").as("id_b"),
            (size(array_intersect(col("a.tri"), col("b.tri"))).cast("long") * 10000L /
              size(array_union(col("a.tri"), col("b.tri"))).cast("long"))
              .cast("long").as("tri_jacc_bp"))
      // Top-50 is tiny: eagerly localCheckpoint it (stays in executor block
      // space — r15, the r14 verdict's suggested shape, replacing the old
      // collect + createDataFrame driver round-trip), then release the
      // candidate cache (a bare persist leaked blocks across invocations).
      // The work still runs inside this invocation.
      val limited = graft.operators.Iterate.materialize(pairs
        .orderBy(col("tri_jacc_bp").desc, col("id_a"), col("id_b")).limit(50))
      cand.unpersist()
      limited
    },

    // B221: equi-depth feature binning (the QuantileDiscretizer/feature-store
    // transform): every order is ASSIGNED its decile by global rank over
    // (cents, key) — computed with B138's globalRowNumber (range-partitioned
    // two-phase offsets, NO single-partition window sort), then
    // bin = (rank−1)·10 div N + 1. Integer-exact at any SF; per-bin count /
    // bounds / mass are one hash aggregate.
    "q_feature_bins" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      val n = o.count() // one scalar probe (cached table count, metadata-cheap)
      graft.operators.Relational
        .globalRowNumber(o, struct(col("cents"), col("o_orderkey")), 16, "rk")
        .withColumn("bin", expr(s"(rk - 1) * 10 div ${n}L + 1"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("lo"),
          max(col("cents")).as("hi"), sum(col("cents")).as("cents_sum"))
        .orderBy(col("bin"))
    },

    // B222: fixed-point z-score standardization (the feature-scaling
    // transform): per event_type moments from one integer aggregate
    // (deci-unit sums; the variance product is promoted to DECIMAL(38) so
    // the formula survives billion-row groups), then a deterministic sample
    // of rows standardized as z_bp = (x·n − s1)·10⁴ / ⌊√(n·s2 − s1²)⌋ —
    // sign split keeps Spark's truncating `div` and DuckDB's flooring `//`
    // identical on negatives; Long→DOUBLE→sqrt→floor is IEEE-pinned on both
    // engines.
    "q_feature_zscore" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * 10) AS BIGINT)").as("dv"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("dv")).as("s1"),
          sum(col("dv") * col("dv")).as("s2"))
        .withColumn("den", expr(
          "CAST(floor(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2 - " +
            "CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE))) AS BIGINT)"))
      ev.filter(col("event_id") % 499 === 0)
        .join(broadcast(stats), "event_type")
        .select(col("event_type"), col("event_id"),
          expr("CASE WHEN den = 0 THEN 0L ELSE " +
            "CAST(sign(dv * n - s1) AS BIGINT) * " +
            "(abs(dv * n - s1) * 10000 div den) END").as("z_bp"))
        .orderBy(col("event_type"), col("event_id"))
    }
  )

  /** B134's shared verbatim SQL — parses and runs identically on Spark and DuckDB. */
  val GroupAllText: String =
    """SELECT o_orderpriority AS prio, CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  /** Shared verbatim SQL for q_sql_window: top-3 orders per customer with a
    * running revenue sum — the same text parses and runs on Spark and DuckDB. */
  /** Welch's two-sample t-test of each priority's order totals against the
    * '3-MEDIUM' baseline, shared VERBATIM by Spark and DuckDB (one SQL text, two
    * engines — arithmetic order is identical by construction). All moments are
    * exact integer-cent DECIMAL sums; only the final t/df arithmetic is double.
    * Scale shape: one 5-row agg, broadcast-sized cross join with the baseline row. */
  private val SqlTtestText: String =
    """WITH g AS (
      |  SELECT o_orderpriority, count(*) AS n,
      |    sum(CAST(floor(o_totalprice * 100) AS DECIMAL(18,0))) AS s1,
      |    sum(CAST(floor(o_totalprice * 100) AS DECIMAL(18,0)) *
      |        CAST(floor(o_totalprice * 100) AS DECIMAL(18,0))) AS s2
      |  FROM orders GROUP BY o_orderpriority),
      |m AS (
      |  SELECT o_orderpriority, n,
      |    CAST(s1 AS DOUBLE) / n / 100.0 AS mean,
      |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
      |      / (n - 1) / 10000.0 AS var
      |  FROM g),
      |b AS (SELECT n AS n0, mean AS mean0, var AS var0 FROM m
      |      WHERE o_orderpriority = '3-MEDIUM')
      |SELECT o_orderpriority, n, round(mean, 2) AS mean,
      |  round((mean - mean0) / sqrt(var / n + var0 / n0), 4) AS t_welch,
      |  round((var / n + var0 / n0) * (var / n + var0 / n0) /
      |        ((var / n) * (var / n) / (n - 1) +
      |         (var0 / n0) * (var0 / n0) / (n0 - 1)), 1) AS df
      |FROM m CROSS JOIN b
      |WHERE o_orderpriority <> '3-MEDIUM'
      |ORDER BY o_orderpriority""".stripMargin

  /** Uncorrelated scalar subquery (the ScalarSubquery planner node): shared
    * verbatim by both engines. */
  private val SqlScalarSubqText: String =
    """SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 2) AS avg_sel
      |FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  private val SqlWindowText: String =
    """SELECT o_custkey, rn, o_orderkey, round(run_sum, 2) AS run_sum
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
      |    sum(o_totalprice) OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ROWS UNBOUNDED PRECEDING) AS run_sum
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sql_window" -> SqlWindowText,

    "q_regr_funcs" ->
      """SELECT l_returnflag,
        | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
        | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        | CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
        | round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x,
        | round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // The mode tie-break contract (smallest value among max-count) is re-derived
    // with an explicit (count DESC, value ASC) ranking rather than DuckDB's
    // mode() (whose tie order is unspecified) — the oracle verifies the contract.
    "q_agg_mode" ->
      """WITH pc AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y, o_orderpriority AS p,
        |    count(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |md AS (
        |  SELECT y, p, row_number() OVER (PARTITION BY y ORDER BY c DESC, p ASC) AS rn
        |  FROM pc),
        |g AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    round(median(o_totalprice), 4) AS median_price,
        |    string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS prio_set,
        |    CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
        |    count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT g.y, md.p AS top_priority, g.median_price, g.prio_set, g.n_big, g.n
        |FROM g JOIN md ON md.y = g.y AND md.rn = 1
        |ORDER BY g.y""".stripMargin,

    "q_gaps_islands" ->
      """WITH mo AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        |  FROM orders),
        |isl AS (
        |  SELECT o_custkey,
        |    m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        |  FROM mo),
        |st AS (SELECT o_custkey, grp, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT len, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  count(*) AS n_streaks
        |FROM st GROUP BY len ORDER BY len""".stripMargin,

    "q_sql_udf" ->
      """WITH big AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_totalprice >= 400000.0)
        |SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |  WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band,
        | count(*) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        | (SELECT CAST(sum(cents) AS BIGINT) FROM big) AS big_cents
        |FROM orders GROUP BY band ORDER BY band""".stripMargin,

    // The comparator-lambda sort is re-derived as an ordered string_agg —
    // same total order (count DESC, status ASC), no nested types at the boundary.
    "q_struct_funcs" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS st, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT flag,
        |  string_agg(st || ':' || n, '|' ORDER BY n DESC, st) AS ranked,
        |  CAST(count(*) AS BIGINT) AS n_status
        |FROM g GROUP BY flag ORDER BY flag""".stripMargin,

    "q_bitmap_distinct" ->
      """SELECT o_orderpriority AS prio,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd,
        | (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS nd_all
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // ECB determinism makes every output a pure function of the plaintext:
    // round-trip count = n, distinct ciphertexts = distinct plaintexts = n
    // (orderkey is unique), corrupt 8-byte slice always NULLs, and PKCS#7
    // length = 16 * (len/16 + 1).
    "q_aes_roundtrip" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        | count(*) AS n_roundtrip,
        | count(*) AS nd_ct,
        | count(*) AS n_corrupt_null,
        | CAST(max(16 * (length(o_orderpriority || ':' || o_orderkey) // 16 + 1))
        |   AS BIGINT) AS max_ct_len
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    "q_sql_script" ->
      """WITH t AS (SELECT unnest([0, 100000, 200000, 300000, 400000]) AS thr)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS bands,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     JOIN t ON o.o_totalprice >= t.thr) AS grand""".stripMargin,

    // The expected ledger is a constant by construction (see the query's
    // comment); the oracle pins it literally.
    "q_catalog_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (1, 3, 3, 0), (2, 4, 3, 0), (3, 0, 0, 0), (4, 1, 1, 0))
        |  AS t(gen, n_files, n_partitions, n_txns)
        |ORDER BY gen""".stripMargin,

    "q_catalog_delete" ->
      """WITH o AS (SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT 'cur' AS snap, pk, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM o WHERE pk <> 1 GROUP BY pk
        |UNION ALL
        |SELECT 'v1' AS snap, pk, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM o GROUP BY pk
        |ORDER BY snap, pk""".stripMargin,

    "q_sql_pipe" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        | CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_totalprice > 50000
        |GROUP BY o_orderpriority ORDER BY prio""".stripMargin,

    "q_writeto_v2" ->
      """WITH o AS (SELECT o_orderkey % 4 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT pk, count(*) AS n,
        |  CAST(sum(CASE WHEN pk = 1 THEN cents * 2 ELSE cents END) AS BIGINT)
        |    AS cents
        |FROM o GROUP BY pk ORDER BY pk""".stripMargin,

    "q_catalog_timetravel" ->
      """WITH o AS (SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT 'cur' AS snap, pk, count(*) AS n,
        |  CAST(sum(CASE WHEN pk = 1 THEN cents * 3 ELSE cents END) AS BIGINT)
        |    AS cents
        |FROM o GROUP BY pk
        |UNION ALL
        |SELECT 'v1' AS snap, pk, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM o GROUP BY pk
        |ORDER BY snap, pk""".stripMargin,

    // Brute-force cross product is fine at oracle SF; the engine side must make
    // the same pairs through the grid equi-join.
    "q_join_spatial" ->
      """WITH c AS (
        |  SELECT c_custkey * 131 % 3600 AS clat, c_custkey * 197 % 7200 AS clon
        |  FROM customer),
        |s AS (
        |  SELECT s_nationkey, s_suppkey * 131 % 3600 AS slat,
        |    s_suppkey * 197 % 7200 AS slon
        |  FROM supplier)
        |SELECT s_nationkey, count(*) AS n_pairs,
        |  CAST(min((clat-slat)*(clat-slat) + (clon-slon)*(clon-slon)) AS BIGINT)
        |    AS min_d2,
        |  CAST(sum((clat-slat)*(clat-slat) + (clon-slon)*(clon-slon)) AS BIGINT)
        |    AS sum_d2
        |FROM c, s
        |WHERE (clat-slat)*(clat-slat) + (clon-slon)*(clon-slon) <= 2500
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // The csv wire format for these columns is plain comma-join (no value
    // contains a delimiter/quote), so the oracle predicts the parsed-back
    // fields from the originals and the wire length from string lengths.
    "q_csv_funcs" ->
      """SELECT o_orderstatus AS st, count(*) AS n,
        | CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
        | CAST(max(length(CAST(o_orderkey AS VARCHAR)) + length(o_orderpriority)
        |   + length(o_orderstatus) + 2) AS BIGINT) AS max_len
        |FROM orders GROUP BY o_orderstatus ORDER BY st""".stripMargin,

    // NB: DuckDB floor() returns DECIMAL and `//` on non-integers is PLAIN division
    // (the BIGINT cast would then round-half-up the quotient) — cast to BIGINT
    // before dividing so `//` is true integer division.
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice * 100) AS BIGINT) // 5000000 AS bucket,
        | count(*) AS n,
        | round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_broadcast" ->
      """SELECT p_brand, count(*) AS n,
        | round(sum(l_extendedprice),2) AS sum_ext,
        | round(avg(p_retailprice),4) AS avg_retail
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_left" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        | CAST(count(l_orderkey) AS BIGINT) AS n_matched,
        | CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | round(sum(coalesce(l_extendedprice, 0.0)), 2) AS sum_price
        |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_returnflag = 'R') l
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_join_full" ->
      """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
        |  FROM customer WHERE c_acctbal < -650 GROUP BY 1),
        |s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
        |  FROM supplier WHERE s_acctbal < 1000 GROUP BY 1)
        |SELECT coalesce(c.nk, s.nk) AS nk,
        | CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        | CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp,
        | n_cust IS NULL AS cust_missing, n_supp IS NULL AS supp_missing
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk
        |ORDER BY nk""".stripMargin,

    "q_sql_tpch3" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate  > DATE '1997-01-01'
        |GROUP BY l_orderkey, order_date, o_orderpriority
        |ORDER BY revenue DESC, order_date, l_orderkey
        |LIMIT 10""".stripMargin,

    "q_sql_exists" ->
      """SELECT c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_range" ->
      """SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n, round(sum(o_totalprice),2) AS sum_price
        |FROM orders JOIN (VALUES (0,0.0,100000.0),(1,100000.0,200000.0),
        |  (2,200000.0,300000.0),(3,300000.0,400000.0),(4,400000.0,1000000.0))
        |  AS bands(band_id, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    "q_join_bins" ->
      """SELECT s_suppkey, count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal
        |FROM supplier JOIN customer
        |  ON c_acctbal >= s_acctbal - 500 AND c_acctbal < s_acctbal + 500
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,

    "q_agg_rollup" ->
      """SELECT coalesce(r_name,'ALL') AS r_name, coalesce(n_name,'ALL') AS n_name,
        | n_cust, sum_bal, g_r, g_n FROM (
        |  SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal),2) AS sum_bal,
        |   CAST(grouping(r_name) AS BIGINT) AS g_r, CAST(grouping(n_name) AS BIGINT) AS g_n
        |  FROM customer
        |   JOIN nation ON c_nationkey = n_nationkey
        |   JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY ROLLUP(r_name, n_name))
        |ORDER BY g_r, g_n, r_name, n_name""".stripMargin,

    "q_agg_cube" ->
      """SELECT coalesce(l_returnflag,'ALL') AS l_returnflag,
        | coalesce(l_linestatus,'ALL') AS l_linestatus, n, sum_qty, g_f, g_s FROM (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS sum_qty,
        |   CAST(grouping(l_returnflag) AS BIGINT) AS g_f, CAST(grouping(l_linestatus) AS BIGINT) AS g_s
        |  FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus))
        |ORDER BY g_f, g_s, l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n,
        | round(sum(o_totalprice),2) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_window_rank" ->
      """SELECT p_brand, rnk, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |   CAST(row_number() OVER (PARTITION BY p_brand
        |     ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk
        |  FROM part)
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin,

    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | CAST(date_diff('day',
        |   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_sum,
        | round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),4) AS mavg3
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_ntile" ->
      """SELECT o_orderpriority, o_orderkey,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | round(percent_rank() OVER w, 4) AS prank,
        | round(cume_dist() OVER w, 4) AS cdist,
        | first_value(o_orderkey) OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_key
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
        | coalesce(o_orderstatus, 'ALL') AS st,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY pri, st""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey,
        | CAST(levenshtein(p_name, p_type) AS BIGINT) AS edit_dist,
        | lpad(p_brand, 12, '_') AS brand_pad,
        | translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
        | reverse(p_brand) AS brand_rev,
        | split_part(p_type, ' ', 1) AS type_head
        |FROM part WHERE p_partkey < 2000 ORDER BY p_partkey""".stripMargin,

    "q_array_funcs" ->
      """SELECT l_orderkey,
        | CAST(len(qtys) AS BIGINT) AS n,
        | list_max(qtys) AS q_max,
        | list_min(qtys) AS q_min,
        | qtys[1] AS q_smallest,
        | CAST(list_position(qtys, list_max(qtys)) AS BIGINT) AS pos_max,
        | list_contains(qtys, 1.0) AS has_one
        |FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qtys
        |      FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,

    "q_approx_sketch" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_exact,
        | count(*) AS n, TRUE AS nd_within_bound, TRUE AS p50_within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_set_union" ->
      """SELECT custkey FROM (
        | SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        | UNION
        | SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000)
        |ORDER BY custkey""".stripMargin,

    "q_set_intersect" ->
      """SELECT custkey FROM (
        | SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | INTERSECT
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY custkey""".stripMargin,

    "q_set_except" ->
      """SELECT custkey FROM (
        | SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | EXCEPT
        | SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000)
        |ORDER BY custkey""".stripMargin,

    "q_set_except_all" ->
      """SELECT custkey, count(*) AS n FROM (
        | SELECT o_custkey AS custkey FROM orders
        | EXCEPT ALL
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY custkey ORDER BY custkey""".stripMargin,

    "q_set_intersect_all" ->
      """SELECT custkey, count(*) AS n FROM (
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        | INTERSECT ALL
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY custkey ORDER BY custkey""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT p_partkey, upper(substr(p_name,1,5)) AS name5,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | regexp_replace(p_type, ' ', '_', 'g') AS type_u,
        | round(ln(p_retailprice + 1),4) AS log_price,
        | CAST(abs(p_size - 25) AS BIGINT) AS size_dev,
        | concat_ws('|', p_brand, p_type) AS bt,
        | CAST(p_partkey % 7 AS BIGINT) AS k7
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_xml_funcs" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
        | n_name AS x_name,
        | CAST(n_nationkey AS BIGINT) AS p_key,
        | CAST(n_regionkey AS BIGINT) AS p_region,
        | CAST(3 AS BIGINT) AS n_parts
        |FROM nation ORDER BY nationkey""".stripMargin,

    "q_map_funcs" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | l_quantity AS qty, l_extendedprice AS price,
        | CAST(2 AS BIGINT) AS m_size, 'qty,price' AS m_keys, true AS has_qty
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_map_hof" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | l_quantity * 2 AS qty_x2,
        | 'PRICE,QTY' AS keys_upper,
        | CAST((CASE WHEN l_quantity > 10 THEN 1 ELSE 0 END)
        |     + (CASE WHEN l_extendedprice > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt10
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_window_nth" ->
      """SELECT o_orderpriority, o_orderkey,
        | nth_value(o_orderkey, 2) OVER w AS second_cheapest,
        | lead(o_orderkey, 1, -1) OVER w AS next_key
        |FROM orders WHERE o_orderkey < 2000
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT p_partkey,
        | CAST(strpos(p_name, 'widget') AS BIGINT) AS pos_widget,
        | CAST(sign(p_size - 25) AS BIGINT) AS sgn,
        | CAST(floor(p_retailprice / 100) AS BIGINT) AS fl,
        | CAST(ceil(p_retailprice / 100) AS BIGINT) AS cl,
        | round(exp(p_size / 25.0), 4) AS ex,
        | CAST(pow(2, p_size % 10) AS BIGINT) AS pw,
        | round(sqrt(p_retailprice), 4) AS sq,
        | CAST(greatest(p_size, 10) AS BIGINT) AS gr,
        | CAST(least(p_size, 40) AS BIGINT) AS le,
        | CAST((p_size * -1) % 5 AS BIGINT) AS neg_mod
        |FROM part WHERE p_partkey < 2000 ORDER BY p_partkey""".stripMargin,

    "q_bit_aggs" ->
      """SELECT p_brand,
        | CAST(bit_and(p_size) AS BIGINT) AS b_and,
        | CAST(bit_or(p_size) AS BIGINT) AS b_or,
        | CAST(bit_xor(p_size) AS BIGINT) AS b_xor,
        | count(*) AS n
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(quarter(o_orderdate) AS BIGINT) AS q,
        | CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
        | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |   AS days_since_epoch_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_percentile" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5),4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9),4) AS p90,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_stats_agg" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_extendedprice),4) AS sd_price,
        | round(corr(l_quantity, l_extendedprice),6) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_discount),4) AS covar_qty_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        | count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
        | count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
        | count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
        | count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS notspec,
        | count(*) FILTER (o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY 1 ORDER BY y""".stripMargin,

    "q_unpivot" ->
      """SELECT l_returnflag, measure, round(sum(value),2) AS sum_value, count(*) AS n
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |GROUP BY l_returnflag, measure ORDER BY l_returnflag, measure""".stripMargin,

    "q_udaf_weighted" ->
      """SELECT l_returnflag,
        | round(sum(l_extendedprice * l_quantity) / sum(l_quantity),4) AS wmean_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_null_semantics" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |   nullif(CAST(floor(l_discount * 100) AS BIGINT), 0) AS disc_c,
        |   nullif(CAST(floor(l_tax * 100) AS BIGINT), 0) AS tax_c
        |  FROM lineitem)
        |SELECT l_returnflag,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(disc_c) AS BIGINT) AS n_disc,
        | CAST(sum(CASE WHEN disc_c IS NOT DISTINCT FROM tax_c THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
        | CAST(sum(CASE WHEN disc_c = tax_c THEN 1 ELSE 0 END) AS BIGINT) AS n_plain_eq,
        | CAST(sum(CASE WHEN disc_c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nvl2,
        | CAST(sum(coalesce(disc_c + tax_c, -1)) AS BIGINT) AS sum_null_arith
        |FROM li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_range" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |   CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_custkey, cents,
        | CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY cents
        |   RANGE BETWEEN 500000 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_sum,
        | CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY cents
        |   RANGE BETWEEN 500000 PRECEDING AND CURRENT ROW) AS BIGINT) AS near_n
        |FROM o ORDER BY o_custkey, cents, o_orderkey""".stripMargin,

    "q_window_pctrank" ->
      """WITH r AS (
        |  SELECT c_mktsegment, c_custkey,
        |   row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
        |   count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer)
        |SELECT c_mktsegment, c_custkey, CAST(rn AS BIGINT) AS rn,
        | CAST(CASE WHEN n = 1 THEN 10000 ELSE ((rn - 1) * 10000) // (n - 1) END AS BIGINT) AS pctrank_bp,
        | CAST((rn * 10000) // n AS BIGINT) AS cumedist_bp
        |FROM r ORDER BY c_mktsegment, rn""".stripMargin,

    "q_histogram_eqdepth" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT
        |  quantile_cont(cents, 0.125) AS b1, quantile_cont(cents, 0.25) AS b2,
        |  quantile_cont(cents, 0.375) AS b3, quantile_cont(cents, 0.5) AS b4,
        |  quantile_cont(cents, 0.625) AS b5, quantile_cont(cents, 0.75) AS b6,
        |  quantile_cont(cents, 0.875) AS b7 FROM c),
        |a AS (SELECT cents,
        |  1 + (CASE WHEN cents > b1 THEN 1 ELSE 0 END) + (CASE WHEN cents > b2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b3 THEN 1 ELSE 0 END) + (CASE WHEN cents > b4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b5 THEN 1 ELSE 0 END) + (CASE WHEN cents > b6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN cents > b7 THEN 1 ELSE 0 END) AS bucket
        |  FROM c CROSS JOIN b)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        | CAST(min(cents) AS BIGINT) AS min_cents, CAST(max(cents) AS BIGINT) AS max_cents
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_nd,
        | TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_table_stats" ->
      """WITH t AS (SELECT l_orderkey, l_partkey, l_linenumber, l_returnflag,
        |  l_linestatus, CAST(l_shipdate AS DATE) AS l_ship_day FROM lineitem),
        |s AS (
        | SELECT 'l_orderkey' AS col_name, count(*) AS n_rows, count(l_orderkey) AS n_nonnull,
        |  count(DISTINCT l_orderkey) AS ndv, CAST(min(l_orderkey) AS VARCHAR) AS min_val,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_val FROM t
        | UNION ALL SELECT 'l_partkey', count(*), count(l_partkey), count(DISTINCT l_partkey),
        |  CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR) FROM t
        | UNION ALL SELECT 'l_linenumber', count(*), count(l_linenumber), count(DISTINCT l_linenumber),
        |  CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR) FROM t
        | UNION ALL SELECT 'l_returnflag', count(*), count(l_returnflag), count(DISTINCT l_returnflag),
        |  min(l_returnflag), max(l_returnflag) FROM t
        | UNION ALL SELECT 'l_linestatus', count(*), count(l_linestatus), count(DISTINCT l_linestatus),
        |  min(l_linestatus), max(l_linestatus) FROM t
        | UNION ALL SELECT 'l_ship_day', count(*), count(l_ship_day), count(DISTINCT l_ship_day),
        |  CAST(min(l_ship_day) AS VARCHAR), CAST(max(l_ship_day) AS VARCHAR) FROM t)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_nonnull AS BIGINT) AS n_nonnull,
        | CAST(ndv AS BIGINT) AS ndv, min_val, max_val
        |FROM s ORDER BY col_name""".stripMargin,

    "q_agg_decimal" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_price_cents,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |   * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS sum_disc_e4,
        | CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS max_price_cents,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_entity_jaro" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT substr(p_name,1,1) AS blk, p_name FROM n),
        |p AS (SELECT a.p_name AS name_a, b2.p_name AS name_b
        |      FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name)
        |SELECT name_a, name_b,
        | CAST(floor(jaro_winkler_similarity(name_a, name_b) * 10000) AS BIGINT) AS jw_bp
        |FROM p WHERE floor(jaro_winkler_similarity(name_a, name_b) * 10000) >= 8500
        |ORDER BY name_a, name_b""".stripMargin,

    "q_layout_zorder" ->
      """WITH b AS (
        |  SELECT o_custkey AS ck, date_diff('day', DATE '1970-01-01', o_orderdate) AS day,
        |   o_custkey & 65535 AS x,
        |   date_diff('day', DATE '1970-01-01', o_orderdate) & 65535 AS y
        |  FROM orders),
        |s1 AS (SELECT ck, day, (x | (x << 8)) & 16711935 AS x, (y | (y << 8)) & 16711935 AS y FROM b),
        |s2 AS (SELECT ck, day, (x | (x << 4)) & 252645135 AS x, (y | (y << 4)) & 252645135 AS y FROM s1),
        |s3 AS (SELECT ck, day, (x | (x << 2)) & 858993459 AS x, (y | (y << 2)) & 858993459 AS y FROM s2),
        |s4 AS (SELECT ck, day, (x | (x << 1)) & 1431655765 AS x, (y | (y << 1)) & 1431655765 AS y FROM s3),
        |z AS (SELECT ck, day, (x | (y << 1)) AS zkey FROM s4)
        |SELECT zkey >> 16 AS z_bucket, CAST(count(*) AS BIGINT) AS n,
        | CAST(min(ck) AS BIGINT) AS min_ck, CAST(max(ck) AS BIGINT) AS max_ck,
        | CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
        |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,

    "q_sql_tpch5" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_skyline" ->
      """SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS BIGINT) AS p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY a.p_retailprice, a.p_partkey""".stripMargin,

    "q_anomaly_mad" ->
      """WITH o AS (
        |  SELECT o_orderpriority, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |med AS (
        |  SELECT o_orderpriority, median(cents) AS med_cents
        |  FROM o GROUP BY o_orderpriority),
        |dev AS (
        |  SELECT o.o_orderpriority, o.cents, m.med_cents,
        |    abs(o.cents - m.med_cents) AS adev
        |  FROM o JOIN med m USING (o_orderpriority)),
        |mad AS (
        |  SELECT o_orderpriority, median(adev) AS mad_cents
        |  FROM dev GROUP BY o_orderpriority)
        |SELECT d.o_orderpriority, count(*) AS n,
        |  any_value(d.med_cents) AS med_cents,
        |  any_value(m.mad_cents) AS mad_cents,
        |  CAST(sum(CASE WHEN d.adev > 3 * m.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev d JOIN mad m USING (o_orderpriority)
        |GROUP BY d.o_orderpriority
        |ORDER BY d.o_orderpriority""".stripMargin,

    "q_format_roundtrip" ->
      """SELECT f.fmt, s.n, s.key_sum, s.price_cents, s.qty_cents, s.n_flags
        |FROM (SELECT count(*) AS n,
        |        CAST(sum(l_orderkey * l_linenumber) AS BIGINT) AS key_sum,
        |        CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |        CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |        CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
        |      FROM lineitem WHERE l_orderkey % 10 = 0) s
        |CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) AS f(fmt)
        |ORDER BY f.fmt""".stripMargin,

    "q_source_xml" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(l_orderkey * l_linenumber) AS BIGINT) AS key_sum,
        | CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |   AS price_cents_sum
        |FROM lineitem WHERE l_orderkey % 10 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_sql_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c_custkey % 50 = 0
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "q_agg_argmax" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) * 100000000000 + o_orderkey
        |      AS ord,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderpriority,
        |  arg_max(o_orderkey, ord) AS top_orderkey,
        |  arg_max(cents, ord) AS top_cents,
        |  arg_min(o_orderkey, ord) AS bottom_orderkey,
        |  CAST(max(cents) AS BIGINT) AS max_cents
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_share" ->
      """WITH nat AS (
        |  SELECT s_nationkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY s_nationkey)
        |SELECT CAST(n_regionkey AS BIGINT) AS regionkey, n_name, cents,
        |  CAST(CAST(cents AS HUGEINT) * 10000 // sum(cents) OVER (PARTITION BY n_regionkey)
        |    AS BIGINT) AS share_bp
        |FROM nat JOIN nation ON n_nationkey = s_nationkey
        |ORDER BY regionkey, n_name""".stripMargin,

    "q_sql_pivot" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_c,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low_n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS low_c
        |FROM orders GROUP BY yr ORDER BY yr""".stripMargin,

    "q_sql_unpivot" ->
      """WITH a AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS urgent,
        |    CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS low
        |  FROM orders GROUP BY 1)
        |SELECT yr, 'urgent' AS metric, urgent AS val FROM a
        |UNION ALL SELECT yr, 'low', low FROM a
        |ORDER BY yr, metric""".stripMargin,

    // Same prefix-sum-minus-running-min formulation; `div` -> `//`.
    "q_anomaly_cusum" ->
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |k AS (
        |  SELECT o_orderpriority, CAST(sum(cents) // count(*) AS BIGINT) AS k
        |  FROM daily GROUP BY 1),
        |p AS (
        |  SELECT d.o_orderpriority, d.day, d.cents, k.k,
        |    sum(d.cents - k.k) OVER (PARTITION BY d.o_orderpriority ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM daily d JOIN k USING (o_orderpriority)),
        |c AS (
        |  SELECT o_orderpriority, day, cents, k,
        |    CAST(p - least(0, min(p) OVER (PARTITION BY o_orderpriority ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) AS cusum
        |  FROM p)
        |SELECT o_orderpriority, day, cents, cusum, cusum > k AS drift_flag
        |FROM c ORDER BY o_orderpriority, day""".stripMargin,

    // quantile_cont over the same frame; 2×median keeps half-cent
    // interpolation integer-exact (see the Spark side).
    "q_window_median" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(2 * quantile_cont(CAST(floor(o_totalprice * 100) AS BIGINT), 0.5)
        |    OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS med7_halfcents
        |FROM orders
        |QUALIFY o_orderkey % 20 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q_agg_filter" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  count(*) FILTER (WHERE o_totalprice <= 200000) AS n_small,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
        |    AS BIGINT) AS cents_97plus
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Same recursion, DuckDB dialect: `div` -> `//`; everything else verbatim.
    "q_sql_recursive" ->
      """WITH RECURSIVE
        |tree AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |         CASE WHEN n_nationkey = 0 THEN CAST(NULL AS BIGINT)
        |              ELSE CAST((n_nationkey - 1) // 2 AS BIGINT) END AS parent
        |  FROM nation),
        |walk(k, depth, path) AS (
        |  SELECT k, 0, CAST(k AS STRING) FROM tree WHERE parent IS NULL
        |  UNION ALL
        |  SELECT t.k, w.depth + 1, concat(w.path, '>', CAST(t.k AS STRING))
        |  FROM tree t JOIN walk w ON t.parent = w.k),
        |closure(anc, node) AS (
        |  SELECT k, k FROM tree
        |  UNION ALL
        |  SELECT c.anc, t.k FROM tree t JOIN closure c ON t.parent = c.node),
        |cust AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS k, count(*) AS n_cust
        |  FROM customer GROUP BY c_nationkey)
        |SELECT w.k AS nationkey, CAST(w.depth AS BIGINT) AS depth, w.path,
        |       count(*) AS n_desc,
        |       CAST(sum(coalesce(cu.n_cust, 0)) AS BIGINT) AS subtree_cust
        |FROM walk w JOIN closure c ON c.anc = w.k
        |LEFT JOIN cust cu ON cu.k = c.node
        |GROUP BY w.k, w.depth, w.path
        |ORDER BY nationkey""".stripMargin,

    "q_sql_tpch18" ->
      """SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  round(o_totalprice, 2) AS price, round(sum_qty, 2) AS sum_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY price DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_stats_ttest" -> SqlTtestText,

    "q_sql_scalar_subq" -> SqlScalarSubqText,

    "q_bootstrap_ci" ->
      """WITH reps AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    unnest(range(0, 40)) AS b
        |  FROM orders),
        |weighted AS (
        |  SELECT o_orderpriority, b, cents,
        |    CASE WHEN u < 0.3678794412 THEN 0 WHEN u < 0.7357588823 THEN 1
        |         WHEN u < 0.9196986029 THEN 2 WHEN u < 0.9810118431 THEN 3
        |         WHEN u < 0.9963401532 THEN 4 WHEN u < 0.9994058152 THEN 5
        |         WHEN u < 0.9999167589 THEN 6 ELSE 7 END AS w
        |  FROM (SELECT *,
        |    (CAST(concat('0x', substr(md5('boot:' || o_orderkey || ':' || b), 1, 15))
        |       AS BIGINT) % 1000000) / 1000000.0 AS u
        |    FROM reps)),
        |means AS (
        |  SELECT o_orderpriority, b,
        |    CAST(sum(w * cents) AS DOUBLE) /
        |      (CAST(sum(w) AS DOUBLE) * 100.0) AS mean_b
        |  FROM weighted GROUP BY o_orderpriority, b)
        |SELECT o_orderpriority, count(*) AS n_reps,
        |  round(quantile_cont(mean_b, 0.025), 2) AS ci_lo,
        |  round(quantile_cont(mean_b, 0.975), 2) AS ci_hi
        |FROM means GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Relational twin of the cogroup: join + agg for the counts/sums, and a
    // SEPARATE lag-window pass over orders for the max inter-order gap (the two
    // shuffles the cogroup collapses into one). LEFT joins suffice: orphan orders
    // do not exist in the generated data (checked at all three SFs).
    "q_cogroup_recon" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
        |  FROM orders),
        |agg AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM o GROUP BY o_custkey),
        |gaps AS (
        |  SELECT o_custkey,
        |    day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day) AS gap
        |  FROM o),
        |mg AS (
        |  SELECT o_custkey, max(gap) AS max_gap FROM gaps GROUP BY o_custkey)
        |SELECT c.c_custkey AS custkey, c.c_name AS name,
        |  CAST(coalesce(a.n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(a.total_cents, 0) AS BIGINT) AS total_cents,
        |  CAST(coalesce(mg.max_gap, 0) AS BIGINT) AS max_gap_days
        |FROM customer c
        |LEFT JOIN agg a ON a.o_custkey = c.c_custkey
        |LEFT JOIN mg ON mg.o_custkey = c.c_custkey
        |ORDER BY custkey""".stripMargin,

    // Predicts the managed table's final state from orders alone: %3=0 rows
    // carry the declared default (cents 0, src backfilled 'legacy'), %3=1
    // explicit cents + backfilled src, %3=2 explicit everything. TPC-H prices
    // are >900 so an explicit floor(price*100)=0 can never alias the default.
    "q_sql_ddl_default" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS m FROM orders)
        |SELECT CASE WHEN m = 2 THEN 'new' ELSE 'legacy' END AS src, prio,
        |  count(*) AS n,
        |  CAST(sum(CASE WHEN m = 0 THEN 0 ELSE cents END) AS BIGINT) AS cents,
        |  CAST(count(CASE WHEN m = 0 THEN 1 END) AS BIGINT) AS n_defaulted
        |FROM o GROUP BY 1, 2 ORDER BY src, prio""".stripMargin,

    // The prepared statement with its derived parameter inlined as a scalar
    // subquery — same integer-cents threshold arithmetic (exact through the
    // documented SF bound).
    "q_sql_exec_immediate" ->
      """WITH o AS (SELECT o_orderpriority,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |thr AS (SELECT CAST(floor(avg(cents)) AS BIGINT) AS floor_cents FROM o)
        |SELECT o_orderpriority, count(*) AS n_above,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM o, thr WHERE o.cents > thr.floor_cents
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Predicts the post-backfill table from parquet alone: partitions 1 and 3
    // were dynamically overwritten with doubled cents, the rest kept original
    // rows — so a wiped untouched partition (static-overwrite bug) or a
    // double-applied restatement breaks count or sum.
    "q_write_dpo" ->
      """SELECT CAST(o_orderkey % 5 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 5 IN (1, 3)
        |    THEN 2 * CAST(floor(o_totalprice * 100) AS BIGINT)
        |    ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B134: the SAME text Spark ran — GROUP BY ALL / ORDER BY ALL are shared
    // Spark 4 / DuckDB dialect.
    "q_sql_groupall" -> GroupAllText,

    // B135: the IDENTIFIER/parameter query with every dynamic name resolved.
    "q_sql_identifier" ->
      """SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_totalprice > 50000
        |GROUP BY o_orderpriority ORDER BY grp""".stripMargin,

    // B136: DuckDB's range() table function is end-exclusive like Spark's.
    "q_sql_tvf" ->
      """SELECT t.y, CAST(count(o.o_orderkey) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) AS cents
        |FROM range(1994, 2003) t(y)
        |LEFT JOIN orders o ON year(o.o_orderdate) = t.y
        |GROUP BY t.y ORDER BY y""".stripMargin,

    // B137: stack → UNION ALL; posexplode(sequence) → lateral generate_series
    // with position reconstructed as value − start; LATERAL VIEW OUTER over an
    // empty array → one literal NULL row per parent.
    "q_generators" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT p, 'stack' AS fam, 'n' AS k, n AS v FROM base
        |UNION ALL
        |SELECT p, 'stack' AS fam, 'cents' AS k, cents AS v FROM base
        |UNION ALL
        |SELECT p, 'seq' AS fam, CAST(v - start AS VARCHAR) AS k, CAST(v AS BIGINT) AS v
        |FROM (SELECT p, n % 3 + 1 AS start,
        |        unnest(generate_series(n % 3 + 1, n % 3 + 3)) AS v
        |      FROM base)
        |UNION ALL
        |SELECT p, 'outer' AS fam, CAST(NULL AS VARCHAR) AS k, CAST(NULL AS BIGINT) AS v
        |FROM base
        |ORDER BY p, fam, k, v""".stripMargin,

    // B138: the single-partition window IS the oracle's job (DuckDB local);
    // the engine side must produce the identical ranks distributively.
    "q_surrogate_keys" ->
      """SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS sk
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // B139: same deterministic snapshot derivation + full-outer diff.
    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |surv AS (SELECT * FROM old WHERE k % 13 <> 0),
        |newsnap AS (
        |  SELECT k, st, CASE WHEN k % 7 = 0 THEN cents + 100000 ELSE cents END AS cents
        |  FROM surv
        |  UNION ALL
        |  SELECT k + 1000000000, st, cents + 1 FROM surv WHERE k % 17 = 0),
        |j AS (
        |  SELECT a.cents AS ac, b.cents AS bc,
        |    CASE WHEN a.k IS NULL THEN 'insert'
        |         WHEN b.k IS NULL THEN 'delete'
        |         WHEN md5(a.st || '|' || CAST(a.cents AS VARCHAR))
        |           <> md5(b.st || '|' || CAST(b.cents AS VARCHAR)) THEN 'update'
        |         ELSE 'unchanged' END AS change
        |  FROM old a FULL OUTER JOIN newsnap b ON a.k = b.k)
        |SELECT change, count(*) AS n,
        |  CAST(sum(coalesce(ac, 0)) AS BIGINT) AS cents_before,
        |  CAST(sum(coalesce(bc, 0)) AS BIGINT) AS cents_after
        |FROM j GROUP BY change ORDER BY change""".stripMargin,

    // B141: exact interpolated percentiles (quantile_cont ≡ Spark percentile);
    // the rank-audit booleans are pinned TRUE — Greenwald-Khanna's error bound
    // is a deterministic worst-case guarantee, not a probabilistic one.
    "q_approx_quantiles" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(value, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(value, 0.9), 4) AS p90_exact,
        |  true AS ok50, true AS ok90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // B146: each expectation as its own scalar SQL — the one-pass engine-side
    // battery must agree constraint by constraint.
    "q_dq_expectations" ->
      """WITH checks AS (
        |  SELECT 'not_null:o_custkey' AS check_name,
        |    CAST(count_if(o_custkey IS NULL) AS BIGINT) AS violations FROM orders
        |  UNION ALL
        |  SELECT 'unique:o_orderkey',
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values:o_orderstatus',
        |    CAST(count_if(o_orderstatus NOT IN ('O','F','P')) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'range:o_totalprice_positive',
        |    CAST(count_if(o_totalprice <= 0) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'ri:o_custkey->customer',
        |    CAST((SELECT count(*) FROM orders o
        |          WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey)) AS BIGINT))
        |SELECT check_name, violations, violations = 0 AS ok
        |FROM checks ORDER BY check_name""".stripMargin,

    // B155: the same UPDATE → DELETE → MERGE replayed relationally.
    "q_catalog_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders),
        |upd AS (SELECT k, CASE WHEN k % 5 = 0 THEN cents + 7 ELSE cents END AS cents, pk
        |        FROM base),
        |del AS (SELECT * FROM upd WHERE cents % 11 <> 3),
        |src AS (SELECT o_orderkey AS k,
        |          CAST(floor(o_totalprice * 100) AS BIGINT) + 100000 AS cents,
        |          (o_orderkey + 1) % 3 AS pk
        |        FROM orders WHERE o_orderkey % 4 = 0),
        |merged AS (
        |  SELECT d.k, coalesce(s.cents, d.cents) AS cents, d.pk
        |  FROM del d LEFT JOIN src s ON s.k = d.k
        |  UNION ALL
        |  SELECT s.k, s.cents, s.pk FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.k = s.k))
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM merged GROUP BY 1 ORDER BY pk""".stripMargin,

    // B160: DELETE → UPDATE → MERGE replayed relationally; the structural
    // booleans (no file rewritten, DVs present) are pinned true — the engine
    // computes them from the manifests and a false value hash-fails.
    "q_catalog_dv" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders),
        |d1 AS (SELECT * FROM base WHERE k % 7 <> 3),
        |u1 AS (SELECT k, CASE WHEN k % 13 = 0 THEN cents + 11 ELSE cents END AS cents, pk
        |       FROM d1),
        |src AS (SELECT o_orderkey AS k,
        |          CAST(floor(o_totalprice * 100) AS BIGINT) + 200000 AS cents,
        |          o_orderkey % 3 AS pk
        |        FROM orders WHERE o_orderkey % 4 = 0),
        |merged AS (
        |  SELECT u.k, coalesce(s.cents, u.cents) AS cents, u.pk
        |  FROM u1 u LEFT JOIN src s ON s.k = u.k
        |  UNION ALL
        |  SELECT s.k, s.cents, s.pk FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM u1 u WHERE u.k = s.k))
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS no_rewrite, true AS has_dvs
        |FROM merged GROUP BY 1 ORDER BY pk""".stripMargin,

    // B161: OPTIMIZE losslessness — live data equals orders minus the DV
    // deletes; compaction/dv-reclaim outcomes pinned true.
    "q_catalog_optimize" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS compacted, true AS dvs_cleared
        |FROM base WHERE k % 9 <> 5 GROUP BY 1 ORDER BY pk""".stripMargin,

    // B182: live data after the targeted pass = orders minus both delete
    // sets (content untouched by the rewrite); both targeting booleans pin
    // true — pk=0's 50%-deleted file compacted, pk=1's 1%-deleted survived.
    "q_catalog_optimize_dv" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS targeted, true AS heavy_cleared
        |FROM base
        |WHERE NOT (pk = 0 AND k % 2 = 0) AND NOT (pk = 1 AND k % 97 = 0)
        |GROUP BY 1 ORDER BY pk""".stripMargin,

    // B183: the within-partition z-order rewrite is lossless — the aggregate
    // is the plain per-pk profile — and the structural outcomes are pinned:
    // tiling happened and both single-axis probes prune.
    "q_catalog_zorder_part" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS tiled, true AS skip_x, true AS skip_y
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B150: the oracle reproduces band 1 from parquet alone and pins the
    // skip count: 4 single-file commits, 3 provably outside the predicate.
    "q_catalog_skipping" ->
      """WITH mk AS (SELECT max(o_orderkey) AS mx FROM orders),
        |b AS (SELECT mx // 4 + 1 AS bw FROM mk)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(4 AS BIGINT) AS files_total, CAST(3 AS BIGINT) AS files_skipped
        |FROM orders, b
        |WHERE o_orderkey >= b.bw AND o_orderkey < 2 * b.bw""".stripMargin,

    // B211: content is plain orders; both per-column bloom-skipping pins are
    // predicted true (deterministic md5 probes over ≥ dozens of candidates).
    "q_catalog_bloom_multi" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS skip_s, true AS skip_u
        |FROM orders WHERE o_orderkey <= 600 GROUP BY 1 ORDER BY pk""".stripMargin,

    // B208: a scoped compaction never changes content — plain orders, with
    // the file-surgery pin predicted true.
    "q_catalog_optimize_where" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS scoped_ok
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B200: three exactly-once loads reassemble plain orders; the
    // idempotence and delta pins are predicted true.
    "q_catalog_copyinto" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS rerun_ok, true AS delta_ok
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B199: even keys predate the column (existence default 7), odd keys
    // carry their explicit o_orderkey % 100; the metadata pin rides the gate.
    "q_catalog_default" ->
      """WITH rows_ AS (
        |  SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 7 ELSE o_orderkey % 100 END AS bonus
        |  FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  count(CASE WHEN bonus = 7 THEN 1 END) AS n_default,
        |  CAST(sum(cents) AS BIGINT) AS cents, CAST(sum(bonus) AS BIGINT) AS bonus,
        |  true AS no_rewrite
        |FROM rows_ GROUP BY 1 ORDER BY pk""".stripMargin,

    // B198: the view equals the full recompute of the source's final state
    // (deletes removed, surviving %11 keys updated +5); the refresh-range
    // and idempotence pins are predicted true.
    "q_catalog_mview" ->
      """WITH live AS (
        |  SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 11 = 0 THEN 5 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS mv_count,
        |  CAST(sum(cents) AS BIGINT) AS mv_sum,
        |  count(cents) AS mv_nncount,
        |  true AS folded_delta, true AS noop_ok
        |FROM live GROUP BY 1 ORDER BY pk""".stripMargin,

    // B195: the published WAP state is plain orders (both branch batches
    // fast-forwarded onto the even-key base); the audit count is the full
    // table and the isolation/publish pins are predicted true.
    "q_catalog_branch" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  (SELECT count(*) FROM orders) AS audit_n,
        |  true AS main_isolated, true AS ff_ok
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B193: relational replay of the CALLed maintenance — live state is
    // orders minus the pk-0 even deletes, the tagged snapshot is the full
    // pre-delete count, and the CALL result booleans are predicted true.
    "q_catalog_call" ->
      """WITH base AS (
        |  SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders),
        |live AS (
        |  SELECT * FROM base WHERE NOT (pk = 0 AND o_orderkey % 2 = 0))
        |SELECT pk, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  (SELECT count(*) FROM base) AS tagged_n,
        |  true AS opt_ok, true AS tag_ok
        |FROM live GROUP BY pk ORDER BY pk""".stripMargin,

    // B190: rename is invisible to the data — the oracle replays orders plus
    // the marker row appended under the NEW names; the metadata pins are
    // predicted true.
    "q_catalog_rename" ->
      """WITH all_rows AS (
        |  SELECT o_orderstatus, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  UNION ALL SELECT 'X', CAST(777 AS BIGINT))
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS no_rewrite, true AS pruned
        |FROM all_rows GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // B189: the oracle derives the generated key itself — hash equality
    // proves the engine's auto-computed o_month is exactly month(o_orderdate);
    // the enforcement and pruning pins are predicted true.
    "q_catalog_generated" ->
      """SELECT CAST(month(o_orderdate) AS INT) AS o_month, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS enforced, true AS pruned
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // B188: relational replay of the clone fork — src = orders minus the %10
    // DV deletes; clone additionally drops %7 and gains the two appends; the
    // metadata-only pin is predicted true.
    "q_catalog_clone" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 10 <> 0),
        |cl AS (
        |  SELECT * FROM base WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(100 AS BIGINT)),
        |    (CAST(-2 AS BIGINT), CAST(200 AS BIGINT))) t(o_orderkey, cents))
        |SELECT 'clone' AS side, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS metadata_only FROM cl
        |UNION ALL
        |SELECT 'src', count(*), CAST(sum(cents) AS BIGINT), true FROM base
        |ORDER BY side""".stripMargin,

    // B187: relational replay of the predicate overwrite — band-1 rows carry
    // the repriced cents, everything else the original; the pruning and
    // surgical-manifest pins are predicted true.
    "q_catalog_replacewhere" ->
      """WITH mk AS (SELECT max(o_orderkey) AS mx FROM orders),
        |b AS (SELECT mx // 4 + 1 AS bw FROM mk)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey >= b.bw AND o_orderkey < 2 * b.bw
        |    THEN CAST(floor(o_totalprice * 100) AS BIGINT) + 7
        |    ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS cents,
        |  true AS pruned, true AS surgical
        |FROM orders, b
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // B166: DuckDB computes the same aggregates from the parquet data; the
    // metadata_only plan pin is predicted true.
    "q_catalog_agg" ->
      """SELECT count(*) AS n, count(o_orderstatus) AS n_status,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
        |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
        |  CAST(min(o_orderkey % 3) AS BIGINT) AS min_pk,
        |  CAST(max(o_orderkey % 3) AS BIGINT) AS max_pk,
        |  true AS metadata_only
        |FROM orders""".stripMargin,

    // B202: grouped sums + floored average replayed relationally; the
    // LocalTableScan plan pin is predicted true.
    // Round-8: `base` is the pre-delete table, `live` the post-DV-delete
    // survivors — the grouped columns replay the SUBTRACTED metadata answers.
    "q_catalog_sum" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |live AS (SELECT * FROM base WHERE o_orderkey % 7 <> 3)
        |SELECT CAST(pk AS BIGINT) AS pk, CAST(sum(cents) AS BIGINT) AS cents,
        |  count(*) AS n,
        |  CAST(floor(sum(cents) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_cents_floor,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM base) AS total_cents_before,
        |  (SELECT count(*) FROM base) AS n_before,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM live) AS total_cents_after,
        |  true AS metadata_only
        |FROM live GROUP BY pk ORDER BY pk""".stripMargin,

    // B167: the oracle groups the parquet data by the same partition key;
    // the metadata_only plan pin is predicted true.
    "q_catalog_partitions" ->
      """SELECT CAST(o_orderkey % 4 AS BIGINT) AS pk, count(*) AS n_rows,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
        |  true AS metadata_only
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B164: the oracle predicts the EXACT distinct counts from parquet and
    // pins every audit boolean true — numRows and partition NDV exact, data
    // NDV inside the HLL guarantee band.
    "q_catalog_ndv" ->
      """SELECT '_rows' AS "column", count(*) AS exact, true AS audit_ok FROM orders
        |UNION ALL SELECT 'o_custkey', count(DISTINCT o_custkey), true FROM orders
        |UNION ALL SELECT 'o_orderkey', count(DISTINCT o_orderkey), true FROM orders
        |UNION ALL SELECT 'o_orderstatus', count(DISTINCT o_orderstatus), true FROM orders
        |UNION ALL SELECT 'pk', count(DISTINCT o_orderkey % 3), true FROM orders
        |ORDER BY "column"""".stripMargin,

    // B168: DuckDB replays the co-partitioned join from raw parquet; the
    // zero-shuffle plan boolean is predicted true.
    "q_catalog_spj" ->
      """WITH f AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 16 AS pk FROM orders),
        |d AS (SELECT l_orderkey % 16 AS pk, count(*) AS items,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem GROUP BY 1)
        |SELECT CAST(f.pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(f.cents) AS BIGINT) AS cents,
        |  CAST(max(d.items) AS BIGINT) AS items, CAST(max(d.qty) AS BIGINT) AS qty,
        |  true AS spj
        |FROM f JOIN d ON f.pk = d.pk
        |GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234: the oracle replays the aggregate over the BASE data and pins the
    // plan's view-scan boolean TRUE inside the hash gate.
    "q_mview_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, CAST(b AS BIGINT) AS b,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS rewritten
        |FROM base GROUP BY 1, 2 ORDER BY pk, b""".stripMargin,

    // B234 rollup: the oracle replays the coarser base-table aggregate the
    // optimizer answered from the (pk,b) view; avg divides the exact longs
    // explicitly (the same expression the rewrite emits), and `rewritten`
    // pins that the view served the plan.
    // B5∘B234 cube rewrite: DuckDB replays the CUBE over the base rows;
    // GROUPING(pk)*2 + GROUPING(b) reproduces Spark's grouping_id() bit
    // layout (left-to-right grouping columns, MSB first).
    "q_mview_cube_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, CAST(b AS BIGINT) AS b,
        |  CAST(GROUPING(pk) * 2 + GROUPING(b) AS BIGINT) AS gid,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS rewritten
        |FROM base GROUP BY CUBE(pk, b) ORDER BY gid, pk, b""".stripMargin,

    "q_mview_rollup" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234 filtered rollup: the oracle replays the key-filtered base
    // aggregate the optimizer served from the view.
    "q_mview_filter_rollup" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base WHERE b IN (1, 3) GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234 join rewrite: the oracle replays the base fact ⋈ (filtered) dim
    // aggregate the optimizer served from the view joined to the dimension.
    "q_mview_join_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 5 AS b FROM orders),
        |dim AS (SELECT DISTINCT o_orderkey % 5 AS bpk,
        |    (o_orderkey % 5) % 2 AS grp FROM orders)
        |SELECT CAST(grp AS BIGINT) AS grp, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base JOIN dim ON base.b = dim.bpk
        |WHERE dim.bpk <> 4
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // Continuous mview: the oracle replays the DML mix (even seed + odd
    // append − %7 deletes) the feed-driven folds tracked; the view-scan and
    // no-republish booleans are predicted true inside the hash gate.
    "q_mview_continuous" ->
      """WITH live AS (SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten, true AS no_republish
        |FROM live GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234 multi-dim join rewrite: the oracle replays the 3-table base
    // aggregate the optimizer served from the view joined to both dims.
    "q_mview_join2_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders),
        |dim AS (SELECT DISTINCT o_orderkey % 5 AS bpk,
        |    (o_orderkey % 5) % 2 AS grp FROM orders),
        |dim2 AS (SELECT DISTINCT o_orderkey % 3 AS ppk,
        |    concat('p', CAST(o_orderkey % 3 AS VARCHAR)) AS plabel FROM orders)
        |SELECT CAST(grp AS BIGINT) AS grp, plabel, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base JOIN dim ON base.b = dim.bpk
        |  JOIN dim2 ON base.pk = dim2.ppk
        |WHERE dim.bpk <> 4
        |GROUP BY 1, 2 ORDER BY grp, plabel""".stripMargin,

    // B189 ∘ B234 generated-key rewrite: the oracle replays the raw
    // expression aggregate the optimizer served from the generated-column-
    // keyed view.
    "q_mview_genkey_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 6 AS k FROM orders)
        |SELECT CAST(k AS BIGINT) AS k, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base GROUP BY 1 ORDER BY k""".stripMargin,

    // B198+B234 min/max view: the oracle replays the DML composition (the
    // %7 delete runs before the %13 update and the predicates are
    // independent, so the relational replay composes them directly).
    // B189∘B5∘B234 rollup over the generated-key expression: DuckDB replays
    // the ROLLUP with GROUPING() reproducing Spark's single-column gid.
    "q_mview_gsets_genkey" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 6 AS k FROM orders)
        |SELECT CAST(k AS BIGINT) AS k, CAST(GROUPING(k) AS BIGINT) AS gid,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS rewritten
        |FROM base GROUP BY ROLLUP(k) ORDER BY gid, k""".stripMargin,

    // B198+B234 sketched distinct: the domain bound (97 < the lgK=12 coupon
    // promotion point 384) makes the HLL estimate provably exact, so the
    // oracle pins it with an exact COUNT(DISTINCT) — at every SF.
    "q_mview_distinct" ->
      """WITH live AS (
        |  SELECT o_orderkey % 5 AS pk, o_orderkey % 97 AS v
        |  FROM orders WHERE o_orderkey % 11 <> 0)
        |SELECT CAST(pk AS BIGINT) AS pk,
        |  CAST(count(DISTINCT v) AS BIGINT) AS nd, count(*) AS n,
        |  true AS rewritten
        |FROM live GROUP BY 1 ORDER BY pk""".stripMargin,

    // B233+B234 policied-base rewrite: the oracle replays the row policy
    // (pk <> 0) as a plain WHERE over the full data.
    "q_mview_policy_rewrite" ->
      """WITH live AS (
        |  SELECT o_orderkey % 4 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 4 <> 0)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents, true AS rewritten
        |FROM live GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234 r15 partition-pruned rewrite: the oracle replays the partition
    // slice as a plain WHERE over the base rows.
    "q_mview_partition_filter" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(b AS BIGINT) AS b, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base WHERE pk IN (0, 2) GROUP BY 1 ORDER BY b""".stripMargin,

    // B234 r15 exact distinct-over-view-key: the oracle replays the mixed
    // count(DISTINCT)/sum aggregate over the base rows.
    "q_mview_multidistinct" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk,
        |  CAST(count(DISTINCT b) AS BIGINT) AS ndb, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents, true AS rewritten
        |FROM base GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234 r15 multi-distinct-group rewrite: the oracle replays the mixed
    // two-distinct aggregate over the base rows.
    "q_mview_distinct_pair" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(count(DISTINCT pk) AS BIGINT) AS ndp,
        |  CAST(count(DISTINCT b) AS BIGINT) AS ndb,
        |  CAST(sum(cents) AS BIGINT) AS cents, count(*) AS n,
        |  true AS rewritten
        |FROM base""".stripMargin,

    // B234 r15 semi-join rewrite: the oracle replays the EXISTS aggregate.
    "q_mview_semijoin_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders),
        |dim AS (SELECT DISTINCT o_orderkey % 5 AS bpk FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents, true AS rewritten
        |FROM base WHERE EXISTS (
        |  SELECT 1 FROM dim WHERE dim.bpk = base.b AND dim.bpk <> 4)
        |GROUP BY 1 ORDER BY pk""".stripMargin,

    // B234 r15 left-outer join rewrite: the oracle replays the outer
    // join-aggregate (unmatched b=4 fact rows land in the NULL grp group).
    "q_mview_leftjoin_rewrite" ->
      """WITH base AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 5 AS b FROM orders),
        |dim AS (SELECT DISTINCT o_orderkey % 5 AS bpk,
        |    (o_orderkey % 5) % 2 AS grp FROM orders WHERE o_orderkey % 5 <> 4)
        |SELECT CAST(grp AS BIGINT) AS grp, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS avg_cents,
        |  true AS rewritten
        |FROM base LEFT JOIN dim ON base.b = dim.bpk
        |GROUP BY 1 ORDER BY grp NULLS FIRST""".stripMargin,

    "q_mview_minmax" ->
      """WITH live AS (
        |  SELECT o_orderkey % 4 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT)
        |      + CASE WHEN o_orderkey % 13 = 0 THEN -100000 ELSE 0 END AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT CAST(pk AS BIGINT) AS pk, CAST(min(cents) AS BIGINT) AS mn,
        |  CAST(max(cents) AS BIGINT) AS mx, count(*) AS n,
        |  true AS rewritten
        |FROM live GROUP BY 1 ORDER BY pk""".stripMargin,

    // Incremental ZORDER: the final content is plain orders (even seed +
    // odd corner append — x/y are layout-only); the surgical-rewrite and
    // pruning booleans are predicted true inside the hash gate.
    "q_catalog_zorder_incr" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS surgical, true AS skip_x
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // Partitioned+hilbert incremental ZORDER: the final content is the even
    // seed plus the pk=1 odd corner append (x/y are layout-only); the three
    // layout booleans are predicted true inside the hash gate.
    "q_catalog_zorder_incr_part" ->
      """WITH live AS (
        |  SELECT o_orderkey % 3 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 1)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS surgical, true AS part_scoped, true AS skip_x
        |FROM live GROUP BY 1 ORDER BY pk""".stripMargin,

    // B233: the oracle replays the row filter relationally for the policed
    // columns, the raw table for the auditor columns, and pins the mask
    // constant + the policed distinct-tag collapse inside the hash gate.
    "q_catalog_policy" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    concat('t', CAST(o_orderkey % 100 AS VARCHAR)) AS tag FROM orders)
        |SELECT
        |  (SELECT count(*) FROM base WHERE k % 7 <> 0) AS policed_n,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM base WHERE k % 7 <> 0)
        |    AS policed_cents,
        |  CAST(1 AS BIGINT) AS policed_tags,
        |  '***' AS mask_value,
        |  (SELECT count(*) FROM base) AS raw_n,
        |  (SELECT count(DISTINCT tag) FROM base) AS raw_tags,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM base) AS raw_cents""".stripMargin,

    // B232: the oracle replays the evolution history relationally (evens,
    // then odds, minus the b=0 delete — the spec change itself moves no
    // rows) and pins all three layout booleans TRUE inside the hash gate.
    "q_catalog_partition_evolution" ->
      """WITH rows_all AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk, o_orderkey % 5 AS b FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, CAST(b AS BIGINT) AS b,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS was_mixed, true AS uniform_after, true AS migrated_layout
        |FROM rows_all WHERE b <> 0
        |GROUP BY 1, 2 ORDER BY pk, b""".stripMargin,

    // B237: bucket = k % 8 is the transform itself (floorMod, transparent);
    // the rollup, the probe count, and the one-file pruning boolean all
    // ride the hash gate.
    "q_catalog_hidden_bucket" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(k % 8 AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  CAST(1 AS BIGINT) AS probe_n, true AS bucket_pruned
        |FROM base GROUP BY 1 ORDER BY bucket""".stripMargin,

    // B237 extension: the days(ts) transform is CAST(ts AS DATE) itself
    // (epoch-day floor, transparent); the per-day rollup spans both the
    // days-vintage and the post-evolution truncate-vintage rows, the range
    // probe's count and the two plan booleans ride the hash gate.
    "q_catalog_hidden_days" ->
      """WITH base AS (SELECT event_id AS k, ts,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  (SELECT count(*) FROM base WHERE k % 2 = 0
        |     AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |     AND ts < TIMESTAMP '2024-01-12 00:00:00') AS probe_n,
        |  true AS days_pruned, true AS was_mixed
        |FROM base GROUP BY 1 ORDER BY day""".stripMargin,

    // B231 outer twin: the LEFT JOIN replay keeps every fact row — the
    // null-fk rows land in the NULL group (grp null), unlike the inner twin.
    "q_rely_outer_elim" ->
      """WITH f AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |    ELSE o_custkey END AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dm AS (SELECT DISTINCT c_custkey FROM customer)
        |SELECT CAST(dm.c_custkey % 10 AS BIGINT) AS grp,
        |  CAST(sum(f.cents) AS BIGINT) AS cents, count(*) AS n,
        |  true AS join_eliminated
        |FROM f LEFT JOIN dm ON f.cust = dm.c_custkey
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // B231: the oracle replays THE JOIN the optimizer removed — rows, sums,
    // and the null-fk drop must come out identical without it — and pins the
    // `join_eliminated` plan boolean TRUE, so a rule that silently stops
    // firing fails the hash gate, not just a perf number.
    "q_rely_join_elim" ->
      """WITH f AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |    ELSE o_custkey END AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dm AS (SELECT DISTINCT c_custkey FROM customer)
        |SELECT CAST(dm.c_custkey % 10 AS BIGINT) AS grp,
        |  CAST(sum(f.cents) AS BIGINT) AS cents, count(*) AS n,
        |  true AS join_eliminated
        |FROM f JOIN dm ON f.cust = dm.c_custkey
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // B231 distinct twin: the oracle replays the DISTINCT the optimizer
    // removed; the one-Aggregate plan pin rides the hash gate.
    "q_rely_distinct_elim" ->
      """WITH dm AS (SELECT DISTINCT c_custkey, c_mktsegment AS seg
        |    FROM customer)
        |SELECT seg, count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS keysum,
        |  true AS distinct_eliminated
        |FROM dm GROUP BY 1 ORDER BY seg""".stripMargin,

    // B231 semi/anti twin: the oracle replays the REAL EXISTS / NOT EXISTS
    // against the dimension — data satisfies the declared integrity, so the
    // null-check reduction must agree row for row.
    "q_rely_semi_elim" ->
      """WITH f AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |    ELSE o_custkey END AS cust,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dm AS (SELECT DISTINCT c_custkey FROM customer)
        |SELECT CAST(f.cust % 10 AS BIGINT) AS grp,
        |  CAST(sum(f.cents) AS BIGINT) AS cents, count(*) AS n,
        |  (SELECT count(*) FROM f WHERE NOT EXISTS
        |     (SELECT 1 FROM dm WHERE dm.c_custkey = f.cust)) AS anti_n,
        |  true AS join_eliminated
        |FROM f WHERE EXISTS (SELECT 1 FROM dm WHERE dm.c_custkey = f.cust)
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // B231 composite twin: the oracle replays the two-conjunct join the
    // optimizer removed — the independent per-component null drops and the
    // substituted grouping key must come out identical without it, and the
    // `join_eliminated` plan boolean rides the hash gate.
    "q_rely_composite_elim" ->
      """WITH f AS (SELECT
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |      ELSE CAST(floor(o_custkey / 97) AS BIGINT) END AS fk1,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |      ELSE o_custkey % 97 END AS fk2,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dm AS (SELECT DISTINCT CAST(floor(c_custkey / 97) AS BIGINT) AS pk1,
        |    c_custkey % 97 AS pk2 FROM customer)
        |SELECT CAST(dm.pk2 % 10 AS BIGINT) AS grp,
        |  CAST(sum(f.cents) AS BIGINT) AS cents, count(*) AS n,
        |  true AS join_eliminated
        |FROM f JOIN dm ON f.fk1 = dm.pk1 AND f.fk2 = dm.pk2
        |GROUP BY 1 ORDER BY grp""".stripMargin,

    // B212: the oracle replays the pruned join relationally and pins the
    // dynamicpruning plan boolean TRUE — if V2 runtime filtering ever stops
    // planning, the hash gate fails, not just a perf number.
    "q_catalog_dpp" ->
      """WITH f AS (SELECT o_orderkey % 8 AS pk,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dim AS (SELECT CAST(n_nationkey AS BIGINT) AS pk, n_name AS tag
        |        FROM nation WHERE n_nationkey IN (2, 5))
        |SELECT CAST(f.pk AS BIGINT) AS pk, tag, count(*) AS n,
        |  CAST(sum(f.cents) AS BIGINT) AS cents, true AS dpp
        |FROM f JOIN dim ON f.pk = dim.pk
        |GROUP BY 1, 2 ORDER BY pk""".stripMargin,

    // B169: the oracle replays the table history relationally — gen 2 inserts
    // the odd keys, gen 3 DV-deletes the %7 keys, gen 4 updates the surviving
    // %11 keys (a delete+insert pair each, insert carrying the new value).
    "q_catalog_cdf" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(2 AS BIGINT) AS gen, 'insert' AS change, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents FROM base WHERE k % 2 = 1
        |UNION ALL
        |SELECT 3, 'delete', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE k % 7 = 0
        |UNION ALL
        |SELECT 4, 'delete', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE k % 11 = 0 AND k % 7 <> 0
        |UNION ALL
        |SELECT 4, 'insert', count(*), CAST(sum(cents + 5) AS BIGINT)
        |FROM base WHERE k % 11 = 0 AND k % 7 <> 0
        |ORDER BY gen, change""".stripMargin,

    // B230: the replica equals the source's final state, so the oracle is
    // the relational replay of the full DML history (delete %7, update +5
    // on %11 survivors); in_sync is predicted true.
    "q_catalog_cdc_apply" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT) +
        |    CASE WHEN o_orderkey % 11 = 0 THEN 5 ELSE 0 END) AS BIGINT) AS cents,
        |  true AS in_sync
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY 1 ORDER BY pk""".stripMargin,

    // B229: evens (created pre-drop) answer NULL under the re-added column,
    // odds (appended post-add) carry o_orderkey % 5; no_resurrection is
    // predicted true.
    "q_catalog_dropcol" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_prio,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 5 ELSE 0 END) AS BIGINT)
        |    AS prio_sum,
        |  true AS no_resurrection
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B170: the oracle replays the streamed history — the snapshot drain
    // delivers the evens as inserts at the cloned seed's generation 0, then
    // each commit streams its exact delta (matching q_catalog_cdf's
    // batch-feed profile plus the snapshot row the stream's fresh start
    // adds).
    "q_catalog_cdf_stream" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(0 AS BIGINT) AS gen, 'insert' AS change, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents FROM base WHERE k % 2 = 0
        |UNION ALL
        |SELECT 1, 'insert', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE k % 2 = 1
        |UNION ALL
        |SELECT 2, 'delete', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE k % 7 = 0
        |UNION ALL
        |SELECT 3, 'delete', count(*), CAST(sum(cents) AS BIGINT)
        |FROM base WHERE k % 11 = 0 AND k % 7 <> 0
        |UNION ALL
        |SELECT 3, 'insert', count(*), CAST(sum(cents + 5) AS BIGINT)
        |FROM base WHERE k % 11 = 0 AND k % 7 <> 0
        |ORDER BY gen, change""".stripMargin,

    // Catalog ADD COLUMN: even keys predate the evolution (NULL bonus, so
    // count(bonus) sees odds only), odd keys carry k % 100.
    "q_catalog_evolution" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 100 END AS bonus
        |  FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  count(bonus) AS n_bonus,
        |  CAST(sum(coalesce(bonus, 0)) AS BIGINT) AS bonus
        |FROM base GROUP BY 1 ORDER BY pk""".stripMargin,

    // B175: the z-order rewrite is lossless — the aggregate is the plain
    // per-pk profile — and the structural outcomes are pinned: 8 tiles,
    // both single-axis probes prune.
    "q_catalog_zorder_opt" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(8 AS BIGINT) AS zorder_files, true AS skip_x, true AS skip_y
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B194: the Hilbert rewrite is lossless and prunes both axes — same
    // relational replay as the Morton twin, default num_files=8 via CALL.
    "q_catalog_zorder_hilbert" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(8 AS BIGINT) AS hilbert_files, true AS skip_x, true AS skip_y
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B177: three racing appenders of disjoint slices serialize losslessly —
    // the union is plain orders; both protocol booleans pin true.
    "q_catalog_concurrent" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS serialized, true AS all_landed
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B178: the tagged snapshot is the even-key create, the current one all
    // orders; the vacuum-retention boolean pins true.
    "q_catalog_tag" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders)
        |SELECT 'cur' AS snap, CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents, true AS tag_survived_vacuum
        |FROM base GROUP BY pk
        |UNION ALL
        |SELECT 'tagged', CAST(pk AS BIGINT), count(*), CAST(sum(cents) AS BIGINT), true
        |FROM base WHERE k % 2 = 0 GROUP BY pk
        |ORDER BY snap, pk""".stripMargin,

    // B179: the oracle predicts the whole metadata profile from parquet —
    // clustered writes mean exactly 2 files per partition (create + append),
    // 3 commits (0,1,2), 6 live files; rows are the per-pk counts.
    "q_catalog_meta" ->
      """SELECT concat('pk=', CAST(o_orderkey % 3 AS VARCHAR)) AS partition,
        |  CAST(2 AS BIGINT) AS n_files, count(*) AS rows,
        |  CAST(3 AS BIGINT) AS n_commits, CAST(6 AS BIGINT) AS n_live_files,
        |  true AS metadata_only
        |FROM orders GROUP BY 1 ORDER BY partition""".stripMargin,

    // B174: a restored table IS its original projection — the rolled-back
    // delete and update contribute nothing; both structural booleans true.
    "q_catalog_restore" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS restored, true AS no_copy
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B172: the oracle joins the raw parquet on the order key alone — the
    // bucket column both sides derive from that key is semantically inert —
    // and predicts the zero-exchange plan boolean true.
    "q_catalog_spj_bucket" ->
      """SELECT o.o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |  CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  true AS spj
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY status""".stripMargin,

    // B171: the oracle replays only the writes that should have LANDED —
    // create, the compliant update, and the key-0 row admitted after its
    // named constraint was dropped; the three rejected writes contribute
    // nothing, and all five structural booleans pin true.
    "q_catalog_check" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey % 3 AS pk FROM orders),
        |landed AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN cents + 3 ELSE cents END AS cents, pk
        |  FROM base
        |  UNION ALL SELECT -1, 42, 2)
        |SELECT CAST(pk AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS cents,
        |  true AS rejected_append, true AS rejected_update,
        |  true AS named_error, true AS add_enforced, true AS atomic
        |FROM landed GROUP BY 1 ORDER BY pk""".stripMargin,

    // B152: the stream-maintained aggregate must equal the plain per-pk
    // aggregate over ALL orders — snapshot plus increment, nothing else.
    "q_catalog_stream" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS pk, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY pk""".stripMargin,

    // B149: same marginal-product expected counts; integer marginals keep
    // exp exact before the one double division, round absorbs sum order.
    "q_stats_chisq" ->
      """WITH cells AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pr, count(*) AS obs
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT st, sum(obs) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT pr, sum(obs) AS ct FROM cells GROUP BY 1),
        |g AS (SELECT sum(obs) AS n FROM cells)
        |SELECT CAST(g.n AS BIGINT) AS n,
        |  CAST((SELECT count(DISTINCT st) - 1 FROM cells)
        |     * (SELECT count(DISTINCT pr) - 1 FROM cells) AS BIGINT) AS dof,
        |  round(sum(pow(cells.obs - (rt.rt * ct.ct / g.n), 2)
        |    / (rt.rt * ct.ct / g.n)), 4) AS chi2
        |FROM cells
        |JOIN rt USING (st) JOIN ct USING (pr) CROSS JOIN g
        |GROUP BY g.n""".stripMargin,

    // B143: // is DuckDB's floor division — both operands positive, so it
    // agrees with Spark's truncating `div`; HUGEINT cast mirrors Spark's
    // DECIMAL(38,0) widening.
    "q_period_over_period" ->
      """WITH mm AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    CAST(month(o_orderdate) AS BIGINT) AS m,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT y, m, cents,
        |  cents - lag(cents, 1) OVER (ORDER BY y, m) AS mom_delta,
        |  CAST(CAST(cents AS HUGEINT) * 10000 // lag(cents, 12) OVER (ORDER BY y, m)
        |    AS BIGINT) AS yoy_bp
        |FROM mm ORDER BY y, m""".stripMargin,

    // B220: same blocking key, same distinct char-trigram sets, same
    // integer basis-point Jaccard.
    "q_entity_trigram" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_size, lower(p_name) AS nm FROM part),
        |t AS (
        |  SELECT p_partkey, p_brand, p_size,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(nm) - 2, 0) + 1),
        |      i -> substr(nm, CAST(i AS INT), 3))) AS tri
        |  FROM p)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  CAST(len(list_intersect(a.tri, b.tri)) AS BIGINT) * 10000
        |    // CAST(len(list_distinct(list_concat(a.tri, b.tri))) AS BIGINT)
        |    AS tri_jacc_bp
        |FROM t a JOIN t b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |ORDER BY tri_jacc_bp DESC, id_a, id_b LIMIT 50""".stripMargin,

    // B221: rank replay via row_number over the same (cents, key) order.
    "q_feature_bins" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
        |    (SELECT count(*) FROM o) AS total
        |  FROM o)
        |SELECT (rk - 1) * 10 // total + 1 AS bin, count(*) AS n_rows,
        |  min(cents) AS lo, max(cents) AS hi,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin,

    // B222: HUGEINT variance product mirrors Spark's DECIMAL(38) widening;
    // sign split keeps // off negative numerators.
    "q_feature_zscore" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 10) AS BIGINT) AS dv FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(dv) AS BIGINT) AS s1, CAST(sum(dv * dv) AS BIGINT) AS s2
        |  FROM e GROUP BY 1),
        |dn AS (SELECT *, CAST(floor(sqrt(CAST(
        |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)))
        |    AS BIGINT) AS den FROM st)
        |SELECT e.event_type, e.event_id,
        |  CASE WHEN den = 0 THEN 0
        |       ELSE CAST(sign(e.dv * n - s1) AS BIGINT) *
        |            (abs(e.dv * n - s1) * 10000 // den) END AS z_bp
        |FROM e JOIN dn ON dn.event_type = e.event_type
        |WHERE e.event_id % 499 = 0
        |ORDER BY e.event_type, e.event_id""".stripMargin
  )
}
