package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Relational operator semantics + ScalaCheck properties. */
class RelationalSpec extends GraftSuite {
  import spark.implicits._

  /** Run a ScalaCheck property with a bounded number of Spark-job trials. */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("sessionize: gap strictly greater than gapSeconds starts a new session") {
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:30:00"), 2L), // exactly 1800s -> same session
      (1L, ts("2024-01-01 01:00:01"), 3L), // 1801s -> new session
      (2L, ts("2024-01-01 00:00:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    val s = Relational.sessionize(events, "user_id", "ts", 1800L, Seq(col("event_id")))
      .select("user_id", "event_id", "session_id").as[(Long, Long, Long)].collect().toSet
    assert(s === Set((1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 1L), (2L, 4L, 0L)))
  }

  test("latestPerKey is deterministic under ties via tiebreaker") {
    val df = Seq(("k", 1, "a"), ("k", 1, "b"), ("k", 0, "c"))
      .toDF("key", "v", "payload")
    val r = Relational.latestPerKey(df, Seq("key"),
      Seq(col("v").desc, col("payload").desc)).collect()
    assert(r.length === 1 && r.head.getString(2) === "b")
  }

  test("topKPerGroup returns exactly k under total order") {
    val df = Tables.orders(spark, sfTiny)
    val top = Relational.topKPerGroup(df, Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
    val counts = top.groupBy("o_orderpriority").count().select("count")
      .as[Long].collect()
    assert(counts.forall(_ === 3L))
  }

  test("clusteredWrite produces key-clustered files readable with pruning stats") {
    val dir = tmpDir("clustered")
    Relational.clusteredWrite(Tables.orders(spark, sfTiny), s"$dir/orders",
      Seq("o_custkey"), Some(4))
    val back = spark.read.parquet(s"$dir/orders")
    assert(back.count() === Tables.orders(spark, sfTiny).count())
    // Range partitioning on the cluster key: a key never straddles two files.
    val files = back.select(input_file_name().as("f"), col("o_custkey"))
      .groupBy("o_custkey").agg(countDistinct("f").as("nf"))
    assert(files.filter(col("nf") > 1).count() === 0)
  }

  test("saltedJoin returns exactly the plain join's rows (inner and left)") {
    val li = Tables.lineitem(spark, sfTiny).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sfTiny)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      .limit(200)
    for (jt <- Seq("inner", "left")) {
      val plain = li.join(o, Seq("l_orderkey"), jt)
      val salted = Relational.saltedJoin(li, o, Seq("l_orderkey"), 8, jt)
      assert(salted.count() === plain.count())
      assert(salted.exceptAll(plain).count() === 0)
      assert(plain.exceptAll(salted).count() === 0)
    }
  }

  test("property: dedupExact is idempotent and reduces cardinality") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 9))) { ks =>
      val xs = ks.zipWithIndex
      val df = xs.toDF("key", "v")
      val once = Relational.dedupExact(df, Seq("key"), Seq(col("v").desc))
      val twice = Relational.dedupExact(once, Seq("key"), Seq(col("v").desc))
      val n1 = once.count(); val n2 = twice.count()
      n1 == ks.distinct.length.toLong && n1 == n2
    })
  }

  test("property: union-then-dedup cardinality is bounded by the distinct union") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(0, 20)), Gen.listOf(Gen.chooseNum(0, 20))) {
      (a, b) =>
        val da = a.zipWithIndex.toDF("key", "v")
        val db = b.zipWithIndex.toDF("key", "v")
        val n = Relational.dedupExact(da.union(db), Seq("key"), Seq(col("v"))).count()
        n == (a ++ b).distinct.length.toLong &&
          n <= a.distinct.length.toLong + b.distinct.length.toLong
    })
  }

  test("property: per-group aggregate totals equal the global aggregate") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 100000L))) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val grouped = df.groupBy((col("id") % 7).as("w")).agg(sum("v").as("s"))
      val total = grouped.agg(sum("s")).as[Long].collect().head
      total == xs.sum
    })
  }

  test("zorderKey matches the bitwise reference and tiles space as a quadtree") {
    import graft.operators.Layout
    def mortonRef(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(300)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z === mortonRef(x, y), s"($x,$y)") }

    // Aligned 256-key blocks are exact 16x16 tiles: a full 64x64 grid yields 16
    // blocks, each spanning <= 15 in BOTH dims — the two-dimensional bound that
    // makes parquet min/max stats prune on either column.
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toDF("x", "y")
    val tiles = grid
      .select(col("x"), col("y"), (Layout.zorderKey(col("x"), col("y")) / 256).cast("long").as("tile"))
      .groupBy("tile")
      .agg(count(lit(1)).as("n"),
        (max(col("x")) - min(col("x"))).as("sx"), (max(col("y")) - min(col("y"))).as("sy"))
      .as[(Long, Long, Long, Long)].collect()
    assert(tiles.length === 16)
    tiles.foreach { case (t, n, sx, sy) =>
      assert(n === 256L && sx === 15L && sy === 15L, s"tile $t: n=$n sx=$sx sy=$sy")
    }
  }

  test("hilbertKey: bijective contiguous traversal with grid-adjacent steps") {
    // The 64x64 aligned subgrid is a node of the Hilbert recursion: its 4096
    // cells occupy ONE contiguous d-range and consecutive cells are
    // grid-ADJACENT (|dx|+|dy| == 1) — the locality property Morton lacks
    // (diagonal jumps between quadrants).
    val cells = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val keyed = cells.withColumn("d",
        graft.plans.LayoutExpressions.hilbertKey(col("x"), col("y")))
      .select("x", "y", "d").as[(Long, Long, Long)].collect()
    val ds = keyed.map(_._3)
    assert(ds.distinct.length === 4096, "bijective on the subgrid")
    assert(ds.max - ds.min === 4095L, "one contiguous curve segment")
    keyed.sortBy(_._3).sliding(2).foreach { w =>
      val Seq((x1, y1, _), (x2, y2, _)) = w.toSeq
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"non-adjacent Hilbert step ($x1,$y1)->($x2,$y2)")
    }
    // Interpreted eval (the codegen-fallback path) agrees with codegen.
    import org.apache.spark.sql.catalyst.expressions.Literal
    val byCell = keyed.map(t => (t._1, t._2) -> t._3).toMap
    Seq((0L, 0L), (5L, 9L), (63L, 63L), (17L, 42L)).foreach { case (x, y) =>
      val interp = graft.plans.HilbertIndex(Literal(x), Literal(y)).eval(null)
      assert(interp === byCell((x, y)), s"interpreted != codegen at ($x,$y)")
    }
  }

  test("zorderWrite drops the layout key: output schema equals input schema") {
    import graft.operators.Layout
    val dir = java.nio.file.Files.createTempDirectory("zw").toString
    val df = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toDF("x", "y")
    Layout.zorderWrite(df, dir, col("x"), col("y"), numFiles = Some(4))
    val back = spark.read.parquet(dir)
    assert(back.columns.sorted.toSeq === Seq("x", "y"), "layout key must not leak")
    assert(back.count() === 1024L)
  }

  test("incrementalAgg: snapshot + delta equals full recompute at any split") {
    val rows = (1L to 200L).map(i => (i % 7, i, i * 3)).toDF("k", "seq", "v")
    val full = rows.groupBy(col("k"))
      .agg(count(lit(1)).as("count_n"), sum(col("v")).as("v"))
      .as[(Long, Long, Long)].collect().toSet
    for (split <- Seq(0L, 50L, 200L)) {  // empty-delta and empty-prev included
      val prev = rows.filter(col("seq") <= split).groupBy(col("k"))
        .agg(count(lit(1)).as("count_n"), sum(col("v")).as("v"))
      val merged = Relational.incrementalAgg(
          prev, rows.filter(col("seq") > split).select("k", "v"), Seq("k"), Seq("v"))
        .as[(Long, Long, Long)].collect().toSet
      assert(merged === full, s"split=$split")
    }
    intercept[IllegalArgumentException] {
      Relational.incrementalAgg(rows, rows, Seq("k"), Seq("v"))  // wrong snapshot shape
    }
  }

  test("merge executes the full MERGE INTO action matrix") {
    val target = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v")
    val source = Seq((2L, 99L), (3L, 1L), (4L, 0L), (5L, 50L)).toDF("k", "v")
    val out = Relational.merge(target, source, Seq("k"),
        updateWhen = col("s.v") > col("t.v"),   // k=2: 99 > 20 -> update
        deleteWhen = col("s.v") === 0L)         // k=4: delete
      .select("k", "v", "action").as[(Long, Long, String)].collect().toSet
    assert(out === Set(
      (1L, 10L, "keep"),     // target-only
      (2L, 99L, "update"),
      (3L, 30L, "keep"),     // matched, no condition fires -> target wins
      (5L, 50L, "insert")))  // source-only
  }

  test("tableStats: exact NDV, null accounting, per-column pruned scans") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None), (Some(2L), Some("c")),
      (None, Some("a"))).toDF("k", "v")
    val stats = Relational.tableStats(df, Seq("k", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(stats("k") === ("k", 4L, 3L, 2L, "1", "2"))
    assert(stats("v") === ("v", 4L, 3L, 2L, "a", "c"))
    // Per-column pruned scans: one leaf per column, each reading ONLY its
    // column (the wide-pass alternative Expands every row once per distinct).
    val plan = Relational.tableStats(df, Seq("k", "v")).queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    assert(leaves.length === 2, s"expected one pruned scan per column:\n$plan")
    assert(leaves.forall(_.output.length === 1), s"scans must prune to 1 column:\n$plan")
  }

  test("compact rewrites many small files into the byte-targeted count, losslessly") {
    import graft.operators.Layout
    val in = tmpDir("compact_in"); val out = tmpDir("compact_out")
    val df = spark.range(0, 2000).toDF("id").withColumn("v", col("id") % 7)
    df.repartition(40).write.mode("overwrite").parquet(in)
    val (before, after, bytes) = Layout.compact(spark, in, out, targetBytes = bytesFor(in) / 2 + 1)
    assert(before === 40)
    assert(after <= 2, s"expected <=2 output files, got $after")
    assert(bytes > 0)
    // Lossless: same row multiset, same schema.
    val a = spark.read.parquet(in); val b = spark.read.parquet(out)
    assert(b.schema === a.schema)
    assert(b.exceptAll(a).count() === 0 && a.exceptAll(b).count() === 0)
    // The never-in-place contract is enforced, even through path aliasing.
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, in, in + "/", targetBytes = 1L)
    }
    assert(e.getMessage.contains("in place"))
    // Ancestry is in-place too: nesting the output inside the input would
    // pollute the source with a duplicate copy; the reverse would delete
    // the source under overwrite mode.
    val e2 = intercept[IllegalArgumentException] {
      Layout.compact(spark, in, in + "/compacted", targetBytes = 1L)
    }
    assert(e2.getMessage.contains("inside the input"))
    val e3 = intercept[IllegalArgumentException] {
      Layout.compact(spark, in, new java.io.File(in).getParent, targetBytes = 1L)
    }
    assert(e3.getMessage.contains("inside the output"))
  }

  private def bytesFor(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
  }

  test("observeQuality audits a pass as a side effect (no second scan)") {
    // The piggybacked audit: metrics come back from the SAME action that
    // produced the output — at 100 TB a separate count()/null-profile pass
    // would double the I/O.
    val df = Seq((1L, Some(2.0)), (2L, None), (3L, Some(5.0)), (4L, None))
      .toDF("k", "v")
    val (audited, obs) = Relational.observeQuality(df, "audit", Seq("v"), Some("k"))
    val n = audited.filter(col("k") > 0).count() // the one and only action
    assert(n === 4)
    val m = obs.get
    assert(m("n_rows") === 4L)
    assert(m("n_null_v") === 2L)
    assert(m("min_k") === 1L && m("max_k") === 4L)
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame, l: String, r: String) =
    df.select(col(l), col(r)).as[(Long, Long)].collect().toSeq.sorted

  test("rangeJoinBinned equals the naive theta join (negatives, empties, inclusive hi)") {
    // Deterministic mix: points in [-100, 400), intervals starting in [-120, 280)
    // with lengths 0..59 — zero-length intervals exercise the validity filter,
    // width 25 makes intervals span 1-4 bins, negatives exercise floor-division.
    val points = spark.range(0, 400).select(col("id").as("pid"),
      ((col("id") * 37 % 500) - 100).cast("double").as("x"))
    val intervals = spark.range(0, 150).select(col("id").as("iid"),
      ((col("id") * 53 % 400) - 120).cast("double").as("lo"))
      .withColumn("hi", col("lo") + (col("iid") % 60).cast("double"))
    for (inclusive <- Seq(false, true)) {
      val upper = if (inclusive) col("x") <= col("hi") else col("x") < col("hi")
      // An empty interval ([x,x) half-open) contains nothing — the naive twin
      // needs the same validity filter the operator applies.
      val valid = if (inclusive) col("lo") <= col("hi") else col("lo") < col("hi")
      val naive = points.join(intervals.filter(valid), col("x") >= col("lo") && upper)
      val binned = Relational.rangeJoinBinned(points, "x", intervals, "lo", "hi",
        binWidth = 25.0, hiInclusive = inclusive)
      assert(pairsOf(binned, "pid", "iid") === pairsOf(naive, "pid", "iid"))
      assert(pairsOf(naive, "pid", "iid").nonEmpty, "vacuous fixture")
    }
  }

  test("intervalOverlapJoinBinned equals the naive overlap join (multi-bin dedup)") {
    // Interval lengths up to ~90 against binWidth 20: overlapping pairs share up
    // to ~5 bins, so the first-shared-bin dedup predicate is doing real work —
    // a duplicate would show up as a repeated (aid, bid) in the sorted multiset.
    val a = spark.range(0, 200).select(col("id").as("aid"),
      ((col("id") * 41 % 300) - 50).cast("double").as("alo"))
      .withColumn("ahi", col("alo") + (col("aid") * 7 % 90).cast("double"))
    val b = spark.range(0, 120).select(col("id").as("bid"),
      ((col("id") * 29 % 280) - 70).cast("double").as("blo"))
      .withColumn("bhi", col("blo") + (col("bid") * 11 % 70).cast("double"))
    for (closed <- Seq(false, true)) {
      val overlap =
        if (closed) col("alo") <= col("bhi") && col("blo") <= col("ahi")
        else col("alo") < col("bhi") && col("blo") < col("ahi")
      val validA = if (closed) col("alo") <= col("ahi") else col("alo") < col("ahi")
      val validB = if (closed) col("blo") <= col("bhi") else col("blo") < col("bhi")
      val naive = a.filter(validA).join(b.filter(validB), overlap)
      val binned = Relational.intervalOverlapJoinBinned(a, "alo", "ahi",
        b, "blo", "bhi", binWidth = 20.0, closed = closed)
      assert(pairsOf(binned, "aid", "bid") === pairsOf(naive, "aid", "bid"))
      assert(pairsOf(naive, "aid", "bid").size > 500, "vacuous fixture")
    }
  }

  test("asofJoin equals the naive theta-join argmax, with a join-free plan") {
    // 7 keys, colliding ts values on both sides so exact-match inclusivity and
    // the equal-ts tie-break are exercised, not just the common strict case.
    val left = spark.range(0, 300).select(col("id").as("lid"),
      (col("id") % 7).as("k"), ((col("id") * 37) % 200).as("lts"))
    val right = spark.range(0, 120).select(
      (col("id") % 7).as("k"), ((col("id") * 53) % 200).as("rts"),
      (col("id") * 10).as("rv"))
    for (tol <- Seq(None, Some(40L))) {
      val got = Relational.asofJoin(left, right, Seq("k"), "lts", "rts", tol)
      assert(got.count() === 300, "left-outer: every left row survives")
      // Naive twin: per-key theta join + argmax under the SAME tie order the
      // operator documents (largest (rts, payload...) struct wins).
      val cond = col("k") === col("rk") && col("rts") <= col("lts") &&
        tol.map(t => (col("lts") - col("rts")) <= t).getOrElse(lit(true))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lid"))
        .orderBy(col("rts").desc_nulls_last, col("rv").desc_nulls_last)
      val naive = left.join(right.withColumnRenamed("k", "rk"), cond, "left")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.select(col("lid"), col("rts"), col("rv"))
          .as[(Long, Option[Long], Option[Long])].collect().toSet
      assert(shape(got) === shape(naive))
      assert(shape(got).exists(_._2.isDefined), "vacuous fixture")
      // The point of the operator: ONE keyed window, zero join nodes.
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"asofJoin planned a join:\n$plan")
    }
    // Pinned boundary semantics on an explicit fixture.
    val r = Seq((1L, 100L, 5L), (1L, 100L, 7L), (1L, 90L, 4L))
      .toDF("k", "rts", "rv")
    val l = Seq((10L, 1L, 100L), (11L, 1L, 99L), (12L, 1L, 89L), (13L, 1L, 131L))
      .toDF("lid", "k", "lts")
    val m = Relational.asofJoin(l, r, Seq("k"), "lts", "rts", Some(40L))
      .select(col("lid"), col("rv")).as[(Long, Option[Long])].collect().toMap
    assert(m(10L) === Some(7L), "inclusive exact match; equal-ts tie -> larger payload")
    assert(m(11L) === Some(4L), "strictly-earlier match")
    assert(m(12L) === None, "no earlier right row")
    assert(m(13L) === Some(7L), "staleness 31 within tolerance 40")
    val mNoTol = Relational.asofJoin(
      l.filter(col("lid") === 12L), r, Seq("k"), "lts", "rts", Some(0L))
    assert(mNoTol.select(col("rv")).as[Option[Long]].collect() === Seq(None))
    // A RIGHT column named like leftTsCol is ambiguous too: without the
    // guard the output would carry two same-named columns and fail far away
    // on the first reference.
    val eClash = intercept[IllegalArgumentException] {
      Relational.asofJoin(l, r.withColumn("lts", col("rts")),
        Seq("k"), "lts", "rts")
    }
    assert(eClash.getMessage.contains("ambiguous"))
  }

  test("globalRowNumber equals the global window rank without a one-partition sort") {
    import spark.implicits._
    // Skewed, shuffled, non-contiguous keys — including duplicates of none
    // (unique key contract) and a value column that must survive untouched.
    val df = spark.range(0, 5000).select(
      ((col("id") * 2654435761L) % 100000L).as("key"), col("id").as("payload"))
      .distinct()
    val got = Relational.globalRowNumber(df, col("key"), 8, "sk")
    // 1. sk is exactly the global dense rank by key.
    val check = got.withColumn("want",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("key"))).cast("long"))
    assert(check.filter(col("sk") =!= col("want")).count() == 0)
    // 2. payload column untouched, no rows lost.
    assert(got.count() == df.count())
    assert(got.columns.toSet == Set("key", "payload", "sk"))
    // 3. Plan shape: the big data range-partitions; the ONLY Window allowed is
    // the numPartitions-row offsets prefix sum — no Window node may see the
    // big-data lineage (the payload column), which is what the naive
    // `row_number() OVER (ORDER BY key)` one-partition formulation would do.
    got.count() // finalize the adaptive plan before inspecting it
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected a range partition in:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(l => !l.contains("payload")),
      s"a Window node sees the big-data lineage:\n$plan")
  }

  test("globalRowNumber is the global rank under AQE (one range-shuffle evaluation)") {
    // Offsets taken from a second evaluation of the range shuffle disagree
    // with the first under AQE over a cached input (as Bench caches its
    // tables): ~14,000 of these 15,000 ids came out wrong, some duplicated.
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val df = spark.range(0, 15000).select(
      ((col("id") * 7919L) % 15000L).as("key"), col("id").as("payload"))
      .repartition(5).persist()
    try {
      val got = Relational.globalRowNumber(df, col("key"), 16, "sk")
        .select("key", "sk").as[(Long, Long)].collect()
      assert(got.length === 15000)
      // key is a permutation of 0..14999, so its rank is key + 1.
      val wrong = got.count { case (k, sk) => sk != k + 1 }
      assert(wrong === 0, s"$wrong of 15000 ids differ from the rank")
    } finally {
      df.unpersist(blocking = true)
      spark.conf.set("spark.sql.adaptive.enabled", saved)
    }
  }
}
