package graft

import graft.functions.VectorOps
import graft.plans.VectorExpressions
import org.apache.spark.sql.functions._

/**
 * The native codegen kernels (graft.plans) must be bit-identical to the composed
 * higher-order-function versions (graft.functions.VectorOps) — that identity is what
 * lets the fast kernel replace the HOF path under oracle-verified queries.
 */
class VectorExpressionSpec extends GraftSuite {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfTiny).limit(50).cache()

  test("native dot == zip_with/aggregate dot, exactly") {
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .select(VectorExpressions.vecDot(col("a.embedding"), col("b.embedding")).as("fast"),
        VectorOps.dot(col("a.embedding"), col("b.embedding")).as("slow"))
    assert(pairs.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("native cosine == composed cosine, exactly") {
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .select(VectorExpressions.vecCosine(col("a.embedding"), col("b.embedding")).as("fast"),
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("slow"))
    assert(pairs.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("interpreted eval matches codegen") {
    // Force the interpreted path through a local Row eval via collect on a tiny df.
    val vals = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .select(VectorExpressions.vecDot(col("a"), col("b")).as("d"),
        VectorExpressions.vecCosine(col("a"), col("b")).as("c"))
      .collect().head
    assert(vals.getDouble(0) === 32.0)
    assert(math.abs(vals.getDouble(1) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-15)
  }

  test("null inputs yield null") {
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    val r = df.select(VectorExpressions.vecDot(col("a"), col("b"))).collect().head
    assert(r.isNullAt(0))
  }

  test("a NULL element propagates to a NULL score, never a fabricated 0-lane score") {
    // The composed aggregate(zip_with(...)) built-ins propagate element
    // NULLs; the native kernels must match — reading a null slot as 0.0
    // would return a plausible wrong score.
    val df = Seq((Seq(Some(1.0f), None, Some(3.0f)), Seq(Some(2.0f), Some(4.0f), Some(6.0f))))
      .toDF("a", "b")
    val r = df.select(
      VectorExpressions.vecDot(col("a"), col("b")).as("d"),
      VectorExpressions.vecCosine(col("a"), col("b")).as("c")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("length-mismatched arrays score null, not a prefix score") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      VectorExpressions.vecDot(col("a"), col("b")).as("d"),
      VectorExpressions.vecCosine(col("a"), col("b")).as("c")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("mixed float/double arrays promote and score exactly") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(VectorExpressions.vecDot(col("a"), col("b"))).collect().head
    assert(r.getDouble(0) === 32.0)
  }

  test("kmeans centroids are deterministic across runs and feed IVF with recall") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sfTiny).select(col("vec_id"), col("embedding"))
    def centroidSet() = Similarity.kmeansCentroids(corpus, 8, 2)
      .select(col("centroid_id"), col("c_vec"))
      .as[(Int, Array[Double])].collect().map { case (id, v) => (id, v.toSeq) }.toMap
    val c1 = centroidSet(); val c2 = centroidSet()
    assert(c1 === c2, "two k-means runs over the same data must agree exactly")
    assert(c1.nonEmpty && c1.values.forall(_.size === 64))
    // Trained IVF recall vs exact top-k for 10 probe queries.
    val qs = Tables.embeddings(spark, sfTiny).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val centroids = Similarity.kmeansCentroids(corpus, 8, 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(qs, corpus, 10))
    val ivf = pairs(Similarity.ivfTopK(qs, corpus, centroids, 10, 2))
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.2, s"trained-IVF recall $recall vs exact") // nprobe=2 of 8
  }

  test("PQ: deterministic codes, perfect cluster consistency on clusterable data") {
    import graft.operators.Similarity
    // 3 well-separated centers + small deterministic per-dim noise: the
    // regime PQ is FOR. On this data the quantizer must basically solve it.
    val dim = 16
    val rows = (0 until 60).map { i =>
      val c = i % 3
      val v = (0 until dim).map(d =>
        (if (d % 3 == c) 5.0 else 0.0) + ((i * 7 + d) % 10) / 100.0).toArray
      (i.toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq1 = pairs(Similarity.pqTopK(qs, corpus, 5, m = 4, codebookK = 8, iters = 2))
    val pq2 = pairs(Similarity.pqTopK(qs, corpus, 5, m = 4, codebookK = 8, iters = 2))
    assert(pq1 === pq2, "PQ must be deterministic across runs")
    assert(pq1.size == 6 * 5)
    // Within a cluster the vectors are near-duplicates — top-5 ORDER there is
    // noise-determined and no quantizer preserves it. The property PQ must
    // deliver is cluster consistency: every returned neighbor shares the
    // query's cluster (inter-cluster distance >> quantization error).
    val offCluster = pq1.filterNot { case (qid, cid) => qid % 3 == cid % 3 }
    assert(offCluster.isEmpty, s"PQ returned off-cluster neighbors: $offCluster")
  }

  test("IVF-PQ composition: probed-bucket candidates, PQ scoring, cluster-consistent") {
    import graft.operators.Similarity
    val dim = 16
    val rows = (0 until 60).map { i =>
      val c = i % 3
      val v = (0 until dim).map(d =>
        (if (d % 3 == c) 5.0 else 0.0) + ((i * 7 + d) % 10) / 100.0).toArray
      (i.toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val qs = corpus.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val centroids = Similarity.kmeansCentroids(corpus, 3, 2)
    val got = Similarity.ivfPqTopK(qs, corpus, centroids, 5, nprobe = 1,
      m = 4, codebookK = 8, iters = 2)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(got.size == 6 * 5)
    val offCluster = got.filterNot { case (qid, cid) => qid % 3 == cid % 3 }
    assert(offCluster.isEmpty,
      s"IVF-PQ returned off-cluster neighbors: $offCluster")
  }

  test("SQ8: lossless on {-1,0,1} vectors — ranking equals brute force exactly") {
    import graft.operators.Similarity
    // Components in {-1,0,1} quantize to {-127,0,127} and dequantize EXACTLY,
    // so the SQ arm must reproduce the exact arm's ranking bit-for-bit.
    val dims = 8
    val corpus = spark.range(1, 40).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dims - 1}), " +
        "j -> CAST(CAST(pmod(id * (j + 3), 3) AS INT) - 1 AS FLOAT))")
        .as("embedding"))
    val qs = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val sq = Similarity.sqTopK(qs, corpus, 5)
      .select(col("q_id"), col("rnk"), col("vec_id"))
      .as[(Long, Long, Long)].collect().toSet
    val exactDot = corpus.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", round(VectorOps.dot(col("embedding"), col("q_vec")), 4))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc_nulls_last, col("vec_id"))
    val exact = exactDot.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5).select(col("q_id"), col("rnk"), col("vec_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(sq === exact)
    assert(sq.size === 15, "3 queries x top-5")
  }

  test("kmeans at iters=10 keeps a constant-size plan (no lineage blow-up)") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sfTiny).select(col("vec_id"), col("embedding"))
    val c10 = Similarity.kmeansCentroids(corpus, 4, 10)
    // Centroids are driver-materialized between Lloyd steps, so the returned plan is
    // a LocalRelation whose size is independent of iters — at iters=10 the lineage
    // would otherwise be 10 unrolled corpus passes deep.
    val planLines = c10.queryExecution.analyzed.numberedTreeString.linesIterator.size
    assert(planLines <= 3, s"plan must not grow with iters; got $planLines lines")
    assert(c10.count() >= 1 && c10.count() <= 4)
  }

  test("hash-sampled training is deterministic and feeds full-corpus IVF") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sfTiny).select(col("vec_id"), col("embedding"))
    def run() = Similarity.kmeansCentroids(corpus, 8, 2, trainFraction = 0.5)
      .select(col("centroid_id"), col("c_vec"))
      .as[(Int, Array[Double])].collect().map { case (id, v) => (id, v.toSeq) }.toMap
    val c1 = run(); val c2 = run()
    assert(c1 === c2, "sampled training must be reproducible (hash sample, no RNG)")
    assert(c1.nonEmpty && c1.values.forall(_.size === 64))
    // Sample-trained centroids still bucket the FULL corpus for probing.
    val centroids = Similarity.kmeansCentroids(corpus, 8, 2, trainFraction = 0.5)
    val qs = Tables.embeddings(spark, sfTiny).filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val hits = Similarity.ivfTopK(qs, corpus, centroids, 5, 2).count()
    assert(hits > 0)
  }

  test("IVF top-k achieves reasonable recall against the exact brute force") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sfTiny).select(col("vec_id"), col("embedding"))
    val qs = Tables.embeddings(spark, sfTiny).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val centroids = Tables.embeddings(spark, sfTiny).filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("c_vec"))
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(qs, emb, 10))
    val ivf = pairs(Similarity.ivfTopK(qs, emb, centroids, 10, 4))
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.2, s"IVF recall $recall vs exact") // nprobe=4 of 16 buckets
    // ivfTopK may legitimately return < k rows when probed buckets are small.
    assert(ivf.size <= exact.size)
  }

  test("seeded sample is deterministic across runs") {
    val li = Tables.lineitem(spark, sfTiny)
    val a = li.sample(withReplacement = false, 0.1, seed = 42)
      .agg(count(lit(1)), sum(col("l_quantity"))).collect().head
    val b = li.sample(withReplacement = false, 0.1, seed = 42)
      .agg(count(lit(1)), sum(col("l_quantity"))).collect().head
    assert(a === b)
  }

  test("md5_prefix60 equals the conv(substr(md5)) composition exactly") {
    val toks = Tables.documents(spark, sfTiny)
      .select(explode(split(col("text"), " ")).as("t")).limit(5000)
    val cmp = toks.select(
      graft.functions.TextOps.md5Long(col("t")).as("fast"),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
  }

  test("int8 quantization matches a local reference and roundtrips within one step") {
    // The query's emitted identity (scale_bp, code_sum, code_md5) must equal an
    // independent local recomputation — not just satisfy a bound any floor-based
    // codes would meet — and the dequantized codes must sit within scale/127 of
    // the original values (the invariant that makes the quantized store usable
    // for recall-bounded ANN).
    val q = SparkEntry.queries("q_vec_quantize")(spark, sfTiny)
      .select("vec_id", "scale_bp", "code_sum", "code_md5")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val rows = Tables.embeddings(spark, sfTiny).limit(10)
      .select(col("vec_id"), col("embedding")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).map(_.toDouble)
      val scale = v.map(math.abs).max
      val codes = v.map(x => math.floor(127.0 * x / scale).toInt)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(codes.mkString(",").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(q(id) === ((id, math.floor(scale * 10000).toLong,
        codes.map(_.toLong).sum, md5)), s"vec $id: query != local reference")
      codes.zip(v).foreach { case (code, x) =>
        val deq = code * scale / 127.0
        assert(math.abs(deq - x) <= scale / 127.0 + 1e-12,
          s"vec $id: |$deq - $x| > step")
      }
    }
  }

  test("two-stage re-rank: exact scores inside candidates, full-candidate recall repair") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding"))
    val qs = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // With candK = |corpus|, stage 1 drops nothing — the re-rank must equal
    // brute force EXACTLY (the quantizer's ranking errors are fully repaired).
    val n = corpus.count().toInt
    val full = Similarity.sqRerankTopK(qs, corpus, 5, n)
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(qs, corpus, 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(full === brute, "full-candidate re-rank must equal brute force")
    // With a narrow candidate list the output scores are still EXACT cosines
    // (stage 2 rescores), and each query still yields k rows.
    val narrow = Similarity.sqRerankTopK(qs, corpus, 5, 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(narrow.groupBy(_._1).forall(_._2.length == 5))
    val bruteScores = brute.groupBy(_._1).map { case (q, rows) =>
      q -> rows.map(r => r._3 -> r._4).toMap }
    narrow.foreach { case (q, _, v, c) =>
      bruteScores(q).get(v).foreach(exact => assert(exact === c,
        s"re-ranked score must be the exact cosine for ($q,$v)"))
    }
  }

  test("hard negatives: never same-label, never self, and are the label-filtered top-k") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), col("embedding"), col("label"))
    val anchors = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val mined = Similarity.mineHardNegatives(anchors, corpus, 3)
      .as[(Long, Int, Long, Long, Int, Double)].collect()
    assert(mined.forall { case (q, ql, _, v, nl, _) => v != q && nl != ql })
    assert(mined.groupBy(_._1).forall(_._2.length == 3))
    // Agreement with the naive formulation: label-filter the full brute-force
    // ranking and the mined set must be exactly its per-anchor prefix.
    val labels = corpus.select(col("vec_id").as("c_id"), col("label").as("c_label"))
    val naive = Similarity.bruteForceTopK(
        anchors.select(col("q_id"), col("q_vec")), corpus.drop("label"), 1000)
      .join(labels, col("vec_id") === col("c_id"))
      .join(anchors.select(col("q_id"), col("q_label")), "q_id")
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("rnk2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk2") <= 3)
      .select(col("q_id"), col("rnk2"), col("vec_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(mined.map(t => (t._1, t._3, t._4)).toSet === naive)
  }

  test("SQL registration works") {
    VectorExpressions.register(spark)
    emb.limit(5).createOrReplaceTempView("emb_t")
    val n = spark.sql(
      "SELECT vec_cosine(a.embedding, b.embedding) AS c FROM emb_t a JOIN emb_t b")
      .filter(col("c").isNotNull).count()
    assert(n === 25)
  }

  test("VectorIndex incremental add(): appended parts reuse codebooks, old codes untouched") {
    import graft.operators.VectorIndex
    // A private dataset dir whose embeddings.parquet is a DIRECTORY of parts —
    // the shape the incremental path detects growth in.
    val ds = new java.io.File(tmpDir("graft_vds"))
    // VectorIndex persists the index under a scratch dir keyed by the
    // dataset path, which is fresh per run: reclaim it at exit.
    GraftSuite.deleteOnExit(Tables.scratchDir(spark, "vecindex", ds.getAbsolutePath))
    val embDir = new java.io.File(ds, "embeddings.parquet"); embDir.mkdirs()
    val src = Tables.embeddings(spark, sfTiny)
    def addPart(ids: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                name: String): Unit = {
      val tmp = new java.io.File(tmpDir("graft_vpart"))
      src.filter(ids(col("vec_id"))).select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      assert(part.renameTo(new java.io.File(embDir, name)))
    }
    addPart(_ < 80, "part-a.parquet")
    val (m1, idx1) = VectorIndex.pq(spark, ds.getAbsolutePath)
    val codes1 = idx1.drop("embedding").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(codes1.size === 80)
    // Append-only growth: a second part lands; the rebuild must be the FAISS
    // add() — identical codebooks (no training ran on the grown corpus; a
    // retrain over 100 vectors would move the seeded-Lloyd centroids), old
    // vectors' codes byte-identical, new vectors encoded under the old model.
    addPart(c => c >= 80 && c < 100, "part-b.parquet")
    VectorIndex.resetMemo()
    val (m2, idx2) = VectorIndex.pq(spark, ds.getAbsolutePath)
    assert(m2.books === m1.books, "append must reuse the trained codebooks")
    val codes2 = idx2.drop("embedding").collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(codes2.size === 100)
    codes1.foreach { case (id, c) =>
      assert(codes2(id) === c, s"old vec $id re-coded by an append") }
    // SQ side: per-vector deterministic — the incrementally-added codes must
    // equal a from-scratch encode of the same rows.
    val sq2 = VectorIndex.sq(spark, ds.getAbsolutePath)
    assert(sq2.count() === 100)
    // A NON-append change (a previously-indexed part rewritten) must refuse
    // the incremental path and retrain from scratch on the current corpus.
    addPart(_ < 70, "part-a.parquet") // same name, different bytes
    VectorIndex.resetMemo()
    // In-JVM dataset mutation is outside the session-static posture — drop
    // the memoized DataFrame and the shared file-status cache so the full
    // rebuild lists the mutated directory (cross-JVM this is automatic).
    Tables.clearCache(spark)
    spark.catalog.refreshByPath(embDir.getAbsolutePath)
    val (_, idx3) = VectorIndex.pq(spark, ds.getAbsolutePath)
    assert(idx3.count() === 90, "rewritten part must trigger a full rebuild")
  }
}
