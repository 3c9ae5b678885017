package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/**
 * The `queries` workload: one closed-loop client runs passes over a fixed
 * mix of `SparkEntry.queries`, in a seeded order per pass, for the measured
 * window. Each query is timed from the call of its query function until
 * every row and column has reached the client (`collect`), never with
 * `count()`, which lets Catalyst prune unread columns.
 *
 * Checks run outside the timer. Set-up's first pass writes each result as
 * parquet for the DuckDB oracle (compared by run.py) and keeps a digest;
 * every later execution must reproduce that digest.
 */
final class QueryWorkload(o: Harness.Opts) extends Workload(o) {
  import Harness._

  private val all = graft.SparkEntry.queries
  val mix: Seq[String] = Mixes.queries.sorted
  require(mix.forall(all.contains), s"unknown query in mix: ${mix.filterNot(all.contains)}")

  private val digests = mutable.Map.empty[String, String]
  private val resultsDir = s"${o.work}/results"
  private val scratch = Paths.get(o.work, "scratch")
  private var keepRdds = Set.empty[Int]

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Compare with the first result seen; the first one of the run is also
    * written for the oracle. Returns false on a mismatch. */
  private def check(name: String, df: DataFrame, rows: Array[Row]): Boolean = {
    val d = digest(rows)
    digests.get(name) match {
      case Some(ref) => ref == d
      case None =>
        digests(name) = d
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$resultsDir/$name")
        true
    }
  }

  /** Release blocks persisted by a finished query, as Bench does between
    * queries; localCheckpointed RDDs hold their only copy and stay. */
  private def dropTransientBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keepRdds.contains(id) && !rdd.isCheckpointed) rdd.unpersist(blocking = false)
    }

  protected def setUp(): Double = {
    val d = o.data
    // Bench's warm-up: cache the base tables. What is persisted now stays;
    // later persists are per-query and are released after each query.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    Await.result(Future.traverse(graft.Tables.all.toList) { t =>
      Future(graft.Tables(spark, d, t).count()) }, 5.minutes)
    keepRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    log("set-up: tables cached")
    // The warm passes build the disk-memoized fixtures (catalog clone seeds,
    // ANN index), compile every query's generated code and let the JIT
    // settle before the window opens.
    var bookkeeping = 0L
    for (pass <- 1 to QueryWorkload.WarmPasses) {
      val passStart = now()
      for (name <- mix) {
        try {
          val df = all(name)(spark, d)
          val rows = materialize(df)
          val t = now()
          if (!check(name, df, rows)) failures += s"$name: set-up result differs"
          bookkeeping += now() - t
        } catch { case e: Throwable => failures += s"$name: set-up failed: ${e.getMessage}" }
        val t = now(); dropTransientBlocks(); bookkeeping += now() - t
      }
      log(f"set-up: warm pass $pass took ${secs(now() - passStart)}%.2f s")
    }
    secs(bookkeeping)
  }

  final case class QueryRec(name: String, wall: Double, build: Double,
      plan: Double, exec: Double, jobs: JobAcc, buildJobs: Long,
      codegenN: Long, codegenNs: Long, rules: Map[String, Long], fs: Array[Double],
      persisted: Int, cachedBytes: Long, newPersisted: Int, activeStreams: Int,
      changedConfs: Int, streamProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  def run(): Outcome = {
    val setupS = setUpTimed()
    selfTest()
    Files.writeString(Paths.get(s"$resultsDir/oracle_sql.json"), Json.obj(
      mix.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s)))))
    val sc = spark.sparkContext
    val streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
    val jobProbe = new JobProbe(spans, clockOffsetNs)
    val heap = mutable.ArrayBuffer(Probes.liveHeapMb())

    val walls = mutable.ArrayBuffer.empty[(String, Boolean, Double)] // (query, traced, wall)
    val execCount = mutable.Map.empty[String, Int].withDefaultValue(0)
    val recs = mutable.ArrayBuffer.empty[QueryRec]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L; var failed = 0L
    val runSpan = spans.nextId()
    val windowStart = now()
    val deadline = windowStart + o.seconds * 1000000000L
    var pass = 0
    var stop = false
    while (!stop) {
      // A trace run traces every other pass; the untraced passes between
      // them give the tracing overhead.
      val traced = o.trace && pass % 2 == 1
      if (traced) sc.addSparkListener(jobProbe)
      val order = new scala.util.Random(o.seed * 1000003L + pass).shuffle(mix)
      val passId = spans.nextId()
      val passStart = now()
      var passQueryTime = 0.0
      var complete = true
      for (name <- order if complete) {
        if (pass > 0 && now() >= deadline) complete = false
        else {
          val ids = Array.fill(5)(spans.nextId()) // query, build, plan, execute, check
          val before = if (traced) Some((Probes.codegen, Probes.ruleTimes, Probes.fs,
            spark.conf.getAll, sc.getPersistentRDDs.keySet.toSet)) else None
          streamProbe.progress.clear()
          attempted += 1; execCount(name) += 1
          var ok = true
          val t0 = now()
          var t1, t2, t3 = t0
          var df: DataFrame = null; var rows: Array[Row] = null
          try {
            sc.setLocalProperty(Probes.SpanKey, ids(1).toString)
            df = all(name)(spark, o.data)
            t1 = now()
            sc.setLocalProperty(Probes.SpanKey, ids(2).toString)
            if (traced) df.queryExecution.executedPlan
            t2 = now()
            sc.setLocalProperty(Probes.SpanKey, ids(3).toString)
            rows = materialize(df)
            t3 = now()
          } catch { case e: Throwable =>
            t3 = now(); ok = false; failures += s"$name: ${e.getMessage}"
          } finally sc.setLocalProperty(Probes.SpanKey, null)
          val wall = secs(t3 - t0)
          passQueryTime += wall
          walls += ((name, traced, wall))
          val tc = now()
          if (ok && !check(name, df, rows)) { ok = false; failures += s"$name: result differs" }
          if (!ok) failed += 1
          val tcEnd = now()
          before.foreach { case ((cgN, cgNs), rules0, fs0, conf0, rdds0) =>
            jobProbe.quiesce()
            val (cgN1, cgNs1) = Probes.codegen
            val rules1 = Probes.ruleTimes
            val fs1 = Probes.fs
            val rdds1 = sc.getPersistentRDDs.keySet.toSet
            val conf1 = spark.conf.getAll
            val buildAcc = jobProbe.take(ids(1)); val planAcc = jobProbe.take(ids(2))
            val execAcc = jobProbe.take(ids(3))
            val jobs = new JobAcc
            Seq(buildAcc, planAcc, execAcc).foreach(jobs.add)
            recs += QueryRec(name, wall, secs(t1 - t0), secs(t2 - t1), secs(t3 - t2),
              jobs, buildAcc.jobs, cgN1 - cgN, cgNs1 - cgNs,
              rules1.map { case (k, v) => k -> (v - rules0.getOrElse(k, 0L)) }.filter(_._2 > 0),
              fs0.until(fs1, scratch), rdds1.size, Probes.cachedBytes(spark),
              (rdds1 -- rdds0).size, spark.streams.active.length,
              (conf0.keySet ++ conf1.keySet).count(k => conf0.get(k) != conf1.get(k)),
              streamProbe.progress.asScala.toList)
            val r = recs.last
            spans.add(Span(ids(0), passId, "query", t0, t3, Map("name" -> name,
              "new_persisted_rdds" -> r.newPersisted.toString,
              "active_streams" -> r.activeStreams.toString,
              "changed_confs" -> r.changedConfs.toString)))
            spans.add(Span(ids(1), ids(0), "build", t0, t1))
            spans.add(Span(ids(2), ids(0), "plan", t1, t2))
            spans.add(Span(ids(3), ids(0), "execute", t2, t3))
            spans.add(Span(ids(4), ids(0), "check", tc, tcEnd))
          }
          dropTransientBlocks()
        }
      }
      if (complete) passTimes += passQueryTime
      if (traced) {
        sc.removeSparkListener(jobProbe)
        spans.add(Span(passId, runSpan, "pass", passStart, now(), Map("pass" -> pass.toString)))
      }
      heap += Probes.liveHeapMb()
      pass += 1
      stop = now() >= deadline
    }
    if (o.trace) spans.add(Span(runSpan, 0L, "run", windowStart, now()))

    val untraced = walls.filterNot(_._2).map(_._3).toSeq
    // Latency percentiles are taken over each query's best latency in the
    // window (best-of-k, as Bench does: a whole run on a shared box slows
    // down together, and its first window pass still carries JIT work), so
    // the mix's composition does not shift with where the window cuts the
    // last pass either; cycle_s is one pass at those latencies.
    val perQueryBest = mix.map(n => walls.collect { case (`n`, false, w) => w }.min)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> median(perQueryBest),
      "op_p75_s" -> percentile(perQueryBest, 0.75),
      "cycle_s" -> perQueryBest.sum,
      "throughput_per_s" -> mix.size / perQueryBest.sum,
      "heap_live_mb" -> median(heap.toSeq))
    val layers = if (o.trace) layerMetrics(recs.toSeq, walls.toSeq) else Map.empty[String, Double]
    if (o.trace) spans.writeJsonl(Paths.get(s"${o.work}/spans.jsonl"))
    val perQuery = recs.groupBy(_.name).map { case (n, rs) =>
      n -> Json.obj(Seq("wall_s" -> Json.num(median(rs.map(_.wall).toSeq)),
        "residual_max_pct" -> Json.num(rs.map(residualPct).max)))
    }
    Outcome(if (o.trace) layers else e2e, attempted, failed, failures.toSeq, Map(
      "executions" -> Json.obj(execCount.toSeq.map { case (k, v) => k -> v.toString }),
      "passes_s" -> passTimes.map(Json.num).mkString("[", ",", "]"),
      "heap_samples_mb" -> heap.map(Json.num).mkString("[", ",", "]"),
      "query_median_s" -> Json.obj(walls.groupBy(_._1).toSeq.map { case (n, ws) =>
        n -> Json.num(median(ws.map(_._3).toSeq)) }),
      "traced_queries" -> Json.obj(perQuery)))
  }

  private def residualPct(r: QueryRec): Double =
    100 * math.abs(r.wall - r.build - r.plan - r.exec) / r.wall

  /** Per-layer totals per mix pass over the traced passes. */
  private def layerMetrics(recs: Seq[QueryRec], walls: Seq[(String, Boolean, Double)]): Map[String, Double] = {
    val passes = (recs.size.toDouble / mix.size).max(1e-9)
    def per(f: QueryRec => Double): Double = recs.map(f).sum / passes
    val self = spans.selfTimes
    def rule(name: String) = per(_.rules.getOrElse(name, 0L) / 1e9)
    val progress = recs.flatMap(_.streamProgress).filter(_.numInputRows > 0)
    def medianWall(n: String, traced: Boolean) =
      median(walls.collect { case (`n`, `traced`, w) => w }.toSeq)
    val overhead = median(mix.map(n => medianWall(n, true) / medianWall(n, false)).filterNot(_.isNaN))
    Map(
      "queries.build_s" -> per(_.build),
      "queries.build_jobs" -> per(_.buildJobs.toDouble),
      "catalyst.plan_s" -> per(_.plan),
      "codegen.compiles" -> per(_.codegenN.toDouble),
      "codegen.compile_s" -> per(_.codegenNs / 1e3),
      "plans.mview_rewrite_s" -> rule("MviewRewriteRule"),
      "plans.rely_join_elim_s" -> rule("RelyJoinEliminationRule"),
      "plans.bin_range_join_s" -> rule("BinRangeJoinRule"),
      "exec.jobs" -> per(_.jobs.jobs.toDouble),
      "exec.job_wall_s" -> per(_.jobs.jobWallMs / 1e3),
      "exec.tasks" -> per(_.jobs.tasks.toDouble),
      "exec.task_s" -> per(_.jobs.taskMs / 1e3),
      "exec.task_cpu_s" -> per(_.jobs.cpuNs / 1e9),
      "exec.gc_s" -> per(_.jobs.gcMs / 1e3),
      "exec.shuffle_read_mb" -> per(_.jobs.shRead / 1048576.0),
      "exec.shuffle_write_mb" -> per(_.jobs.shWrite / 1048576.0),
      "exec.spill_mb" -> per(_.jobs.spill / 1048576.0),
      "driver.outside_jobs_s" -> per(r => r.wall - Probes.unionLength(r.jobs.intervals.toSeq) / 1e9),
      "sources.fs_read_mb" -> per(_.fs(0)),
      "sources.fs_written_mb" -> per(_.fs(1)),
      "sources.files_created" -> per(_.fs(2)),
      "sources.created_mb" -> per(_.fs(3)),
      "tables.persisted_rdds" -> recs.map(_.persisted.toDouble).sum / recs.size,
      "tables.cached_mb" -> recs.map(_.cachedBytes / 1048576.0).sum / recs.size,
      "leaks.new_persisted_rdds" -> per(_.newPersisted.toDouble),
      "leaks.active_streams" -> per(_.activeStreams.toDouble),
      "leaks.changed_confs" -> per(_.changedConfs.toDouble),
      "trace.overhead_pct" -> 100 * (overhead - 1),
      "trace.residual_max_pct" -> recs.map(residualPct).max,
      "self.query_s" -> self.getOrElse("query", 0.0) / passes,
      "self.build_s" -> self.getOrElse("build", 0.0) / passes,
      "self.plan_s" -> self.getOrElse("plan", 0.0) / passes,
      "self.execute_s" -> self.getOrElse("execute", 0.0) / passes,
      "self.job_s" -> self.getOrElse("job", 0.0) / passes,
    ) ++ StreamWorkload.progressMetrics(progress, passes)
  }
}

object QueryWorkload {
  val WarmPasses = 2
}
