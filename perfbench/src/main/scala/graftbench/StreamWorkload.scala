package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.NutritionPipeline
import graft.streaming.StreamingPipeline

/**
 * The `stream_ingest` workload: the reference pipeline, open loop.
 *
 * One long-running query runs fileChannel -> fromWire -> ingest(lookup) ->
 * upsertSink with back-to-back micro-batches. It first drains a fixed
 * pre-landed backlog (capacity); then one generator thread lands a file of
 * `NamesPerFile` names every `FileEveryMs` by atomic rename, while the main
 * thread runs `enrichmentPipeline(readStore(...))` every `EnrichEveryMs`.
 * A landed file's lag runs from when it was due to the end of the
 * micro-batch that committed it.
 *
 * Names come from the seed: a fixed share repeat an earlier name (dropped by
 * the dedup state) and a fixed share have an empty or no lookup payload
 * (dropped by the validity filter). The final store and the enrichment row
 * count are checked against what the generator's own log predicts.
 */
final class StreamWorkload(o: Harness.Opts) extends Workload(o) {
  import Harness._
  import StreamWorkload._

  private val openFiles = o.seconds * 1000 / FileEveryMs
  private val gen = new NameGen(o.seed, BacklogFiles * BacklogPerFile + openFiles * NamesPerFile)
  private var lookup: DataFrame = _

  private def land(dir: Path, k: Int, names: Seq[String]): Long = {
    val tmp = dir.resolve(s".landing-$k")
    Files.write(tmp, names.map(n => s"""{"value":"$n"}""").mkString("", "\n", "\n").getBytes(UTF_8))
    val size = Files.size(tmp)
    Files.move(tmp, dir.resolve(f"part-$k%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    size
  }

  private def pipeline(channel: String, store: String, ckpt: String): StreamingQuery =
    StreamingPipeline.upsertSink(
        StreamingPipeline.ingest(
          StreamingPipeline.fromWire(StreamingPipeline.fileChannel(spark, channel)), lookup)
          .withColumn("ingestion_ts", current_timestamp()),
        store, Seq("item_name"), Seq(col("data").desc))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  private def enrichOnce(store: String): (Array[Row], Double, Double) = {
    val t0 = now()
    val raw = StreamingPipeline.readStore(spark, store)
    val t1 = now()
    val rows = materialize(NutritionPipeline.enrichmentPipeline(raw))
    (rows, secs(t1 - t0), secs(now() - t1))
  }

  protected def setUp(): Double = {
    val s = spark
    import s.implicits._
    lookup = gen.lookup.toDF("item_name", "data").persist()
    lookup.count()
    // Warm the pipeline's plans and generated code on a private copy, with
    // micro-batches and enrichments the size of the measured ones.
    val base = Paths.get(o.work, "warm")
    val channel = Files.createDirectories(base.resolve("channel"))
    val q = pipeline(channel.toString, base.resolve("store").toString, base.resolve("ckpt").toString)
    try (0 until WarmBatches).foreach { k =>
      land(channel, k, gen.names.slice(k * WarmBatchNames, (k + 1) * WarmBatchNames))
      q.processAllAvailable()
      enrichOnce(base.resolve("store").toString)
    } finally q.stop()
    log("set-up: pipeline warm")
    0.0
  }

  def run(): Outcome = {
    val setupS = setUpTimed()
    selfTest()
    val sc = spark.sparkContext
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val root = Files.createDirectories(Paths.get(o.work, "stream"))
    val channel = Files.createDirectories(root.resolve("channel"))
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    val names = gen.names
    // file index -> (due ns, landed ns, names, bytes)
    val landed = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[String], Long)]()

    // Capacity: drain a pre-landed backlog.
    (0 until BacklogFiles).foreach { k =>
      val ns = names.slice(k * BacklogPerFile, (k + 1) * BacklogPerFile)
      val t = now(); landed.put(k, (t, t, ns, land(channel, k, ns)))
    }
    val backlogRows = BacklogFiles * BacklogPerFile
    val query = pipeline(channel.toString, store, ckpt)
    def inputRows = probe.progress.asScala.iterator.filter(_.id == query.id).map(_.numInputRows).sum
    def awaitRows(n: Long, timeoutNs: Long): Boolean = {
      val until = now() + timeoutNs
      while (inputRows < n && now() < until && query.isActive) Thread.sleep(5)
      inputRows >= n
    }
    if (!awaitRows(backlogRows, 120000000000L))
      throw new IllegalStateException(s"backlog not drained: ${query.exception}")
    // Capacity counts only the micro-batches that drained the backlog, not
    // the query's start-up before them.
    val drainMs = probe.progress.asScala.filter(_.id == query.id)
      .map(_.durationMs.get("triggerExecution").longValue).sum
    val capacity = backlogRows / (drainMs / 1e3)
    log("backlog drained")

    // Open loop.
    val openStart = now() + 100000000L
    val traceFrom = if (o.trace) openStart + o.seconds * 500000000L else Long.MaxValue
    var jobProbe: JobProbe = null
    val generator = new Thread(() => {
      (0 until openFiles).foreach { i =>
        val k = BacklogFiles + i
        val due = openStart + i.toLong * FileEveryMs * 1000000L
        val wait = due - now()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val ns = names.slice(backlogRows + i * NamesPerFile, backlogRows + (i + 1) * NamesPerFile)
        val bytes = land(channel, k, ns)
        landed.put(k, (due, now(), ns, bytes))
      }
    }, "graftbench-generator")
    generator.setDaemon(true)
    generator.start()
    val enrich = mutable.ArrayBuffer.empty[(Boolean, Double, Double)] // (traced, readStore, enrich)
    var attempted = 0L; var failed = 0L
    var nextEnrich = openStart + EnrichEveryMs * 1000000L
    var before: (Long, Long, Map[String, Long], Probes.Fs) = null
    while (generator.isAlive) {
      if (jobProbe == null && now() >= traceFrom) {
        jobProbe = new JobProbe(spans, clockOffsetNs); sc.addSparkListener(jobProbe)
        val (cgN, cgNs) = Probes.codegen
        before = (cgN, cgNs, Probes.ruleTimes, Probes.fs)
      }
      if (now() >= nextEnrich) {
        val traced = now() >= traceFrom
        attempted += 1
        try { val (_, r, e) = enrichOnce(store); enrich += ((traced, r, e)) }
        catch { case e: Throwable => failed += 1; failures += s"enrichment: ${e.getMessage}" }
        nextEnrich += EnrichEveryMs * 1000000L
      }
      Thread.sleep(2)
    }
    generator.join()
    val totalRows = names.size.toLong
    if (!awaitRows(totalRows, 60000000000L))
      failures += s"stream did not drain: ${inputRows} of $totalRows rows (${query.exception})"
    val heapLive = Probes.liveHeapMb()
    query.stop()
    if (jobProbe != null) { jobProbe.quiesce(); sc.removeSparkListener(jobProbe) }
    val (cgN1, cgNs1) = Probes.codegen
    val (rules1, fs1) = (Probes.ruleTimes, Probes.fs)
    val (persisted, cached) = (sc.getPersistentRDDs.size, Probes.cachedBytes(spark))
    val progress = probe.progress.asScala.toList.filter(_.id == query.id)

    // Lags, from the source log's file -> batch map and each batch's end.
    val endOf = progress.map(p => p.batchId -> batchEndNs(p)).toMap
    val fileBatch = sourceLog(Paths.get(ckpt, "sources", "0"))
    val lags = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val late = mutable.ArrayBuffer.empty[Double]
    (BacklogFiles until BacklogFiles + openFiles).foreach { k =>
      val (due, at, _, _) = landed.get(k)
      late += (at - due) / 1e6
      fileBatch.get(f"part-$k%06d.json").flatMap(endOf.get) match {
        case Some(end) => lags += ((due >= traceFrom, secs(end - due)))
        case None => ()
      }
    }

    // Checks: every landed file's valid names are in the store with their
    // payload, nothing else is, and enrichment emits one row per stored name.
    val expected = gen.expectedStore(names)
    val got = StreamingPipeline.readStore(spark, store).select("item_name", "data").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (0 until BacklogFiles + openFiles).foreach { k =>
      attempted += 1
      val (_, _, ns, _) = landed.get(k)
      val committed = fileBatch.contains(f"part-$k%06d.json")
      if (!committed || ns.exists(n => got.get(n) != expected.get(n))) {
        failed += 1; failures += s"file $k: store does not hold its names (committed=$committed)"
      }
    }
    val unexpected = got.keySet -- expected.keySet
    if (unexpected.nonEmpty) { failed += 1; failures += s"store holds ${unexpected.size} unexpected names" }
    attempted += 1
    val finalRows = enrichOnce(store)._1.length
    if (finalRows != expected.size) {
      failed += 1; failures += s"enrichment emitted $finalRows rows, expected ${expected.size}"
    }

    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> median(lags.filterNot(_._1).map(_._2).toSeq),
      "op_p75_s" -> percentile(lags.filterNot(_._1).map(_._2).toSeq, 0.75),
      "cycle_s" -> median(enrich.filterNot(_._1).map(e => e._2 + e._3).toSeq),
      "throughput_per_s" -> capacity,
      "heap_live_mb" -> heapLive)
    val metrics = if (!o.trace) e2e else {
      val traced = progress.filter(p => batchEndNs(p) >= traceFrom && p.numInputRows > 0)
      val runId = spans.nextId()
      spans.add(Span(runId, 0L, "run", traceFrom, now()))
      // Phase spans are laid end to end in execution order inside their
      // batch: progress reports phase durations, not their start times.
      traced.foreach { p =>
        val end = batchEndNs(p); val start = end - p.durationMs.get("triggerExecution") * 1000000L
        val id = spans.nextId()
        spans.add(Span(id, runId, "batch", start, end, Map("batch_id" -> p.batchId.toString,
          "rows" -> p.numInputRows.toString)))
        var t = start
        PhaseOrder.foreach { ph =>
          Option(p.durationMs.get(ph)).map(_.longValue).filter(_ > 0).foreach { ms =>
            spans.add(Span(spans.nextId(), id, ph, t, t + ms * 1000000L)); t += ms * 1000000L
          }
        }
      }
      val n = traced.size.max(1).toDouble
      val jobs = if (jobProbe == null) new JobAcc else jobProbe.take(0L)
      val walk = Files.walk(Paths.get(store))
      val storeFiles = try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toList finally walk.close()
      val ingestedBytes = landed.values.asScala.map(_._4).sum
      val self = spans.selfTimes
      val tracedLags = lags.filter(_._1).map(_._2).toSeq
      val (cgN, cgNs, rules0, fs0) = before
      def rule(name: String) = (rules1.getOrElse(name, 0L) - rules0.getOrElse(name, 0L)) / 1e9 / n
      val fsd = fs0.until(fs1, root).map(_ / n)
      Map(
        "codegen.compiles" -> (cgN1 - cgN) / n,
        "codegen.compile_s" -> (cgNs1 - cgNs) / 1e3 / n,
        "plans.mview_rewrite_s" -> rule("MviewRewriteRule"),
        "plans.rely_join_elim_s" -> rule("RelyJoinEliminationRule"),
        "plans.bin_range_join_s" -> rule("BinRangeJoinRule"),
        "sources.fs_read_mb" -> fsd(0),
        "sources.fs_written_mb" -> fsd(1),
        "sources.files_created" -> fsd(2),
        "sources.created_mb" -> fsd(3),
        "tables.persisted_rdds" -> persisted.toDouble,
        "tables.cached_mb" -> cached / 1048576.0,
        "exec.jobs" -> jobs.jobs / n,
        "exec.job_wall_s" -> jobs.jobWallMs / 1e3 / n,
        "exec.tasks" -> jobs.tasks / n,
        "exec.task_s" -> jobs.taskMs / 1e3 / n,
        "exec.task_cpu_s" -> jobs.cpuNs / 1e9 / n,
        "exec.gc_s" -> jobs.gcMs / 1e3 / n,
        "exec.shuffle_read_mb" -> jobs.shRead / 1048576.0 / n,
        "exec.shuffle_write_mb" -> jobs.shWrite / 1048576.0 / n,
        "exec.spill_mb" -> jobs.spill / 1048576.0 / n,
        "streaming.store_files" -> storeFiles.size.toDouble,
        "streaming.store_write_amp" -> storeFiles.map(Files.size).sum.toDouble / ingestedBytes,
        "operators.read_store_s" -> median(enrich.filter(_._1).map(_._2).toSeq),
        "operators.enrich_s" -> median(enrich.filter(_._1).map(_._3).toSeq),
        "generator.late_ms" -> late.max,
        "trace.overhead_pct" -> 100 * (median(tracedLags) / median(lags.filterNot(_._1).map(_._2).toSeq) - 1),
        "self.batch_s" -> self.getOrElse("batch", 0.0) / n,
        "self.job_s" -> self.getOrElse("job", 0.0) / n,
        "streaming.jobs_per_batch" -> (if (jobProbe == null) 0.0 else jobProbe.streamJobs.get / n),
      ) ++ progressMetrics(traced, 1.0)
    }
    if (o.trace) spans.writeJsonl(Paths.get(s"${o.work}/spans.jsonl"))
    Outcome(metrics, attempted, failed, failures.toSeq, Map(
      "batches" -> progress.count(_.numInputRows > 0).toString,
      "lag_files" -> lags.size.toString,
      "open_files" -> openFiles.toString,
      "backlog_rows" -> backlogRows.toString,
      "expected_store_rows" -> expected.size.toString))
  }
}

object StreamWorkload {
  val WarmBatches = 6
  val WarmBatchNames = 1500
  val BacklogFiles = 10
  val BacklogPerFile = 1000
  val FileEveryMs = 100
  val NamesPerFile = 100
  val EnrichEveryMs = 2000
  val PhaseOrder = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
    "commitOffsets")

  def batchEndNs(p: StreamingQueryProgress): Long = {
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val endMs = startMs + p.durationMs.get("triggerExecution").longValue
    endMs * 1000000L - (System.currentTimeMillis() * 1000000L - System.nanoTime())
  }

  /** file name -> micro-batch, from the file source's metadata log. */
  def sourceLog(dir: Path): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f, UTF_8).asScala.flatMap(l => entry.findFirstMatchIn(l).map { m =>
        m.group(1).split('/').last -> m.group(2).toLong
      })
    }.toMap
  }

  /** Micro-batch phase metrics, as means per batch (or per `cycles`). */
  def progressMetrics(ps: Seq[StreamingQueryProgress], cycles: Double): Map[String, Double] = {
    val n = ps.size.max(1).toDouble
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / n
    val state = ps.flatMap(_.stateOperators)
    Map(
      "streaming.batches" -> ps.size / cycles,
      "streaming.rows_per_batch" -> ps.map(_.numInputRows).sum / n,
      "streaming.batch_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.state_rows" -> ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0),
      "streaming.state_commit_s" -> state.map(_.commitTimeMs).sum / 1e3 / n)
  }
}

/** Seeded item names: a share repeat an earlier name, and each new name's
  * lookup payload is valid, empty (`[]`) or missing in fixed shares. */
final class NameGen(seed: Long, count: Int) {
  private val rnd = new scala.util.Random(seed)
  private val fresh = mutable.ArrayBuffer.empty[String]
  val names: Seq[String] = (0 until count).map { _ =>
    if (fresh.nonEmpty && rnd.nextDouble() < 0.2) fresh(rnd.nextInt(fresh.size))
    else { val n = f"dish-${seed & 0xffff}%04x-${fresh.size}%06d"; fresh += n; n }
  }
  private val payloads: Map[String, Option[String]] = fresh.iterator.zipWithIndex.map { case (n, i) =>
    val r = rnd.nextDouble()
    n -> (if (r < 0.1) Some("[]") else if (r < 0.15) None
      else Some(s"""[{"name":"$n","calories":${50 + i * 37 % 900},"protein_g":${i % 40}""" +
        (if (i % 3 == 0) "" else s""","fat_total_g":${i % 25}.5""") + "}]"))
  }.toMap
  def lookup: Seq[(String, String)] = payloads.toSeq.collect { case (n, Some(d)) => n -> d }.sortBy(_._1)
  /** The store the names predict: each distinct name with a non-empty payload. */
  def expectedStore(landed: Seq[String]): Map[String, String] =
    landed.distinct.flatMap(n => payloads(n).filter(_ != "[]").map(n -> _)).toMap
}
