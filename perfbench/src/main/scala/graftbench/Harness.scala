package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark harness for graft. One process runs one workload:
 *
 *   graftbench.Harness --workload queries|stream_ingest
 *     --data <dir of generated tables> --work <scratch dir> --seconds <n>
 *     --seed <n> --trace 0|1 --out <result.json>
 *
 * It sets up a session (set-up time runs from JVM start, as a user's process
 * would pay it), measures for `--seconds`, and writes one JSON object with
 * the metrics, the operation counts and the box record. `--trace 1` also
 * registers the listeners and per-call timers and reports per-layer
 * metrics; the spans go to `<work>/spans.jsonl`.
 */
object Harness {
  final case class Opts(workload: String, data: String, work: String, seconds: Int,
      seed: Long, trace: Boolean, out: String)

  /** What a workload hands back: metrics plus operation counts. */
  final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
      failures: Seq[String], extra: Map[String, String] = Map.empty)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("data"), kv("work"), kv("seconds").toInt,
      kv("seed").toLong, kv.getOrElse("trace", "0") == "1", kv("out"))
    val box = Box.start()
    val outcome = o.workload match {
      case "queries" => new QueryWorkload(o).run()
      case "stream_ingest" => new StreamWorkload(o).run()
      case w => sys.error(s"unknown workload: $w")
    }
    val json = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "metrics" -> Json.obj(outcome.metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "failures" -> outcome.failures.take(50).map(Json.str).mkString("[", ",", "]"),
      "box" -> box.finish()) ++ outcome.extra)
    Files.writeString(Paths.get(o.out), json + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Bench's session posture, with every path the engine writes pointed
    * inside this run's work directory. At most 4 cores, so that figures
    * from boxes with more cores stay comparable. */
  def session(work: String): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors).toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.cacheTables", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.scratchDir", s"$work/scratch")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.LogHygiene.muteBenignWindowWarning()
    s
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def now(): Long = System.nanoTime()
  private val t0 = now()
  def log(msg: String): Unit = System.err.println(f"[graftbench ${secs(now() - t0)}%8.2f s] $msg")
  def secs(ns: Long): Double = ns / 1e9
}

/** nproc, load average at start, and busy / steal share of the CPU time that
  * passed during the run, from /proc/stat. Recorded, never gated on. */
final class Box private (load: Double, stat0: Option[Array[Long]]) {
  def finish(): String = {
    val d = (Box.procStat() zip stat0).map { case (a, b) => a.zip(b).map(t => t._1 - t._2) }
    val (busy, steal) = d.map { v =>
      val total = v.sum.toDouble.max(1)
      val idle = v(3) + (if (v.length > 4) v(4) else 0L)
      (100 * (total - idle) / total, if (v.length > 7) 100 * v(7) / total else 0.0)
    }.getOrElse((Double.NaN, Double.NaN))
    Json.obj(Seq("nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "load_avg_start" -> Json.num(load), "busy_pct" -> Json.num(busy),
      "steal_pct" -> Json.num(steal)))
  }
}

object Box {
  def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().split("\\s+").drop(1).map(_.toLong)) finally src.close()
    } catch { case _: Throwable => None }

  def start(): Box = new Box(
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
    procStat())
}

/** What both workloads share: the session, its set-up and the checks. */
abstract class Workload(o: Harness.Opts) {
  import Harness._
  protected var spark: SparkSession = _
  protected val spans = new Spans
  protected val clockOffsetNs: Long = System.currentTimeMillis() * 1000000L - now()
  protected val failures = mutable.ArrayBuffer.empty[String]

  /** Set-up work on the live session: caches, memos, fixtures and warm-up.
    * Returns the seconds spent on benchmark bookkeeping (reference results,
    * checks), which are not set-up work. */
  protected def setUp(): Double

  /** Seconds from JVM start until the first timed operation can run. */
  protected def setUpTimed(): Double = {
    val jvmStartNs = now() - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    spark = session(o.work)
    log("set-up: session")
    val bookkeeping = setUp()
    secs(now() - jvmStartNs) - bookkeeping
  }

  /** The timed action: every row and column reaches the client. */
  protected def materialize(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
    df.collect()

  /** Fails the run unless `materialize` evaluates a column that `count()`
    * would prune: the column's only cost is a counting UDF. */
  protected def selfTest(): Unit = {
    import org.apache.spark.sql.functions.{col, udf}
    val calls = spark.sparkContext.longAccumulator("graftbench.selftest")
    val costly = udf((x: Long) => { calls.add(1); x * 31 })
    val df = spark.range(1000).select(col("id"), costly(col("id")).as("costly"))
    df.count()
    val underCount = calls.sum
    materialize(df)
    require(underCount == 0 && calls.sum == 1000,
      s"self-test: count() evaluated the pruned column $underCount times, " +
        s"the timed action ${calls.sum - underCount} times (want 0 and 1000)")
  }

  def run(): Outcome
}
