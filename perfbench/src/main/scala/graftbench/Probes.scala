package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One interval of the trace: `parent` is 0 for a root. Times are
  * `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
    attrs: Map[String, String] = Map.empty)

/** In-memory span buffer, written once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Wall time of each span minus the part its children cover. */
  def selfTimes: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val covered = Probes.unionLength(kids.getOrElse(s.id, Nil).map { c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)) })
      (s.end - s.start - covered) / 1e9
    }(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"attrs":{${attrs.mkString(",")}}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Counters read from outside the engine: Spark listeners, codegen and rule
  * metering, Hadoop FS statistics and the block manager. */
object Probes {
  /** Local property naming the span a Spark job belongs to. */
  val SpanKey = "graftbench.span"

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def codegen: (Long, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  /** Effective + ineffective time per optimizer rule (ns), by simple class name. */
  def ruleTimes: Map[String, Long] = {
    val row = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent().linesIterator
      .collect { case row(name, _, total, _, _) => name.split('.').last -> total.toLong }
      .toMap
  }

  /** Local-filesystem traffic: Hadoop's byte counters for the `file`
    * scheme (it keeps no operation counts for it), and when they were read. */
  final case class Fs(readBytes: Long, writtenBytes: Long, atMs: Long) {
    /** (MB read, MB written, files written, MB in them) since this snapshot,
      * the files being those under `dir` modified since. */
    def until(after: Fs, dir: java.nio.file.Path): Array[Double] = {
      val written = if (!java.nio.file.Files.isDirectory(dir)) Seq.empty[Long] else {
        val w = java.nio.file.Files.walk(dir)
        try w.iterator().asScala.flatMap { p =>
          scala.util.Try(java.nio.file.Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])).toOption
            .filter(a => a.isRegularFile && a.lastModifiedTime.toMillis >= atMs).map(_.size)
        }.toList finally w.close()
      }
      Array((after.readBytes - readBytes) / 1048576.0, (after.writtenBytes - writtenBytes) / 1048576.0,
        written.size.toDouble, written.sum / 1048576.0)
    }
  }

  def fs: Fs = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Fs(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum, System.currentTimeMillis())
  }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Heap in use right after a full collection, in MB. The first
    * collection lets Spark's ContextCleaner release what the last query's
    * weakly held broadcasts and shuffles pinned; the second frees it. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Job, stage and task totals of one span. */
final class JobAcc {
  var jobs = 0L; var jobWallMs = 0L; var tasks = 0L; var taskMs = 0L
  var cpuNs = 0L; var gcMs = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(a: JobAcc): Unit = {
    jobs += a.jobs; jobWallMs += a.jobWallMs; tasks += a.tasks; taskMs += a.taskMs
    cpuNs += a.cpuNs; gcMs += a.gcMs; shRead += a.shRead; shWrite += a.shWrite
    spill += a.spill; intervals ++= a.intervals
  }
}

/** Spark job, stage and task totals, attributed to the span that launched
  * the job (the `SpanKey` local property, inherited by child threads). */
final class JobProbe(spans: Spans, clockOffsetNs: Long) extends SparkListener {
  private val acc = new ConcurrentHashMap[Long, JobAcc]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, start ms)
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val started = new AtomicLong; private val ended = new AtomicLong
  private val stagesIn = new AtomicLong; private val stagesOut = new AtomicLong
  /** Jobs launched by a streaming query's micro-batches. */
  val streamJobs = new AtomicLong

  private def accFor(span: Long): JobAcc = acc.computeIfAbsent(span, _ => new JobAcc)
  private def toNano(ms: Long): Long = ms * 1000000L - clockOffsetNs

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val span = Option(j.properties).flatMap(p => Option(p.getProperty(Probes.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    if (Option(j.properties).exists(_.getProperty("sql.streaming.queryId") != null))
      streamJobs.incrementAndGet()
    jobSpan.put(j.jobId, (span, j.time))
    j.stageIds.foreach(stageSpan.put(_, span))
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val rec = jobSpan.remove(j.jobId)
    if (rec != null) {
      val a = accFor(rec._1)
      a.synchronized {
        a.jobs += 1; a.jobWallMs += j.time - rec._2
        a.intervals += ((toNano(rec._2), toNano(j.time)))
      }
      spans.add(Span(spans.nextId(), rec._1, "job", toNano(rec._2), toNano(j.time),
        Map("job_id" -> j.jobId.toString)))
    }
    ended.incrementAndGet()
  }
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = stagesIn.incrementAndGet()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val m = s.stageInfo.taskMetrics
    val a = accFor(stageSpan.getOrDefault(s.stageInfo.stageId, 0L))
    if (m != null) a.synchronized {
      a.tasks += s.stageInfo.numTasks; a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stagesOut.incrementAndGet()
  }

  /** Wait (bounded) until every job and stage event seen so far has ended. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      if (started.get == ended.get && stagesIn.get == stagesOut.get) quiet += 1 else quiet = 0
      Thread.sleep(5)
    }
  }

  def take(span: Long): JobAcc = Option(acc.remove(span)).getOrElse(new JobAcc)
}

/** Micro-batch progress of every streaming query, kept whole. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Minimal JSON writing for flat metric maps. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
