package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/**
 * Optimization-round measurement aid (guide §1): run named queries under the
 * Bench session posture and print, per query, the per-Spark-job wall clock
 * with job descriptions plus stage-level task metrics — so a multi-action
 * query (catalog DML histories, mview folds) shows WHERE its seconds go
 * instead of one opaque total. Also prints driver-side gaps (time between
 * jobs = planning/FS/driver work), the number the job timeline can't show.
 *
 *   sbt "runMain graft.Profile q_mview_minmax q_catalog_merge"
 *
 * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
 * Each query runs twice: cold (fixture/memo builds) and warm; both reported.
 * Purely additive tooling — no query semantics live here.
 */
object Profile {
  private case class JobRec(id: Int, desc: String, start: Long, var end: Long = -1L,
      var tasks: Int = 0, var taskMs: Long = 0L, var stages: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q_flagship")
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(",")}")
    val spark = Bench.session()

    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(j.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs.put(j.jobId, JobRec(j.jobId, desc, j.time))
        j.stageInfos.foreach(si => stageToJob.put(si.stageId, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = jobs.get(j.jobId); if (r != null) r.end = j.time
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val jid = stageToJob.getOrDefault(si.stageId, -1)
        val r = if (jid >= 0) jobs.get(jid) else null
        if (m != null && r != null) {
          r.tasks += si.numTasks; r.taskMs += m.executorRunTime; r.stages += 1
        }
      }
    })
    // Cumulative Janino compile time (driver-side in local mode): the delta
    // per pass separates "generated-code compilation" from real compute.
    def codegenMs: Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    def codegenCount: Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount

    // warm the base tables like Bench does
    try Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    catch { case _: Throwable => () }

    // In-process sampler: every 20 ms record the driver main thread's deepest
    // "interesting" frame — aggregated per pass, it attributes the DRIVER GAP
    // (time outside any Spark job) to planning / manifest IO / commit work.
    val mainThread = Thread.currentThread()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val samples = new ConcurrentHashMap[String, Integer]()
    val taskSamples = new ConcurrentHashMap[String, Integer]()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling.get) {
          val st = mainThread.getStackTrace
          val tag = st.collectFirst {
            case f if f.getClassName.startsWith("graft.") ||
              f.getClassName.contains("catalyst.optimizer") ||
              f.getClassName.contains("catalyst.analysis") ||
              f.getClassName.contains("codegen") ||
              f.getClassName.contains("execution") =>
              f.getClassName.split('.').last + "." + f.getMethodName
          }.getOrElse(if (st.length > 3) st(3).getClassName.split('.').last + "." + st(3).getMethodName else "?")
          samples.merge(tag, 1, (a, b) => a + b)
          // EXECUTOR side (local mode: same JVM): top two non-jdk frames of
          // every running task thread — where per-task CPU actually goes.
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
            if (t.getName.startsWith("Executor task launch worker") &&
                t.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
              val interesting = frames.filterNot(f =>
                f.getClassName.startsWith("java.") || f.getClassName.startsWith("jdk.") ||
                f.getClassName.startsWith("scala.collection")).take(2)
              val tag = interesting.map(f =>
                f.getClassName.split('.').last + "." + f.getMethodName).mkString(" < ")
              if (tag.nonEmpty) taskSamples.merge(tag, 1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true); sampler.start()

    for (name <- names; pass <- Seq("cold", "warm")) {
      jobs.clear(); stageToJob.clear(); samples.clear(); taskSamples.clear()
      val cg0 = (codegenCount, codegenMs)
      sampling.set(true)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      sampling.set(false)
      Thread.sleep(200) // let stage-completed events drain
      val recs = {
        import scala.jdk.CollectionConverters._
        jobs.values.asScala.toSeq.sortBy(_.start)
      }
      val jobWall = recs.filter(_.end > 0).map(r => r.end - r.start).sum / 1e3
      val cgN = codegenCount - cg0._1
      val cgMs = codegenMs - cg0._2
      println(f"== $name [$pass] wall=$wall%.3f s, jobs=${recs.size}, jobWall=$jobWall%.3f s, gap=${wall - jobWall}%.3f s, codegenCompiles=$cgN (${cgMs}ms)")
      locally {
        import scala.jdk.CollectionConverters._
        val top = samples.asScala.toSeq.sortBy(-_._2).take(12)
        top.foreach { case (tag, n) =>
          println(f"   drv ${n * 20 / 1000.0}%6.2f s  $tag") }
        val topT = taskSamples.asScala.toSeq.sortBy(-_._2).take(12)
        topT.foreach { case (tag, n) =>
          println(f"   tsk ${n * 20 / 1000.0}%6.2f thread-s  $tag") }
      }
      var prevEnd = -1L
      recs.foreach { r =>
        val dur = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
        prevEnd = math.max(prevEnd, r.end)
        val tag = r.desc.take(90)
        if (dur >= 0.01 || gap >= 0.01)
          println(f"   job ${r.id}%4d  ${dur}%7.3f s  (taskSum ${r.taskMs / 1e3}%7.3f s/${r.tasks}%4d t/${r.stages}%2d st)  (+gap ${gap}%6.3f)  $tag")
      }
    }
    spark.stop()
  }
}
