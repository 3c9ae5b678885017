package graft

import java.nio.file.{Files, Paths}

/**
 * Optimization-round measurement aid (guide §7.2): dump the FORMATTED
 * physical plan of named queries to `<outDir>/<name>_<tag>.txt` — the
 * before/after evidence files the optimization log cites (Exchange count,
 * join strategy, PushedFilters/ReadSchema, codegen spans).
 *
 *   sbt "runMain graft.PlanDump plans/r15 before q_dedup_containment ..."
 *
 * Runs under the Bench session posture. NOTE: queries whose closure performs
 * catalog DML execute that history while BUILDING the frame — the dump
 * reflects (and pays for) the final frame only; that is exactly the plan the
 * bench's count() executes. "all" dumps the full surface.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query...|all>")
    val (outDir, tag) = (args(0), args(1))
    val names =
      if (args(2) == "all") SparkEntry.queries.keySet.toSeq.sorted
      else args.drop(2).toSeq
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), txt)
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
