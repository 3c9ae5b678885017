package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite, in Verify's posture pinned to 4
  * cores: UTC, nanos-as-long parquet timestamps, 4 shuffle partitions, AQE at
  * Spark's default. It is not Bench's posture: base tables are not cached
  * (`spark.graft.cacheTables`), and the codegen-cache and checkpoint-checksum
  * settings are Spark's defaults. */
trait GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    LogHygiene.muteBenignWindowWarning()
    s
  }

  val sfTiny = "/root/testdata/sf0.001"

  /** A fresh dir under `java.io.tmpdir`, deleted with everything in it
    * when the test JVM exits. */
  def tmpDir(prefix: String): String = GraftSuite.tmpDir(prefix)
}

object GraftSuite {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // Priority 0 runs after Spark's own hook (40) has stopped the context, so
  // no stream or task still writes into a dir while it is deleted.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => created.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)), 0)

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    created.add(d)
    d.toString
  }

  /** Delete `dir` with everything in it when the test JVM exits — for a dir
    * the engine makes itself, such as a per-dataset scratch memo keyed by a
    * `tmpDir` path. */
  def deleteOnExit(dir: String): Unit = created.add(java.nio.file.Paths.get(dir))
}
