package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._

/**
 * Skew-mitigation evidence (deterministic — no wall-clock assertions; the
 * historical timings of the removed `graft.SkewBench` main stay in DESIGN.md
 * §6): a planted hot key owning
 * 20% of the rows, shown (1) concentrated onto one reducer under plain hash
 * partitioning and spread by ~saltFactor under `saltedJoin`'s salted key, and
 * (2) detected and split by AQE's skew-join handling in the executed plan.
 */
class SkewSpec extends GraftSuite {
  import spark.implicits._

  private val nRows = 200000L
  // Every 5th row -> key 0 (20% of all rows); the rest uniform over 1..1000.
  private def skewed = spark.range(nRows).select(
    when(pmod(col("id"), lit(5)) === 0, lit(0L))
      .otherwise(pmod(col("id"), lit(1000L)) + 1).as("k"),
    col("id").as("payload"))
  private def dim = spark.range(1001).select(col("id").as("k"), (col("id") * 7).as("v"))

  test("salting spreads the hot key's shuffle load by ~saltFactor") {
    val nPart = 32
    val saltFactor = 8
    val hot = skewed.filter(col("k") === 0)
    // Under plain hash partitioning on the join key, every hot-key row lands in
    // ONE reducer partition.
    val maxPlain = hot
      .groupBy(pmod(hash(col("k")), lit(nPart)).as("p")).count()
      .agg(max("count")).as[Long].head()
    // Under the salted key (what saltedJoin shuffles on), they spread over
    // saltFactor partitions.
    val maxSalted = hot
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(saltFactor.toLong)).cast("int"))
      .groupBy(pmod(hash(col("k"), col("__salt")), lit(nPart)).as("p")).count()
      .agg(max("count")).as[Long].head()
    assert(maxPlain === nRows / 5, s"all hot rows must share one partition, max=$maxPlain")
    // Allow slack for two salt values hashing into the same partition.
    assert(maxSalted <= 2 * (maxPlain / saltFactor),
      s"salting must spread the hot partition: plain=$maxPlain salted=$maxSalted")
  }

  test("AQE detects and splits the skewed join partition at runtime") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // Local-scale sizing: 64 reducers makes the 40k-row hot partition ~17x the
      // ~2.5k-row median (factor threshold is 5x), and the byte thresholds are
      // lowered so the detector sees it the way it would see multi-GB skew.
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "3.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = skewed.join(dim, "k")
      // Execute THIS plan (a derived count() executes a different one), then read
      // the adaptive final plan back.
      assert(joined.collect().length === nRows) // every key matches one dim row
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), "join plan must have executed")
      assert(finalPlan.toLowerCase.contains("skew"),
        s"AQE must mark the join skewed; got plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("saltedJoin on the planted-skew fixture still matches the plain join") {
    val plain = skewed.join(dim, "k").agg(sum(col("payload") + col("v"))).as[Long].head()
    val salted = Relational.saltedJoin(skewed, dim, Seq("k"), 8)
      .agg(sum(col("payload") + col("v"))).as[Long].head()
    assert(plain === salted)
  }
}
