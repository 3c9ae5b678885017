package graft

import graft.streaming.{Producer, StreamingPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * A3+A4 end-to-end, Kafka-shaped without a broker (no Kafka jars on this
 * environment's classpath, so the kafka format is not even loadable): the
 * producer publishes the exact Kafka wire projection ([[Producer.toWire]] — the
 * same projection [[Producer.toKafka]] wraps) to a durable file channel; the
 * consumer subscribes with a declared wire schema, deserializes, enriches, and
 * upserts. Both sides are checkpointed, so each run consumes exactly the
 * uncommitted delta — the consumer-group offset semantics of the reference
 * (produce_items.py publish loop, consume_items.py offset commits).
 *
 * The plan-shape test proves the consumer pipeline is source-agnostic over the
 * wire schema: its analyzed plan is identical over the file channel and a
 * memory source, modulo the source leaf — the "explain diff modulo source node"
 * contract, which is the strongest claim constructible without a broker.
 */
class KafkaTopologySpec extends GraftSuite {
  import spark.implicits._

  /** Analyzed plan with expression ids normalized and source leaves dropped. */
  private def planShape(df: DataFrame): String =
    df.queryExecution.analyzed.toString
      .replaceAll("#\\d+", "#x")
      .linesIterator
      .filterNot(l => l.contains("StreamingRelation") || l.contains("MemoryStream"))
      .mkString("\n")

  private def lookupFor(names: Seq[String], empty: String, missing: String) =
    names.filterNot(_ == missing)
      .map(n => (n, if (n == empty) "[]" else s"""[{"name":"$n","calories":42}]"""))
      .toDF("item_name", "data")

  test("producer->file channel->consumer->upsert store, delta-only per run") {
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("kafkashape")
    val channel = s"$dir/channel"; val store = s"$dir/store"
    val pCk = s"$dir/p_ck"; val cCk = s"$dir/c_ck"

    // Ticks: stage 1 = 0..13 (14 fresh names); stage 2 = 100..102 (3 fresh) plus
    // 420..426 (name-collisions with ticks 0..6 — the producer's dedup state must
    // drop them, mirroring the reference's retry-on-duplicate loop).
    val stage1 = 0L to 13L
    val stage2 = (100L to 102L) ++ (420L to 426L)
    val allNames = (stage1 ++ stage2).toDF("tick")
      .select(Producer.nameFor(col("tick")).as("item_name"))
      .distinct().as[String].collect().sorted.toSeq
    assert(allNames.size === 17, "420..426 must collide with 0..6")
    val (emptyName, missingName) = (allNames.head, allNames.last)
    val lookup = lookupFor(allNames, emptyName, missingName)

    // Producer: MemoryStream ticks -> seeded name gen -> stateful dedup -> wire.
    val ticks = MemoryStream[Long]
    val producerQ = Producer.toFileChannel(
        Producer.dedupNames(ticks.toDF.select(Producer.nameFor(col("value")).as("item_name"))),
        channel)
      .option("checkpointLocation", pCk).start()

    // Consumer: file-channel subscribe -> deserialize -> enrich -> keyed upsert.
    def consumeOnce(): Long = {
      val q = StreamingPipeline.upsertSink(
          StreamingPipeline.ingest(
            StreamingPipeline.fromWire(StreamingPipeline.fileChannel(spark, channel)),
            lookup),
          store, Seq("item_name"), Seq(col("data").desc))
        .option("checkpointLocation", cCk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }

    try {
      ticks.addData(stage1: _*)
      producerQ.processAllAvailable()
      val consumed1 = consumeOnce()
      assert(consumed1 === 14, s"run 1 must see stage 1's 14 wire rows, saw $consumed1")
      val expected1 = stage1.toDF("tick")
        .select(Producer.nameFor(col("tick")).as("item_name"))
        .join(lookup, Seq("item_name"))
        .filter(col("data") =!= "[]")
        .select("item_name").as[String].collect().sorted.toSeq
      val got1 = StreamingPipeline.readStore(spark, store)
        .select("item_name").as[String].collect().sorted.toSeq
      assert(got1 === expected1)

      // Stage 2: producer dedup drops the 7 collision ticks -> 3 new wire rows;
      // the checkpointed consumer re-run reads exactly that delta.
      ticks.addData(stage2: _*)
      producerQ.processAllAvailable()
      val consumed2 = consumeOnce()
      assert(consumed2 === 3, s"run 2 must see only the 3-row delta, saw $consumed2")
      val expectedAll = allNames
        .filterNot(n => n == emptyName || n == missingName).sorted
      val got2 = StreamingPipeline.readStore(spark, store)
        .select("item_name").as[String].collect().sorted.toSeq
      assert(got2 === expectedAll)

      // No new input -> a third run consumes nothing and the store is unchanged.
      val consumed3 = consumeOnce()
      assert(consumed3 === 0)
      val got3 = StreamingPipeline.readStore(spark, store)
        .select("item_name").as[String].collect().sorted.toSeq
      assert(got3 === got2)
    } finally producerQ.stop()
  }

  test("consumer plan is source-agnostic over the wire schema (modulo source leaf)") {
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("wireplan") + "/chan"
    Seq("seed").toDF("value").write.json(dir)
    val lookup = Seq(("seed", """[{"name":"seed"}]""")).toDF("item_name", "data")
    def consume(wire: DataFrame): DataFrame =
      StreamingPipeline.ingest(StreamingPipeline.fromWire(wire), lookup)
    val overFile = planShape(consume(StreamingPipeline.fileChannel(spark, dir)))
    val mem = MemoryStream[String]
    val overMem = planShape(consume(mem.toDF))
    assert(overFile === overMem,
      s"consumer plan must not depend on the source:\nfile:\n$overFile\nmem:\n$overMem")
  }

  test("toWire emits the Kafka record projection") {
    val names = Seq("a", "b").toDF("item_name")
    val wire = Producer.toWire(names)
    assert(wire.schema.map(f => (f.name, f.dataType.typeName)) === Seq(("value", "string")))
    assert(wire.as[String].collect().sorted.toSeq === Seq("a", "b"))
  }
}
