package graft.streaming

import graft.sources.GraftCheckpointFileManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

object Drain {
  /** Run one AvailableNow drain to completion: `start` launches the query
    * with the trigger it is handed; the drain waits up to 240 s, stops it, and
    * fails loudly on a timeout (a partial drain would ship a partial result
    * that reads as a correctness bug). For the length of the drain the query
    * writes its checkpoint through [[GraftCheckpointFileManager]] and
    * `shufflePartitions` overrides the session's count — a stateful query
    * bakes it into its checkpoint at first start and pays state-store init
    * per partition, so tiny state wants few. Afterwards each key holds its
    * previous value again, or is unset if it was unset. */
  def availableNow(s: SparkSession, caller: String, shufflePartitions: Option[Int])
                  (start: Trigger => StreamingQuery): Unit = {
    val saved = Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.map(_.toString),
      GraftCheckpointFileManager.ClassKey -> Some(classOf[GraftCheckpointFileManager].getName)
    ).collect { case (key, Some(v)) =>
      val prev = s.conf.getAll.get(key)
      s.conf.set(key, v)
      key -> prev
    }
    try {
      val q = start(Trigger.AvailableNow())
      val done = q.awaitTermination(240000)
      q.stop()
      require(done, s"$caller: AvailableNow drain did not finish in 240s")
    } finally saved.foreach { case (key, prev) => prev.fold(s.conf.unset(key))(s.conf.set(key, _)) }
  }
}
