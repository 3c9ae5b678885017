package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

object Drain {
  /** Run one AvailableNow drain to completion: `start` launches the query
    * with the trigger it is handed; the drain waits up to 240 s, stops it, and
    * fails loudly on a timeout (a partial drain would ship a partial result
    * that reads as a correctness bug). `shufflePartitions` overrides the
    * session's count for the drain and is restored afterwards — a stateful
    * query bakes it into its checkpoint at first start and pays state-store
    * init per partition, so tiny state wants few. */
  def availableNow(s: SparkSession, caller: String, shufflePartitions: Option[Int])
                  (start: Trigger => StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = shufflePartitions.map { n =>
      val p = s.conf.get(key)
      s.conf.set(key, n.toString)
      p
    }
    try {
      val q = start(Trigger.AvailableNow())
      val done = q.awaitTermination(240000)
      q.stop()
      require(done, s"$caller: AvailableNow drain did not finish in 240s")
    } finally prev.foreach(s.conf.set(key, _))
  }
}
