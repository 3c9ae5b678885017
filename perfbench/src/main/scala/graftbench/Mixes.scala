package graftbench

/** The query mix of the `queries` workload, fixed by name so that adding a
  * query to graft does not change the benchmark. */
object Mixes {
  /** Dashboard and LLM-operator traffic: every 30th non-catalog query of
    * `SparkEntry.queries` in name order, from the 27th, when the benchmark
    * was defined (text chunking, JSON, struct and try functions, a z-score
    * feature, a snapshot diff and a RELY join elimination). */
  val analytics: Seq[String] = Seq("q_chunk_overlap", "q_feature_zscore", "q_json_extract",
    "q_rely_composite_elim", "q_snapshot_diff", "q_struct_funcs", "q_try_funcs")

  /** Lakehouse traffic on the same catalog: a DML commit, the change feed,
    * time travel and a materialized-view rewrite. */
  val lakehouse: Seq[String] = Seq("q_catalog_delete", "q_catalog_cdf",
    "q_catalog_timetravel", "q_mview_rewrite")

  val queries: Seq[String] = analytics ++ lakehouse
}
