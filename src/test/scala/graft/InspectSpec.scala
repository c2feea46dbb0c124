package graft

/** `Inspect invariance` on a fixed sample at sf0.001: results must not
  * depend on pinning, the shuffle-partition count or AQE.
  */
class InspectSpec extends SparkSpec {

  test("sampled queries give the same rows unpinned, on 1 and 7 partitions") {
    val sample = Seq("q26_grouped_topk", "graph_lpa_modularity",
      "dedup_shingle_pairs", "aria_two_tables_epochs", "stat_ks_drift")
    val mismatches = sample.map(q =>
      q -> Inspect.invariance(spark, sf("sf0.001"), q)).filter(_._2.nonEmpty)
    assert(mismatches.isEmpty, mismatches.mkString(", "))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
