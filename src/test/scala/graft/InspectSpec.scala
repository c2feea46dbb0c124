package graft

import java.nio.file.{Files, Paths}

/** `Inspect invariance` on a fixed sample at sf0.001: results must not
  * depend on pinning, the shuffle-partition count or AQE. `Inspect snap`
  * files of one plan must not depend on what the session planned before.
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

  test("snaps of one plan are byte-equal after other planning") {
    val out = Files.createTempDirectory("graft-snap").toString
    val q = "q26_grouped_topk"
    Inspect.snap(spark, sf("sf0.001"), Seq(q), out, "_a")
    SparkEntry.queries("q3_revenue_by_nation")(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    Inspect.snap(spark, sf("sf0.001"), Seq(q), out, "_b")
    val Seq(a, b) = Seq("_a", "_b").map(x =>
      new String(Files.readAllBytes(Paths.get(out, s"$q$x.txt")), "UTF-8"))
    assert(a == b)
  }
}
