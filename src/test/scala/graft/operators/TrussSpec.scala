package graft.operators

import graft.SparkSpec

/** graph_truss: the distributed 5-round pinned peel equals a serial
  * peel-to-fixpoint over the collected contracted graph (edge set AND
  * per-edge supports), and the truss laws hold — every surviving edge has
  * support ≥ k−2 within the subgraph, and the result is idempotent.
  */
class TrussSpec extends SparkSpec {

  private val K = 4

  /** Serial truss: peel until fixpoint, return (edge -> support). */
  private def serialTruss(edges0: Set[(Long, Long)])
      : Map[(Long, Long), Long] = {
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val nbrs = (es.toSeq ++ es.toSeq.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
      es.toSeq.map { case (a, b) =>
        (a, b) -> (nbrs(a) & nbrs(b)).size.toLong
      }.toMap
    }
    var es = edges0
    var done = false
    while (!done) {
      val next = supports(es).filter(_._2 >= K - 2).keySet
      done = next == es
      es = next
    }
    supports(es)
  }

  test("pinned 5-round peel equals the serial fixpoint") {
    val dir = sf("sf0.001")
    val edges0 = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = serialTruss(edges0).toSeq.map { case ((a, b), s) =>
      (a, b, s)
    }.sortBy(r => (r._1, r._2))
    val got = Graph.truss(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.nonEmpty, "degenerate corpus: empty truss")
    assert(got == want)
  }

  test("truss laws: subset of the graph, support floor, peeling strictness") {
    val dir = sf("sf0.001")
    val edges0 = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Graph.truss(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    got.foreach { case (e, s) =>
      assert(edges0(e), s"truss edge $e not in the graph")
      assert(s >= (K - 2).toLong, s"support floor violated: $e -> $s")
    }
    // the truss is strictly denser than the triangle-touched edge set
    // unless the graph is already a truss — either way it is no larger
    assert(got.length <= edges0.size)
  }
}
