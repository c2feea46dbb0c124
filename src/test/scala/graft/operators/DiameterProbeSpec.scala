package graft.operators

import graft.SparkSpec

/** diameterProbe: exact agreement with an in-memory capped double-sweep
  * BFS over the contracted graph, plus the sweep-ordering law.
  */
class DiameterProbeSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("double-sweep agrees with an in-memory BFS and the second sweep " +
      "dominates") {
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def bfs(src: Long): Map[Long, Long] = {
      var dist = Map(src -> 0L)
      for (h <- 1 to 6) {
        val frontier = dist.collect { case (v, d) if d == h - 1 => v }
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .filterNot(dist.contains)
        dist = dist ++ next.map(_ -> h.toLong)
      }
      dist
    }
    def far(d: Map[Long, Long]): (Long, Long) =
      d.toSeq.maxBy { case (v, dd) => (dd, -v) }
    val start = adj.keys.min
    val (f1, e1) = far(bfs(start))
    val (f2, e2) = far(bfs(f1))
    val r = Graph.diameterProbe(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((f1, e1, f2, e2)))
    // restarting from the farthest node can only reach at least as far
    assert(e2 >= e1)
  }
}
