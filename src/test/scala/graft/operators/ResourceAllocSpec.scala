package graft.operators

import graft.SparkSpec

/** graph_resource_alloc: the RA link-prediction index recounts from a
  * serial wedge walk over the collected group graph, with the
  * non-adjacency law (scored pairs are never existing edges) and the
  * integer-exactness law (every score is a sum of floor(1e9/deg) terms).
  */
class ResourceAllocSpec extends SparkSpec {

  test("top-20 matches a serial recount; scored pairs are non-edges") {
    val dir = sf("sf0.001")
    val pairs = Graph.groupPairsOf(spark, dir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sym = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = sym.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    val deg = adj.map { case (k, v) => k -> v.size.toLong }
    val score = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((z, nbrs) <- adj; u <- nbrs; v <- nbrs if u < v) {
      score((u, v)) = score.getOrElse((u, v), 0L) + 1000000000L / deg(z)
    }
    val want = score.toSeq
      .filter { case ((u, v), _) => !pairs((u, v)) }
      .map { case ((u, v), ra) => (u, v, ra) }
      .sortBy { case (u, v, ra) => (-ra, u, v) }.take(20)
      .zipWithIndex.map { case ((u, v, ra), i) => (u, v, ra, i + 1L) }
    val got = Graph.resourceAlloc(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3).toLong))
      .toSeq
    assert(got == want)
    got.foreach { case (a, b, _, _) =>
      assert(!pairs((a, b)), s"($a,$b) is an existing edge")
    }
  }
}
