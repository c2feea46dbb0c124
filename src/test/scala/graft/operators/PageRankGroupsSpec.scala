package graft.operators

import graft.SparkSpec

/** graph_pagerank_groups: the contracted-graph production PageRank
  * recounts from a serial 3-round fixed-point power iteration over the
  * same group edge list; plus the plain-PageRank structural laws
  * (singleton groups hold exactly the teleport mass; mass never exceeds
  * the initial grant) and agreement with the doc-level form's semantics
  * via the shared pageRankBsp core (seed=true everywhere ≡ uniform
  * teleport).
  */
class PageRankGroupsSpec extends SparkSpec {

  test("group ranks match a serial power iteration exactly") {
    val dir = sf("sf0.001")
    val gids = Graph.groupFrame(spark, dir)
      .selectExpr("gid").collect().map(_.getLong(0))
    val pairs = Graph.groupPairsOf(spark, dir)
      .selectExpr("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }

    var rank = gids.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (src, dst) =>
        contrib(dst) = contrib.getOrElse(dst, 0L) + rank(src) / deg(src)
      }
      rank = gids.map(v =>
        v -> (150000L + 85L * contrib.getOrElse(v, 0L) / 100L)).toMap
    }

    val got = Graph.pageRankGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // output is the FULL group ranking sorted by gid
    assert(got.map(_._1).toSeq == gids.sorted.toSeq)
    assert(got.toMap == rank)

    // structural laws of plain PageRank
    val singletons = gids.filterNot(deg.contains)
    assert(singletons.forall(rank(_) == 150000L))
    assert(got.map(_._2).sum <= gids.length * 1000000L)
    assert(got.map(_._2).max > 150000L, "no group accumulated any mass")
  }
}
