package graft.operators

import graft.SparkSpec

/** graph_ppr_groups: the contracted-graph PPR recounts from a serial
  * 3-round fixed-point simulation over the same group edge list, with
  * the seed floor and sorted-output laws of the doc-level form.
  */
class PprGroupsSpec extends SparkSpec {

  test("top-20 recounts from a serial simulation on the group graph") {
    val dir = sf("sf0.001")
    val gids = Graph.groupFrame(spark, dir)
      .selectExpr("gid").collect().map(_.getLong(0))
    val pairs = Graph.groupPairsOf(spark, dir)
      .selectExpr("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (v, g) => v -> g.length.toLong }
    val adjIn = edges.groupBy(_._2)
    def seed(v: Long) = v % 97L == 0L
    var r: Map[Long, Long] =
      gids.map(v => v -> (if (seed(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      r = gids.map { v =>
        val s = adjIn.getOrElse(v, Array.empty[(Long, Long)])
          .map { case (src, _) => r(src) / deg(src) }.sum
        v -> ((if (seed(v)) 150000L else 0L) + 85L * s / 100L)
      }.toMap
    }
    val want = r.toSeq.map { case (v, rk) => (v, seed(v), rk) }
      .sortBy(t => (-t._3, t._1)).take(20)
    val got = Graph.pprRankGroups(spark, dir).collect()
      .map(row => (row.getLong(0), row.getBoolean(1), row.getLong(2)))
    assert(got.toSeq == want)
    got.foreach { case (_, isSeed, rank) =>
      if (isSeed) assert(rank >= 150000L, s"seed floor: $rank")
    }
  }
}
