package graft.operators

import graft.SparkSpec

/** Laws for the degree-capped wedge close (the Σod² mitigation of
  * [[Graph.clusteringCoeffCapped]]): an uncapped run is bit-identical
  * to the exact close, and a capped run only ever UNDER-counts — the
  * documented lower-bound contract.
  */
class CappedWedgeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq

  test("cap >= max out-degree reproduces the exact close bit-for-bit") {
    val exact = rows(Graph.clusteringCoeff(spark, dir))
    val capped = rows(Graph.clusteringCoeffCapped(spark, dir, 1 << 20))
    assert(capped === exact)
  }

  test("a small cap only under-counts, never over-counts, and keeps degrees") {
    val exact = rows(Graph.clusteringCoeff(spark, dir))
      .map(r => r._1 -> (r._2, r._3)).toMap
    val capped = rows(Graph.clusteringCoeffCapped(spark, dir, 2))
    assert(capped.map(_._1) === exact.keys.toSeq.sorted, "same node set")
    capped.foreach { case (v, d, tri, _) =>
      val (de, te) = exact(v)
      assert(d === de, s"node $v: degree changed")
      assert(tri <= te, s"node $v: capped tri $tri > exact $te")
    }
  }
}
