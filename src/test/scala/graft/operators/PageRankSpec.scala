package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** pageRank: certified by a full independent in-memory power iteration
  * (same fixed-point arithmetic, plain Scala collections) over the same
  * edge set, plus the structural laws — singletons hold exactly the
  * teleport mass, total mass never exceeds the initial grant.
  */
class PageRankSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("integer power iteration matches an in-memory recompute exactly") {
    import spark.implicits._
    val got = Graph.pageRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val nodes = Tables.documents(spark, dir)
      .select($"doc_id").collect().map(_.getLong(0))
    val pairs = TextOps.minhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }

    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (src, dst) =>
        contrib(dst) = contrib.getOrElse(dst, 0L) + rank(src) / deg(src)
      }
      rank = nodes.map(v =>
        v -> (150000L + 85L * contrib.getOrElse(v, 0L) / 100L)).toMap
    }
    assert(got == rank)

    // structural laws
    val singletons = nodes.filterNot(deg.contains)
    assert(singletons.nonEmpty && singletons.forall(got(_) == 150000L))
    assert(got.values.sum <= nodes.length * 1000000L)
    assert(got.values.max > 150000L, "no node accumulated any mass")
  }
}
