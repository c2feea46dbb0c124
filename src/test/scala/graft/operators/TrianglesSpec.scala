package graft.operators

import graft.SparkSpec

/** triangles: certified by a brute-force in-memory triangle enumeration
  * over the signature-GROUP graph (groups folded from the minhash
  * signature frame exactly as the operator folds them; edges = band
  * collisions between distinct groups), plus the structural laws.
  */
class TrianglesSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val M = 68719476731L

  test("per-group triangle counts match a brute-force enumeration") {
    val got = Graph.triangles(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // rebuild the group graph from the signature frame
    def fold(xs: Seq[Long]): Long =
      xs.reduce((acc, c) => (acc % M * 131071L + c) % M)
    val sigs = TextOps.minhash(spark, dir).collect()
      .map(r => (r.getLong(0), (1 to 8).map(r.getLong)))
    val groups = sigs
      .map { case (id, mh) => (fold(mh.take(4)), fold(mh.drop(4)), id) }
      .groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> v.map(_._3).min }
    val pairs = (for {
      (ka, a) <- groups.toSeq; (kb, b) <- groups.toSeq
      if a < b && (ka._1 == kb._1 || ka._2 == kb._2)
    } yield (a, b)).distinct
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = adj.keys.toArray.sorted
    val cnt = scala.collection.mutable.Map.empty[Long, Long]
    for {
      a <- nodes
      b <- adj(a) if b > a
      c <- adj(a) if c > b && adj(b).contains(c)
    } Seq(a, b, c).foreach(v => cnt(v) = cnt.getOrElse(v, 0L) + 1)

    assert(got == cnt.toMap)
    assert(got.nonEmpty, "corpus produced no triangles — spec is vacuous")
    assert(got.values.forall(_ > 0))
  }
}
