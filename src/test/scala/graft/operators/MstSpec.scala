package graft.operators

import graft.SparkSpec

/** mstForest: the distributed Borůvka forest equals a serial Kruskal
  * run over the same weighted edges (the MSF is unique under the
  * (w, a, b) total order), and the structural laws hold — edge count =
  * |V| − |components|, acyclic by construction, and the forest spans
  * exactly the graph's components.
  */
class MstSpec extends SparkSpec {

  private def weightedEdges(dir: String): Array[(Long, Long, Long)] = {
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val toks = spark.read.parquet(dir + "/documents.parquet")
      .selectExpr("doc_id", "explode(split(text, ' ')) AS w").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (d, ws) => d -> ws.map(_._2).toSet }
    pairs.map { case (a, b) =>
      val (sa, sb) = (toks(a), toks(b))
      val c = (sa intersect sb).size.toLong
      val w = 1000L - 1000L * c / (sa.size + sb.size - c)
      (a, b, w)
    }
  }

  /** Kruskal with union-find under the (w, a, b) total order. */
  private def kruskal(edges: Array[(Long, Long, Long)])
      : Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy { case (a, b, w) => (w, a, b) }.flatMap {
      case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None
        else { parent(ra) = rb; Some((a, b, w)) }
    }.toSet
  }

  test("Boruvka forest equals serial Kruskal under the same total order") {
    val dir = sf("sf0.001")
    val edges = weightedEdges(dir)
    val truth = kruskal(edges)
    val got = Graph.mstForest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == truth,
      s"forest mismatch: extra=${got -- truth}, missing=${truth -- got}")
  }

  test("edge count, spanning, and weight laws") {
    val dir = sf("sf0.001")
    val edges = weightedEdges(dir)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // component count of the full graph via the serial union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val nComp = nodes.map(find).distinct.length
    val got = Graph.mstForest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == nodes.length - nComp, "|MSF| = |V| - |components|")
    // spanning: the forest connects exactly the same components
    val fp = scala.collection.mutable.Map.empty[Long, Long]
    def ffind(x: Long): Long = {
      val p = fp.getOrElse(x, x)
      if (p == x) x else { val r = ffind(p); fp(x) = r; r }
    }
    got.foreach { case (a, b, _) =>
      val (ra, rb) = (ffind(a), ffind(b))
      assert(ra != rb, s"cycle: edge ($a,$b) joins an already-connected pair")
      fp(ra) = rb
    }
    val sameComp = nodes.groupBy(find).values
    sameComp.foreach { members =>
      assert(members.map(ffind).distinct.length == 1,
        "forest connects every full-graph component")
    }
    // weights are valid Jaccard distances
    got.foreach { case (_, _, w) => assert(w >= 0 && w <= 1000) }
  }
}
