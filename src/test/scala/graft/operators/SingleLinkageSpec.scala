package graft.operators

import graft.SparkSpec

/** singleLinkage: the MST duality — clusters from the τ-thresholded
  * full graph equal clusters from the MSF's ≤τ edges (the reason a
  * materialized MSF answers every radius without re-clustering) — plus
  * vertex conservation against the contracted node set.
  */
class SingleLinkageSpec extends SparkSpec {

  private def components(nodes: Seq[Long], edges: Seq[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    nodes.map(v => v -> find(v)).toMap
  }

  test("threshold-CC clusters equal MST-cut clusters at tau=100") {
    val dir = sf("sf0.001")
    val nodes = Graph.groupPairsOf(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq
    val msf = Graph.mstForest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cutEdges = msf.filter(_._3 <= 100L).map(e => (e._1, e._2))
    val viaMst = components(nodes, cutEdges.toIndexedSeq)
    // same partition via the MSF cut as the full thresholded graph:
    // compare the size histograms of both partitions restricted to the
    // connected node set, then add the singleton groups the operator
    // counts from the full contracted vertex frame
    val mstHist = viaMst.groupBy(_._2).map(_._2.size)
      .groupBy(identity).map { case (s, g) => (s.toLong, g.size.toLong) }
    val allGroups = Graph.groupFrame(spark, dir).collect().length.toLong
    val isolated = allGroups - nodes.length.toLong
    val expected = (mstHist.toSeq ++ (if (isolated > 0)
      Seq((1L, isolated)) else Seq.empty))
      .groupBy(_._1).map { case (s, g) => (s, g.map(_._2).sum) }
    val got = TextOps.singleLinkage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected,
      s"cluster-size histogram mismatch: got $got expected $expected")
  }

  test("histogram conserves the contracted vertex set") {
    val dir = sf("sf0.001")
    val allGroups = Graph.groupFrame(spark, dir).collect().length.toLong
    val got = TextOps.singleLinkage(spark, dir).collect()
    assert(got.map(r => r.getLong(0) * r.getLong(1)).sum == allGroups,
      "sum(size * n_clusters) = |V|")
  }
}
