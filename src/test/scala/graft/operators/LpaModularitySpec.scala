package graft.operators

import graft.SparkSpec

/** lpaModularity: the distributed 3-round synchronous LPA equals a
  * serial simulation from the same contracted edge list, the modularity
  * cells follow 4m·e_c − d_c² exactly, and the partition conserves the
  * vertex set, degree mass, and internal-edge bound Σe_c ≤ m.
  */
class LpaModularitySpec extends SparkSpec {

  private def edges(dir: String): Array[(Long, Long)] =
    Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  private def serial(pairs: Array[(Long, Long)])
      : Map[Long, (Long, Long, Long, Long)] = {
    val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val deg = adj.map { case (v, ns) => v -> ns.length.toLong }
    var lbl: Map[Long, Long] = deg.keys.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      lbl = adj.map { case (v, ns) =>
        val votes = ns.map(lbl).groupBy(identity)
          .map { case (l, g) => (l, g.length) }
        // plurality, ties -> smallest label
        val best = votes.toSeq.map { case (l, c) => (-c, l) }.min._2
        v -> best
      }
    }
    val m = pairs.length.toLong
    val comms = lbl.groupBy(_._2).map { case (c, ms) => c -> ms.keys.toSet }
    comms.map { case (c, members) =>
      val size = members.size.toLong
      val dSum = members.toSeq.map(deg).sum
      val eIn = pairs.count { case (a, b) =>
        members.contains(a) && members.contains(b)
      }.toLong
      c -> (size, dSum, eIn, 4L * m * eIn - dSum * dSum)
    }
  }

  test("distributed LPA + modularity equals the serial simulation") {
    val dir = sf("sf0.001")
    val truth = serial(edges(dir))
    val got = Graph.lpaModularity(spark, dir).collect()
    assert(got.length == truth.size, "community count")
    got.foreach { r =>
      val c = r.getLong(0)
      val (size, dSum, eIn, qCell) = truth(c)
      assert(r.getLong(1) == size, s"community $c size")
      assert(r.getLong(2) == dSum, s"community $c d_sum")
      assert(r.getLong(3) == eIn, s"community $c e_in")
      assert(r.getLong(4) == qCell, s"community $c q_cell")
    }
  }

  test("partition conserves vertices, degree mass, and edge bound") {
    val dir = sf("sf0.001")
    val pairs = edges(dir)
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong
    val m = pairs.length.toLong
    val got = Graph.lpaModularity(spark, dir).collect()
    assert(got.map(_.getLong(1)).sum == nodes, "sizes sum to |V|")
    assert(got.map(_.getLong(2)).sum == 2L * m, "degree mass = 2m")
    val eIn = got.map(_.getLong(3)).sum
    assert(eIn >= 0 && eIn <= m, "0 <= sum e_c <= m")
    // Q = sum q_cell / 4m^2 must lie in [-1, 1]
    val q = got.map(r => BigInt(r.getLong(4))).sum
    assert(q.abs <= BigInt(4) * m * m, "|Q| <= 1")
  }
}
