package graft.operators

import graft.SparkSpec

/** anfHyperball: the distributed per-round register-max merge must equal
  * a direct per-node simulation — exact BFS ball to radius t, then HLL
  * registers over the ball's members — node for node (the HyperBall
  * correctness law: B_{t+1}(v) = B_t(v) ⊔ ⊔_{u~v} B_t(u) unrolls to
  * "registers of the exact ball"). Plus the monotonicity laws a caller
  * leans on.
  */
class AnfSpec extends SparkSpec {

  private val M = 2147483647L

  private def hllRho(v: Long): (Long, Int) = {
    def h(x: Long, a: Long, b: Long) = (a * x + b) % M
    def ava(x: Long, a: Long, b: Long) = {
      val y = x ^ (x >> 15)
      val z = h(y, a, b)
      z ^ (z >> 13)
    }
    val hv = ava(h(v, 2654435761L, 12007L), 1779033703L, 514229L)
    val w = hv / 64L
    (hv % 64L, if (w == 0L) 26 else 26 - java.lang.Long.toBinaryString(w).length)
  }

  private def estOf(ball: Set[Long]): (Long, Long) = {
    val regs = ball.toSeq.map(hllRho)
      .groupBy(_._1).map { case (j, rs) => j -> rs.map(_._2).max }
    val ssum = (0 until 64).map(j =>
      math.pow(2.0, -regs.getOrElse(j.toLong, 0))).sum
    val nZero = (0 until 64).count(j => regs.getOrElse(j.toLong, 0) == 0)
    (nZero.toLong, math.floor(0.709 * 4096.0 / ssum).toLong)
  }

  test("register merge equals per-node exact-ball simulation, all t") {
    val dir = sf("sf0.001")
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    val nodes = adj.keySet
    def ball(v: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(v))((b, _) => b ++ b.flatMap(adj(_)))
    val got = Graph.anfHyperball(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == nodes.size * 4)
    for (v <- nodes; t <- 0 to 3) {
      assert(got((v, t.toLong)) == estOf(ball(v, t)),
        s"node $v radius $t: distributed merge diverges from simulation")
    }
  }

  test("harmonic centrality recounts from the simulated exact-ball estimates") {
    val dir = sf("sf0.001")
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    def ball(v: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(v))((b, _) => b ++ b.flatMap(adj(_)))
    val got = Graph.harmonicCentrality(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == adj.size)
    adj.keys.foreach { v =>
      val e = (0 to 3).map(t => estOf(ball(v, t))._2)
      val h = 1000L * math.max(e(1) - e(0), 0L) +
        500L * math.max(e(2) - e(1), 0L) +
        333L * math.max(e(3) - e(2), 0L)
      assert(got(v) == h, s"node $v harmonic recount")
    }
  }

  test("estimates are monotone in t; n_zero is antitone; t=0 is one register") {
    val rows = Graph.anfHyperball(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (v, rs) =>
      val byT = rs.sortBy(_._2)
      assert(byT.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
      assert(byT.map(_._4).toSeq == byT.map(_._4).toSeq.sorted,
        s"node $v: est_ball must not shrink as the radius grows")
      assert(byT.map(_._3).toSeq == byT.map(_._3).toSeq.sorted.reverse,
        s"node $v: n_zero must not grow as the radius grows")
      assert(byT.head._3 == 63L,
        s"node $v: a singleton ball fills exactly one register")
    }
  }
}
