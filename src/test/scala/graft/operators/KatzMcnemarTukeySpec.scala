package graft.operators

import graft.SparkSpec

/** graph_katz + eval_mcnemar + stat_tukey_pairs: serial recounts and the
  * per-operator structural laws.
  */
class KatzMcnemarTukeySpec extends SparkSpec {

  test("katz recounts from a serial walk-sum; isolated groups score 1e6") {
    val dir = sf("sf0.001")
    val gids = Graph.groupFrame(spark, dir)
      .selectExpr("gid").collect().map(_.getLong(0))
    val pairs = Graph.groupPairsOf(spark, dir)
      .selectExpr("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    var rank = gids.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (src, dst) =>
        in(dst) = in.getOrElse(dst, 0L) + rank(src)
      }
      rank = gids.map(v => v -> (1000000L + in.getOrElse(v, 0L) / 2L)).toMap
    }
    val got = Graph.katzGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toMap == rank)
    val touched = edges.map(_._2).toSet
    gids.filterNot(touched).foreach(g => assert(rank(g) == 1000000L))
    assert(got.map(_._2).max > 1000000L)
  }

  test("mcnemar recounts from paired predictions; cells partition N") {
    val dir = sf("sf0.001")
    val m = TextOps.langId(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1) == r.getString(r.length - 1)))
      .toMap
    val nb = TextOps.langNb(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(4) == 1)).toMap
    val keys = m.keySet.intersect(nb.keySet)
    val a = keys.count(k => m(k) && nb(k)).toLong
    val b = keys.count(k => m(k) && !nb(k)).toLong
    val c = keys.count(k => !m(k) && nb(k)).toLong
    val d = keys.count(k => !m(k) && !nb(k)).toLong
    val row = TextOps.mcnemar(spark, dir).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3)) == ((a, b, c, d)))
    assert(a + b + c + d == keys.size.toLong)
    val want = BigDecimal((b - c).toDouble * (b - c)
      / math.max(b + c, 1L)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(4) == want)
  }

  test("tukey: q recounts from group stats; q is symmetric-positive") {
    val dir = sf("sf0.001")
    val rows = spark.read.parquet(dir + "/orders.parquet")
      .selectExpr("o_orderpriority AS g",
        "cast(round(o_totalprice) as long) AS v").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val gs = rows.groupBy(_._1).map { case (g, vs) =>
      val xs = vs.map(_._2)
      (g, xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }.toSeq.sortBy(_._1)
    val tSum = gs.map { case (_, n, s, _) =>
      math.floor(s.toDouble * s / n * 100d).toLong
    }.sum
    val nt = gs.map(_._2).sum
    val msw = (gs.map(_._4).sum.toDouble - tSum / 100d) / (nt - gs.size)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r2(x: Double) =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (g1, n1, s1, _) <- gs; (g2, n2, s2, _) <- gs if g1 < g2
    } yield {
      val diff = s1.toDouble / n1 - s2.toDouble / n2
      (g1, g2, r2(diff),
        r4(math.abs(diff) / math.sqrt(msw / 2d * (1d / n1 + 1d / n2))))
    }).sortBy(t => (t._1, t._2))
    val got = Relational.statTukeyPairs(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got == want)
    got.foreach { case (_, _, _, q) => assert(q >= 0d) }
  }
}
