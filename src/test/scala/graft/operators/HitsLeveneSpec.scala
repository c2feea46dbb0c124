package graft.operators

import graft.SparkSpec

/** Law specs for the round-15 relational additions: graph_hits (serial
  * recount of the 3-round bipartite ping-pong, the LsaPowerSpec pattern)
  * and stat_levene (serial Brown–Forsythe recount: exact per-group
  * medians, z = |x − med|, one-way F on the z's).
  */
class HitsLeveneSpec extends SparkSpec {

  test("graph_hits matches a serial recount of the bipartite ping-pong") {
    val dir = sf("sf0.001")
    import spark.implicits._
    val edges = Graph.graphHits(spark, dir) // warm nothing — build edges below
    val ep = {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .selectExpr("l_orderkey", "l_partkey")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .selectExpr("o_orderkey", "o_custkey")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .selectExpr("o_custkey AS c", "l_partkey AS p").distinct()
        .as[(Long, Long)].collect()
    }
    var h = ep.map(_._1).distinct.map(c => c -> 1048576L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val a0 = ep.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => h(e._1)).sum }
      val da = a0.values.max / 1048576L + 1L
      a = a0.map { case (p, v) => p -> v / da }
      val h0 = ep.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => a(e._2)).sum }
      val dh = h0.values.max / 1048576L + 1L
      h = h0.map { case (c, v) => c -> v / dh }
    }
    val wantAuth = a.toSeq.sortBy { case (p, v) => (-v, p) }.take(15)
      .map { case (p, v) => ("authority", p, v) }
    val wantHub = h.toSeq.sortBy { case (c, v) => (-v, c) }.take(15)
      .map { case (c, v) => ("hub", c, v) }
    val got = edges.as[(String, Long, Long)].collect().toSeq
    assert(got == wantAuth ++ wantHub)
  }

  test("stat_levene matches a serial Brown-Forsythe recount") {
    val dir = sf("sf0.001")
    val rows = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("o_orderpriority AS g",
        "CAST(round(o_totalprice) AS LONG) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      // m2 = 2·median: middle twice when odd, two middles when even
      val m2 = sorted((n + 1) / 2 - 1) + sorted(n / 2)
      val z = sorted.map(v => math.abs(2L * v - m2))
      (g, z)
    }
    val k = groups.size.toLong
    val nTot = groups.values.map(_.length.toLong).sum
    // the centi-floored decimal fold, replayed exactly
    val tSum = groups.values.map { z =>
      val s = z.sum.toDouble
      math.floor(s * z.sum / z.length * 100d)
    }.sum
    val sTot = groups.values.map(_.sum).sum.toDouble
    val qSum = groups.values.map(_.map(x => x * x).sum).sum.toDouble
    val ssb = tSum / 100d - sTot * sTot / nTot
    val ssw = qSum - tSum / 100d
    val want = BigDecimal(ssb / (k - 1) / (ssw / (nTot - k)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Relational.statLevene(spark, dir).head()
    assert(row.getLong(0) == k)
    assert(row.getLong(1) == nTot)
    assert(row.getDouble(2) == want, s"f_bf ${row.getDouble(2)} != $want")
  }

  test("stat_levene near-zero on equal-spread groups (sanity law)") {
    // identical value multisets per group => all z's identical across
    // groups => between-group SS is 0 => F = 0 exactly
    import spark.implicits._
    val vals = (1L to 100L).flatMap(v => Seq(("a", v), ("b", v)))
    val df = vals.toDF("g", "v")
    val work = java.nio.file.Files.createTempDirectory("lev").toString
    df.selectExpr("g AS o_orderpriority", "CAST(v AS DOUBLE) AS o_totalprice")
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    val row = Relational.statLevene(spark, work).head()
    assert(row.getDouble(2) == 0.0d)
  }
}
