package graft.operators

import graft.SparkSpec

/** statKsDrift: the exact-integer KS laws — the statistic recounts from
  * a serial ECDF sweep over the collected values, is bounded by n1·n2,
  * and is attained at the reported location.
  */
class KsDriftSpec extends SparkSpec {

  private def serial(dir: String): (Long, Long, Long, Long) = {
    val rows = spark.read.parquet(dir + "/orders.parquet")
      .selectExpr("CAST(round(o_totalprice * 100) AS LONG) AS v",
        "o_orderdate < TIMESTAMP '1998-06-01' AS a")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val n1 = rows.count(_._2).toLong
    val n2 = rows.length - n1
    val byV = rows.groupBy(_._1).map { case (v, g) =>
      (v, g.count(_._2).toLong, g.count(!_._2).toLong)
    }.toSeq.sortBy(_._1)
    var (c1, c2, best, bestV) = (0L, 0L, -1L, 0L)
    byV.foreach { case (v, a, b) =>
      c1 += a; c2 += b
      val dev = math.abs(c1 * n2 - c2 * n1)
      if (dev > best) { best = dev; bestV = v }
    }
    (n1, n2, best, bestV)
  }

  private def recount(dir: String): Unit = {
    val (n1, n2, ksNum, vAt) = serial(dir)
    val got = Relational.statKsDrift(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == n1 && r.getLong(1) == n2)
    assert(r.getLong(2) == ksNum, "ks_num")
    assert(r.getLong(3) == vAt, "v_at_max_cents")
    assert(r.getLong(4) == 1000L * ksNum / (n1 * n2), "ks_pm")
  }

  test("KS statistic recounts exactly from a serial ECDF sweep") {
    recount(sf("sf0.001"))
  }

  test("ks_pm stays exact when n1·n2 exceeds the INT range (sf0.1)") {
    // n1·n2 ≈ 5.6e9 at sf0.1: the cohort counts must enter the SQL as
    // longs, or their product overflows under ANSI mode
    recount(sf("sf0.1"))
  }

  test("statistic is within its theoretical bounds") {
    val r = Relational.statKsDrift(spark, sf("sf0.001")).collect().head
    val (n1, n2, ks) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n1 > 0 && n2 > 0, "both cohorts populated")
    assert(ks >= 0 && ks <= n1 * n2, "0 <= D*n1*n2 <= n1*n2")
    assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
  }
}
