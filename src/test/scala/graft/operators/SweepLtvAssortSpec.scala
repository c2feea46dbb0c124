package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** temperatureSweep / cohortLtv / assortativity: recounts and the laws
  * each contract promises.
  */
class SweepLtvAssortSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("temperatureSweep flattens shares monotonically as alpha falls") {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .groupBy($"lang").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val rows = Sketches.temperatureSweep(spark, dir).collect()
      .map(r => (r.getLong(2), r.getString(0)) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    def isqrt(n: Long): Long = math.floor(math.sqrt(n.toDouble)).toLong
    counts.foreach { case (lang, n) =>
      assert(rows((1000L, lang))._2 == n)
      assert(rows((500L, lang))._2 == isqrt(n))
      assert(rows((250L, lang))._2 == isqrt(isqrt(n)))
    }
    // flattening law: the SPREAD of target shares shrinks as alpha falls
    def spread(alpha: Long): Long = {
      val ts = rows.collect { case ((a, _), (_, _, t)) if a == alpha => t }
      ts.max - ts.min
    }
    assert(spread(1000L) >= spread(500L))
    assert(spread(500L) >= spread(250L))
  }

  test("cohortLtv accumulates correctly and cohort sizes match retention") {
    val rows = Events.cohortLtv(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // cumulative = running sum of rev within each cohort, offsets ordered
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      var acc = 0L
      sorted.foreach { case (_, _, _, rev, cum) =>
        acc += rev
        assert(cum == acc)
      }
    }
    // cohort sizes agree with the retention query's week-0 actives
    val ret = Events.retention(spark, dir).collect()
      .filter(_.getLong(1) == 0L)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      assert(rs.head._3 == ret(cohort))
    }
  }

  test("assortativity matches an exact integer recount") {
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = pairs ++ pairs.map(p => (p._2, p._1))
    val deg = sym.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val m = sym.length.toLong
    val sx = sym.map(e => deg(e._1)).sum
    val sxx = sym.map(e => deg(e._1) * deg(e._1)).sum
    val sxy = sym.map(e => deg(e._1) * deg(e._2)).sum
    val num = m * sxy - sx * sx
    val den = m * sxx - sx * sx
    val r = Graph.assortativity(spark, dir).collect().head
    assert(r.getLong(0) == m)
    assert(r.getLong(1) == num)
    assert(r.getLong(2) == den)
    assert(r.getLong(3) == math.floor(1000.0 * num / den).toLong)
    // a Pearson correlation stays in [-1, 1]
    assert(r.getLong(3) >= -1000L && r.getLong(3) <= 1000L)
  }
}
