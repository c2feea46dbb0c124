package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** componentSizes / q47 / q48: exact in-memory recomputation (union-find
  * for the components) plus conservation laws.
  */
class ComponentSizesSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("componentSizes matches a union-find recount and conserves the " +
      "vertex set") {
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Graph.groupFrame(spark, dir).collect()
      .map(_.getAs[Long]("gid")).toSet
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val sizes = nodes.groupBy(find).map(_._2.size)
    val expect = sizes.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
      .map { case (k, v) => k.toLong -> v }
    val got = Graph.componentSizes(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // histogram conserves the vertex set
    assert(got.map { case (sz, n) => sz * n }.sum == nodes.size.toLong)
    // every edge endpoint is a known vertex
    pairs.foreach { case (a, b) =>
      assert(nodes.contains(a) && nodes.contains(b))
    }
  }

  test("q47 order-count distribution conserves customers and counts " +
      "zero-order ones") {
    import spark.implicits._
    val custs = Tables.customer(spark, dir).select($"c_custkey")
      .as[Long].collect().toSet
    val ordersPerCust = Tables.orders(spark, dir).select($"o_custkey")
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
    val expect = custs.toSeq
      .map(c => ordersPerCust.getOrElse(c, 0L))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Relational.q47OrderCountDist(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got.values.sum == custs.size.toLong)
  }

  test("q48 promo share matches a naive recount") {
    import spark.implicits._
    val pt = Tables.part(spark, dir).select($"p_partkey", $"p_type")
      .as[(Long, String)].collect().toMap
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_shipdate".cast("string"),
        $"l_extendedprice", $"l_discount")
      .as[(Long, String, Double, Double)].collect()
      .filter(r => r._2.take(4) == "1996")
      .map { case (p, d, e, disc) =>
        (d.slice(5, 7).toLong, pt(p) == "PROMO",
          math.round(e * (1.0 - disc) * 100))
      }
    val expect = li.groupBy(_._1).map { case (m, rows) =>
      val tot = rows.map(_._3).sum
      val promo = rows.filter(_._2).map(_._3).sum
      m -> ((tot, promo, 1000L * promo / tot))
    }
    val got = Relational.q48PromoRevenue(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
  }
}
