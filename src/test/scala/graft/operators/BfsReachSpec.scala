package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** bfsReach: BFS distance laws checked against an independent
  * recomputation from the contracted edge list — seeds at 0, every
  * distance realized by a parent at distance−1, and no edge spans a
  * distance gap > 1 (the triangle inequality of unweighted BFS).
  */
class BfsReachSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("bfsReach distances obey seed/parent/edge-gap laws") {
    import spark.implicits._
    val d = Graph.bfsReach(spark, dir).localCheckpoint(true)
    assert(d.filter($"dist" < 0 || $"dist" > 3).count() == 0)
    // dist 0 ⟺ seed (group_id ≡ 0 mod 17)
    assert(d.filter(($"dist" === 0L) =!= ($"group_id" % 17 === 0)).count() == 0)

    val pairs = Graph.groupPairsOf(spark, dir).localCheckpoint(true)
    val sym = pairs.select($"a".as("u"), $"b".as("v"))
      .unionByName(pairs.select($"b".as("u"), $"a".as("v")))
    val du = d.select($"group_id".as("u"), $"dist".as("du"))
    val dv = d.select($"group_id".as("v"), $"dist".as("dv"))
    // no edge with both ends reached may span more than one level
    val gap = sym.join(du, "u").join(dv, "v")
      .filter(abs($"du" - $"dv") > 1)
    assert(gap.count() == 0)
    // every non-seed reached node has a parent at dist−1
    val parented = sym.join(du, "u")
      .groupBy($"v").agg(min($"du").as("minNbr"))
    val orphans = d.filter($"dist" > 0)
      .join(parented, $"group_id" === $"v", "left")
      .filter($"minNbr".isNull || $"minNbr" =!= $"dist" - 1)
    assert(orphans.count() == 0)
    // an edge from a reached node at dist < 3 forces its neighbor in
    val missing = sym.join(du, "u").filter($"du" < 3)
      .join(dv, Seq("v"), "left_anti")
    assert(missing.count() == 0)
  }
}
