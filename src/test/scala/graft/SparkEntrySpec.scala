package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The registry contract behind SparkEntry's `++` joins: `++` keeps the
  * last of two same-named entries, so a name registered by two modules,
  * or a query without its oracle, would vanish without an error.
  */
class SparkEntrySpec extends AnyFunSuite {
  private val modules: Seq[(String, Set[String], Set[String])] = Seq(
    ("Relational", Relational.queries.keySet, Relational.oracles.keySet),
    ("KvAria", KvAria.queries.keySet, KvAria.oracles.keySet),
    ("Events", Events.queries.keySet, Events.oracles.keySet),
    ("Graph", Graph.queries.keySet, Graph.oracles.keySet),
    ("TextOps", TextOps.queries.keySet, TextOps.oracles.keySet),
    ("Similarity", Similarity.queries.keySet, Similarity.oracles.keySet),
    ("Multimodal", Multimodal.queries.keySet, Multimodal.oracles.keySet),
    ("Skew", Skew.queries.keySet, Skew.oracles.keySet),
    ("TemporalJoins", TemporalJoins.queries.keySet,
      TemporalJoins.oracles.keySet),
    ("Skyline", Skyline.queries.keySet, Skyline.oracles.keySet),
    ("Sketches", Sketches.queries.keySet, Sketches.oracles.keySet),
    ("Materialized", Materialized.queries.keySet, Materialized.oracles.keySet),
    ("Quality", Quality.queries.keySet, Quality.oracles.keySet),
    ("Affinity", Affinity.queries.keySet, Affinity.oracles.keySet),
    ("LayoutOps", LayoutOps.queries.keySet, LayoutOps.oracles.keySet))

  test("no query name is registered by two modules") {
    val shared = for {
      (a, qa, _) <- modules; (b, qb, _) <- modules if a < b
      name <- qa.intersect(qb)
    } yield s"$name in $a and $b"
    assert(shared.isEmpty)
  }

  test("each module's oracles cover exactly its queries") {
    for ((name, q, o) <- modules)
      assert(q == o, s"$name: queries without oracle ${q.diff(o)}, " +
        s"oracles without query ${o.diff(q)}")
  }

  test("SparkEntry joins every module: 332 queries, each with its oracle") {
    assert(modules.map(_._2.size).sum == SparkEntry.queries.size)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 332)
  }
}
