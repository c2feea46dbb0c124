package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** starContraction (large-star/small-star CC): correctness on adversarial
  * graph shapes and the O(log n) round bound that motivated replacing plain
  * min-label propagation (which needs O(diameter) rounds — 127 for the
  * path fixture here, where contraction needs ~log₂ 128).
  */
class StarContractionSpec extends SparkSpec {

  private def nodesDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("doc_id")
  }
  private def edgesDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("a", "b")
  }
  private def labelMap(ids: Seq[Long], es: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (labels, rounds) = Graph.starContraction(nodesDf(ids), edgesDf(es))
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("path graph 0-1-...-127 converges to min-label in O(log n) rounds") {
    val n = 128
    val ids = (0L until n).toSeq
    val (got, rounds) = labelMap(ids, ids.sliding(2).map(p => (p(0), p(1))).toSeq)
    assert(got == ids.map(_ -> 0L).toMap)
    // diameter is 127; the contraction bound is O(log n) with a small
    // constant — allow 2·log₂(128) + 2 = 16 before calling it degenerate
    assert(rounds <= 16, s"took $rounds rounds on a 128-path")
  }

  test("disjoint components, isolated nodes, and shuffled edge orientation") {
    // two components {10,11,12,13} (a cycle) and {20,21} plus isolated 30
    val es = Seq((11L, 10L), (12L, 11L), (13L, 12L), (10L, 13L), (21L, 20L))
    val (got, _) = labelMap(Seq(10L, 11L, 12L, 13L, 20L, 21L, 30L), es)
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("duplicate and self-loop edges are tolerated") {
    val es = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (2L, 3L))
    val (got, _) = labelMap(Seq(1L, 2L, 3L), es)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star fixture converges immediately (already a fixed point)") {
    val es = (1L to 5L).map(v => (v, 0L))
    val (got, rounds) = labelMap(0L to 5L, es)
    assert(got == ((0L to 5L).map(_ -> 0L).toMap))
    assert(rounds <= 2, s"star graph took $rounds rounds")
  }
}
