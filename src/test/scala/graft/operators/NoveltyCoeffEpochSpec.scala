package graft.operators

import graft.SparkSpec
import graft.sources.Tables

/** ngramNovelty / clusteringCoeff / epochMix: in-memory recounts and the
  * structural laws each contract promises, on sf0.001.
  */
class NoveltyCoeffEpochSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("ngramNovelty matches an exact in-memory first-occurrence recount") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // window identity by the literal 4-word window text — the operator's
    // dual hash must behave as if keyed on the content itself
    val windows = docs.flatMap { case (id, text) =>
      val ws = text.split(" ")
      ws.sliding(4).zipWithIndex.collect {
        case (g, pos) if g.length == 4 => (id, pos.toLong, g.mkString(" "))
      }
    }
    val firstOwner = windows.groupBy(_._3).map { case (g, occ) =>
      g -> occ.map(o => (o._1, o._2)).min
    }
    val expect = windows.groupBy(_._1).map { case (id, occ) =>
      val novel = occ.count(o => firstOwner(o._3) == ((o._1, o._2)))
      id -> ((occ.length.toLong, novel.toLong,
        1000L * novel / occ.length))
    }
    val got = TextOps.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
    // the earliest doc with windows is fully novel by definition
    val firstDoc = got.keys.min
    assert(got(firstDoc)._3 == 1000L)
  }

  test("clusteringCoeff is consistent with the triangles query and the " +
      "pair-graph degrees") {
    import spark.implicits._
    val cc = Graph.clusteringCoeff(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val tri = Graph.triangles(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Graph.groupPairsOf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = (pairs.map(_._1) ++ pairs.map(_._2)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    assert(cc.keySet == deg.keySet)
    cc.foreach { case (v, (d, t, pm)) =>
      assert(d == deg(v))
      assert(t == tri.getOrElse(v, 0L))
      val expectPm = if (d >= 2) 2000L * t / (d * (d - 1)) else 0L
      assert(pm == expectPm)
      assert(pm >= 0L && pm <= 1000L)
    }
    // triangle nodes appear nowhere outside the degree universe
    assert(tri.keySet.subsetOf(deg.keySet))
  }

  test("epochMix: budget algebra laws and an exact token recount") {
    import spark.implicits._
    val rows = Sketches.epochMix(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val toks = Tables.documents(spark, dir)
      .select($"source", $"text").as[(String, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(_._2.split(" ").length.toLong).sum).toMap
    val total = toks.values.sum
    val target = 2L * total / toks.size
    assert(rows.map(_._1).toSet == toks.keySet)
    rows.foreach { case (src, avail, t, epochs, eff, deficit) =>
      assert(avail == toks(src))
      assert(t == target)
      assert(epochs >= 1L && epochs <= 4L)
      assert(epochs == math.min(4L, (t + avail - 1) / avail))
      assert(eff == math.min(t, 4L * avail))
      assert(deficit == t - eff)
      // a source that needs no repetition has no deficit
      if (epochs < 4L) assert(deficit == 0L)
    }
    // the 2x budget is data-constrained by construction: at least one
    // source must repeat
    assert(rows.exists(_._4 > 1L))
  }
}
