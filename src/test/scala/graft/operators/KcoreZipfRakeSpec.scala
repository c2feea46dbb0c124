package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** kcore / zipfCurve / rakePhrases / stageFunnel: structural laws each
  * operator must satisfy beyond the DuckDB hash gate.
  */
class KcoreZipfRakeSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("3-core members all keep degree >= 3 and the core closes over " +
      "its own edges") {
    val core = Graph.kcore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // peeling's defining invariant: every survivor has >= k neighbors
    // INSIDE the surviving set (core_deg counts exactly those)
    assert(core.values.forall(_ >= 3))
    // 4 rounds suffice at this scale: a 5th peel is a no-op (fixpoint)
    val core5 = Graph.kcore(spark, dir, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core5 == core)
  }

  test("zipf curve conserves the vocabulary and its slope is the exact " +
      "regression over bitlength points") {
    import spark.implicits._
    val rows = TextOps.zipfCurve(spark, dir).collect()
    val vocab = Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("w"))
      .select($"w").distinct().count()
    assert(rows.map(_.getLong(1)).sum == vocab)
    // buckets partition ranks: bucket b holds ranks [2^(b-1), 2^b)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3)) // max_freq >= min_freq
    }
    // slope columns are constant across rows and internally consistent
    val (num, den, sl) = (rows.head.getLong(5), rows.head.getLong(6),
      rows.head.getDouble(7))
    assert(rows.forall(r => r.getLong(5) == num && r.getLong(6) == den))
    assert(den > 0)
    assert(math.abs(sl - math.rint(num.toDouble / den * 1000) / 1000) < 1e-9)
  }

  test("RAKE phrases contain no delimiter words, respect the length cap, " +
      "and score by exact integer degree/freq millis") {
    val rows = TextOps.rakePhrases(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val words = r.getString(0).split(" ")
      assert(words.length >= 2 && words.length <= 4)
      assert(!words.contains("a") && !words.contains("the"))
      assert(r.getLong(1) >= 1) // n_occ
      assert(r.getLong(2) > 0)  // score_milli
    }
    // ranking is by (score desc, phrase)
    val scores = rows.map(r => (r.getLong(2), r.getString(0)))
    assert(scores.sortBy { case (s, p) => (-s, p) }.sameElements(scores))
  }

  test("stage funnel is monotone, starts at the corpus size, and " +
      "conserves drops") {
    val rows = TextOps.stageFunnel(spark, dir).collect()
    assert(rows.map(_.getLong(0)).sameElements(0L to 4L))
    val nDocs = rows.map(_.getLong(2))
    val total = Tables.documents(spark, dir).count()
    assert(nDocs.head == total)
    // each stage keeps a subset of the previous one
    assert(nDocs.sliding(2).forall(p => p(0) >= p(1)))
    // dropped is exactly the consecutive difference, with dropped(0) = 0
    val dropped = rows.map(_.getLong(4))
    assert(dropped.head == 0L)
    (1 until rows.length).foreach { i =>
      assert(dropped(i) == nDocs(i - 1) - nDocs(i))
    }
    // the funnel's final stage equals the manifest's keep count
    val keeps = TextOps.keepManifest(spark, dir)
      .filter(col("keep") === 1).count()
    assert(nDocs.last == keeps)
  }
}
