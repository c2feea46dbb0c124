package graft.operators

import graft.SparkSpec

/** dedup_prefix_pairs: the AllPairs prefix-filter join is COMPLETE — its
  * output equals a serial brute-force enumeration of every doc pair with
  * shingle-set Jaccard ≥ 0.8 (the theorem the prefix trick rests on is
  * zero false negatives; false positives are removed by the exact verify),
  * with the same integer permille arithmetic. Plus the output-domain laws:
  * every emitted pair verifies ≥ 0.8 and intersection ≤ min size.
  */
class PrefixPairsSpec extends SparkSpec {

  private val M = 68719476731L

  /** Serial mirror of Fingerprint.tokenCode + the shingle fold. */
  private def shingleSet(text: String): Set[Long] = {
    def tc(w: String): Long = {
      def ch(i: Int): Long =
        if (i >= 0 && i < w.length) w.charAt(i).toLong else 0L
      (ch(0) * 65536L + ch(1) * 256L + ch(2) + w.length) * 256L +
        ch(w.length - 1)
    }
    text.split(" ", -1).toSeq.map(tc).sliding(3).filter(_.length == 3)
      .map { c => ((c(0) % M * 131071L + c(1)) % M * 131071L + c(2)) % M }
      .toSet
  }

  private def truth(dir: String): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), shingleSet(r.getString(1))))
      .filter(_._2.nonEmpty).sortBy(_._1)
    for {
      i <- docs.indices
      j <- (i + 1) until docs.length
      (a, sa) = docs(i)
      (b, sb) = docs(j)
      c = (sa & sb).size.toLong
      u = sa.size + sb.size - c
      if c * 5L >= u * 4L
    } yield (a, b, c, sa.size.toLong, sb.size.toLong, c * 1000L / u)
  }

  test("output equals the brute-force exact-Jaccard truth (completeness)") {
    val dir = sf("sf0.001")
    val want = truth(dir)
    val got = TextOps.prefixPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(want.nonEmpty, "degenerate corpus: no true pairs to find")
    assert(got == want)
  }

  test("every emitted pair verifies: jac_pm >= 800, c <= min(na, nb)") {
    val got = TextOps.prefixPairs(spark, sf("sf0.001")).collect()
    got.foreach { r =>
      assert(r.getLong(5) >= 800L, s"below threshold: $r")
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
        s"intersection exceeds a set size: $r")
    }
  }
}
