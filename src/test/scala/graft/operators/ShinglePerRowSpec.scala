package graft.operators

import graft.SparkSpec

/** r17 focused law: the window-free per-row [[Fingerprint.shingleCodesOf]]
  * (transform + sequence + element_at + in-row array_distinct) must emit
  * exactly the same (doc_id, code) set as the definition it replaced —
  * posexplode + two lead() windows + global DISTINCT — here checked
  * against a plain-Scala sliding-window reference with the same token
  * code and modular fold, on the edge shapes the rewrite could
  * plausibly diverge on: docs with 0/1/2 tokens (no complete 3-gram ⇒
  * absent from codes), exactly 3 tokens, repeated shingles inside one
  * doc (per-doc distinct), and repeated tokens.
  */
class ShinglePerRowSpec extends SparkSpec {
  import spark.implicits._

  private val M = 68719476731L

  private def asciiAt(w: String, i: Int): Long =
    if (i >= 0 && i < w.length) w.charAt(i).toLong else 0L

  /** Plain-Scala mirror of Fingerprint.tokenCode (ascii('') = 0 semantics). */
  private def code(w: String): Long =
    (asciiAt(w, 0) * 65536L + asciiAt(w, 1) * 256L + asciiAt(w, 2)
      + w.length.toLong) * 256L + asciiAt(w, w.length - 1)

  private def refCodes(docId: Long, text: String): Set[(Long, Long)] =
    text.split(" ", -1).toSeq.map(code).sliding(3)
      .filter(_.size == 3)
      .map { case Seq(c0, c1, c2) =>
        docId -> ((c0 % M * 131071L + c1) % M * 131071L + c2) % M
      }.toSet

  test("per-row shingling matches the sliding-window reference on edge docs") {
    val docs = Seq(
      (1L, ""), // 1 empty token after split — no shingle
      (2L, "one"), // 1 token
      (3L, "one two"), // 2 tokens
      (4L, "one two three"), // exactly one shingle
      (5L, "a b c d e"), // 3 shingles
      (6L, "x y x y x y"), // repeated shingles -> per-doc distinct
      (7L, "aa aa aa aa"), // repeated tokens, one distinct shingle
      (8L, "w1  w2 w3") // double space -> empty middle token kept by split
    ).toDF("doc_id", "text")
    val got = Fingerprint.shingleCodesOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = docs.collect()
      .flatMap(r => refCodes(r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // docs 1-3 must be entirely absent (no complete 3-gram)
    assert(!got.exists(p => p._1 <= 3L))
    // per-doc distinct: doc 6 has 4 sliding shingles but only 2 distinct
    assert(got.count(_._1 == 6L) == 2)
    assert(got.count(_._1 == 7L) == 1)
  }

  test("per-row shingling matches the reference on the sf0.001 corpus") {
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text")
    val got = Fingerprint.shingleCodesOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = docs.collect()
      .flatMap(r => refCodes(r.getLong(0), r.getString(1))).toSet
    assert(got == want)
  }

  test("precondition: documents has unique doc_id, so codes are (doc_id, code)-distinct") {
    // array_distinct is per ROW; it equals the global (doc_id, code)
    // DISTINCT only while no doc_id spans two rows
    for (scale <- Seq("sf0.01", "sf0.1")) {
      val docs = graft.sources.Tables.documents(spark, sf(scale))
      assert(docs.groupBy("doc_id").count().filter($"count" > 1).isEmpty,
        s"duplicate doc_id at $scale")
      val codes = Fingerprint.shingleCodesOf(docs)
      assert(codes.count() == codes.distinct().count(), scale)
    }
  }

  test("fold law: reducing only the head gives the per-step remainder's values") {
    import org.apache.spark.sql.functions.lit
    // the formula Fingerprint.fold replaced: the accumulator reduced
    // again before every product
    def perStep(cs: Seq[Long]): Long =
      cs.reduceLeft((acc, c) => (acc % M * 131071L + c) % M)
    val top = (1L << 53) - 1 // the 2^53 bound of Fingerprint.M's scaladoc
    val cases = Seq(
      Seq(5L, 7L, 11L),
      Seq(1L, 2L, 3L, 4L),
      Seq(M + 12345L, 3L, M - 1L), // head ≥ M
      Seq(3L * M + 7L, M - 1L, M - 2L, M - 3L),
      Seq(-17L, 5L, 1L - M), // negative terms
      Seq(-(M + 9L), -4L, -3L, -2L),
      Seq(top, top - 1L, top - 2L), // terms near 2^53
      Seq(top, -top, top, -top),
      Seq(M - 1L, top, -1L, M))
    val row = spark.range(1).select(cases.zipWithIndex.map { case (cs, i) =>
      Fingerprint.fold(cs.map(lit)).as(s"f$i")
    }: _*).head()
    for ((cs, i) <- cases.zipWithIndex)
      assert(row.getLong(i) == perStep(cs), cs.mkString(", "))
  }
}
