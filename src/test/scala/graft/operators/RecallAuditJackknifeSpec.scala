package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ci_jack_pm — the delete-one-group jackknife CI of the sampled recall
  * audit (VERDICT r14 #5). The binomial CI treats sampled pairs as
  * independent Bernoulli draws, but the audit samples BY MIN ENDPOINT:
  * every pair of a min doc enters or leaves the sample together (cluster
  * sampling), so when found/missed status clusters by doc the binomial
  * half-width understates. The jackknife groups pairs by an independent
  * hash of the min endpoint and reads the between-group variance —
  * exactly what clustering inflates.
  *
  * The fixture ENGINEERS the skew: 4 identical-doc pairs (J = 1, LSH
  * always finds them) whose min ids land in jackknife group 0, and 4
  * borderline pairs (J = 0.8 exactly, selected at runtime as the ones
  * the fixed 2×4 banding actually misses) whose min ids land in group 1.
  * Per-group recalls are then 1000 and 0 permille — maximal clustering —
  * and the hand computation gives jack = ⌊1.96·√((G−1)·Σ(G·r⁻ⱼ−Σr⁻)²/G³)⌋
  * = ⌊1.96·500⌋ = 980 vs binomial = ⌊1960·√(f(t−f))/(t√t)⌋ = 346: the
  * clustered CI is ~3× the Bernoulli one, the understatement the r14
  * scaladoc admitted and this column closes.
  */
class RecallAuditJackknifeSpec extends SparkSpec {

  private def jgrp(d: Long): Long = d % 999983L * 92821L % 999983L % 8L

  /** First `n` ids ≥ 1000 in jackknife group `g` (ids chosen large enough
    * to never collide between the two searches).
    */
  private def idsInGroup(g: Long, n: Int, from: Long): Seq[Long] =
    Iterator.iterate(from)(_ + 1).filter(jgrp(_) == g).take(n).toSeq

  /** A J = 0.8 borderline pair: 11 distinct tokens vs the same with the
    * last token swapped — 9 shingles each, 8 shared, union 10.
    */
  private def borderline(i: Int): (String, String) = {
    val base = (0 to 10).map(w => s"m${i}w$w")
    (base.mkString(" "), (base.init :+ s"m${i}alt").mkString(" "))
  }

  private def writeDocs(rows: Seq[(Long, String)], dir: String): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("fix").as("source"), length($"text").cast("long").as("n_chars"))
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("engineered cluster skew: jackknife CI exceeds the binomial CI") {
    val work = java.nio.file.Files.createTempDirectory("jack").toString

    // stage 1: which borderline pairs does the fixed banding miss?
    val cand = (0 until 24).flatMap { i =>
      val (ta, tb) = borderline(i)
      Seq((2000L + 2 * i, ta), (2001L + 2 * i, tb))
    }
    writeDocs(cand, s"$work/probe")
    val lshPairs = TextOps.shinglePairsOf(
        Fingerprint.shingleCodesOf(spark.read.parquet(s"$work/probe/documents.parquet")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missedIdx = (0 until 24).filterNot(i =>
      lshPairs.contains((2000L + 2 * i, 2001L + 2 * i)))
    val foundIdx = (0 until 24).filter(i =>
      lshPairs.contains((2000L + 2 * i, 2001L + 2 * i)))
    assert(missedIdx.size >= 4 && foundIdx.size >= 4,
      s"banding split too lopsided for the fixture: " +
        s"${missedIdx.size} missed / ${foundIdx.size} found of 24")

    // stage 2: 4 always-found identical pairs with min ids in group 0,
    // 4 missed borderline pairs with min ids in group 1 (reassigning ids
    // cannot change found/missed status — signatures depend only on text)
    val g0 = idsInGroup(0L, 4, 1000L)
    val g1 = idsInGroup(1L, 4, 5000L)
    val ident = g0.zipWithIndex.flatMap { case (a, j) =>
      val t = (0 to 10).map(w => s"f${j}w$w").mkString(" ")
      Seq((a, t), (a + 100000L, t))
    }
    val missed = g1.zip(missedIdx.take(4)).flatMap { case (a, i) =>
      val (ta, tb) = borderline(i)
      Seq((a, ta), (a + 100000L, tb))
    }
    writeDocs(ident ++ missed, s"$work/skew")

    val row = TextOps.recallAuditSampled(spark, s"$work/skew", strata = 1)
      .head()
    assert(row.getLong(0) == 8L, s"n_truth ${row.getLong(0)}")
    assert(row.getLong(1) == 4L, s"n_found ${row.getLong(1)}")
    assert(row.getLong(2) == 4L, s"n_missed ${row.getLong(2)}")
    assert(row.getLong(3) == 500L)
    // binomial: floor(1960·√(4·4) / (8·√8)) = 346; jackknife over the two
    // groups (r⁻ = 0 and 1000 pm): floor(1.96·√(1·2e6/8)) = 980
    assert(row.getLong(4) == 346L, s"binomial ${row.getLong(4)}")
    assert(row.getLong(5) == 980L, s"jackknife ${row.getLong(5)}")
    assert(row.getLong(5) > row.getLong(4),
      "clustered CI must exceed the Bernoulli CI under engineered skew")
  }

  test("uniform corpus: jackknife stays in the binomial's neighborhood") {
    // the S = 8 gate configuration on the real corpus — consistency, not
    // a fixed value: jack is 0 only if recall is constant across groups
    val row = TextOps.recallAuditSampled(spark, sf("sf0.001"), strata = 8)
      .head()
    val (t, f) = (row.getLong(0), row.getLong(1))
    assert(row.getLong(2) == t - f)
    assert(row.getLong(5) >= 0L)
    if (f == t || f == 0L) assert(row.getLong(5) == 0L)
  }
}
