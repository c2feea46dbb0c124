package graft.operators

import graft.SparkSpec

/** groupKfold: the fold report recounts from the cluster assignment,
  * the split conserves the corpus, and the leakage guarantee holds —
  * every near-dup cluster lands wholly inside one fold.
  */
class GroupKfoldSpec extends SparkSpec {

  test("fold report recounts from cluster labels and token counts") {
    val dir = sf("sf0.001")
    val clusters = TextOps.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val toks = spark.read.parquet(dir + "/documents.parquet")
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS LONG) AS t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def fold(label: Long): Long = label * 2654435761L % 2147483647L % 5
    val truth = clusters.groupBy { case (_, c) => fold(c) }.map {
      case (f, g) =>
        f -> (g.length.toLong, g.map(_._2).distinct.length.toLong,
          g.map(d => toks(d._1)).sum)
    }
    val got = TextOps.groupKfold(spark, dir).collect()
    assert(got.length == truth.size)
    var docs = 0L
    got.foreach { r =>
      val (nd, nc, nt) = truth(r.getLong(0))
      assert(r.getLong(1) == nd, s"fold ${r.getLong(0)} n_docs")
      assert(r.getLong(2) == nc, s"fold ${r.getLong(0)} n_clusters")
      assert(r.getLong(3) == nt, s"fold ${r.getLong(0)} n_tokens")
      docs += r.getLong(1)
    }
    assert(docs == clusters.length.toLong, "split conserves the corpus")
  }

  test("no near-dup cluster spans folds (the leakage guarantee)") {
    val dir = sf("sf0.001")
    // fold is a pure function of the cluster label, so the guarantee is
    // structural; verify it end to end anyway via the pair graph: every
    // LSH near-dup pair's two documents get the same fold
    val clusters = TextOps.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    def fold(label: Long): Long = label * 2654435761L % 2147483647L % 5
    val pairs = TextOps.shinglePairsOf(
      Fingerprint.shingleCodes(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has near-dup pairs to guard")
    pairs.foreach { case (a, b) =>
      assert(fold(clusters(a)) == fold(clusters(b)),
        s"near-dup pair ($a, $b) split across folds")
    }
  }
}
