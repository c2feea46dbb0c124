package graft.operators

import graft.SparkSpec

/** PQ geometry parameterization: the (M, k) kernels must reproduce the
  * gate geometry exactly at the pinned values and satisfy the structural
  * PQ laws at every other geometry — code-table shape N×M with codes in
  * [0, k), a complete M-term ADC sum per (query, candidate), and a
  * deterministic dense top-3 per query.
  */
class PqGeometrySpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("explicit gate geometry (M=4, k=8) reproduces the gate query") {
    import spark.implicits._
    val gate = Similarity.pqTopK(spark, dir).collect().toSeq
    val explicit = Similarity.pqAdcTop3(spark, dir, mSub = 4, kCents = 8)
      .select($"qid", $"vec_id", $"d2_adc", $"rn")
      .orderBy($"qid", $"rn").collect().toSeq
    assert(explicit == gate)
  }

  // the codebook is ONE Lloyd fit keyed by subspace; the key must make
  // the subspaces fully independent — each key group's centroids equal an
  // unkeyed fit (the IVF quantizer, same seeds vec_id < k) over that
  // subspace's slices alone
  for ((m, k) <- Seq((4, 8), (2, 4))) {
    test(s"keyed fit == $m unkeyed per-subspace fits at k=$k") {
      import spark.implicits._
      val sub = Similarity.pqSub(Similarity.qEmb(spark, dir), m)
        .localCheckpoint(true)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      val keyed = Similarity.pqCodebook(sub, k)
      for (mi <- 0 until m) {
        val slice = sub.filter($"m" === mi).select($"vec_id", $"q", $"n2")
        assert(rows(keyed.filter($"m" === mi).select($"cid", $"cq")) ===
          rows(Similarity.ivfCentroids(spark, slice, k)), s"subspace $mi")
      }
    }
  }

  for ((m, k) <- Seq((2, 4), (8, 8), (4, 16))) {
    test(s"structural PQ laws hold at M=$m, k=$k") {
      import spark.implicits._
      val (codes, lut) = Similarity.pqCodesAndLut(spark, dir, m, k)
      val cc = codes.localCheckpoint(true)
      val nVec = graft.sources.Tables.embeddings(spark, dir).count()
      // code table: exactly M codes per vector, every code in [0, k)
      assert(cc.count() == nVec * m)
      assert(cc.filter($"cid" < 0 || $"cid" >= k).count() == 0)
      assert(cc.groupBy($"vec_id").count()
        .filter($"count" =!= m).count() == 0)
      // LUT: every (query, subspace) carries all k cells, so any code row
      // matches exactly one LUT row per subspace and the ADC sum is
      // complete (M terms, never fewer)
      val lc = lut.localCheckpoint(true)
      assert(lc.groupBy($"qid", $"m").count()
        .filter($"count" =!= k).count() == 0)
      val top = Similarity.pqAdcTop3(spark, dir, m, k)
        .localCheckpoint(true)
      // dense deterministic ranks 1..3 per query, non-negative distances
      assert(top.groupBy($"qid").count().filter($"count" =!= 3).count() == 0)
      assert(top.filter($"d2_adc" < 0).count() == 0)
      assert(top.filter($"rn" < 1 || $"rn" > 3).count() == 0)
    }
  }
}
