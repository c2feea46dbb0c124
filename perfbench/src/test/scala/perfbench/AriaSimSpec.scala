package perfbench

import org.apache.spark.sql.functions._

import graft.aria.{AriaEngine, TxnGen}

/** The benchmark's simulator agrees with `AriaEngine.run` on tiny seeded
  * batches: per-epoch history and every key's final value, both policies. */
class AriaSimSpec extends LocalSpark {
  private val keys = 1L to 40L

  for (seed <- Seq(3L, 17L, 99L); reorder <- Seq(true, false))
    test(s"simulator matches AriaEngine.run (seed $seed, reorder $reorder)") {
      import spark.implicits._
      // keysMax beyond the table: some ops miss and are skipped
      val cfg = TxnGen.Config(wrRate = 0.5, maxOps = 6, keysMax = 50, seed = seed)
      val table = keys.map(k => (k, s"orig$k")).toDF("k", "f0")
      val newValue: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column =
        (tid, ep) => concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string"))
      val (fin, history) = AriaEngine.run(spark, table,
        TxnGen.ops(spark, 25, cfg), reorder, Seq("f0"), newValue)
      val (simHistory, written) =
        AriaSim.run(AriaSim.ops(25, cfg), keys.toSet, reorder)
      assert(history == simHistory)
      assert(history.size > 1, "the batch should need more than one epoch")
      val got = fin.as[(Long, String)].collect().toMap
      val want = keys.map(k => k -> written.get(k)
        .map { case (t, e) => s"v${t}e$e" }.getOrElse(s"orig$k")).toMap
      assert(got == want)
    }

  test("a changed history is detected") {
    val ops = AriaSim.ops(30, TxnGen.Config(maxOps = 8, keysMax = 20, seed = 5))
    val (h1, _) = AriaSim.run(ops, _ => true, reorder = true)
    val (h2, _) = AriaSim.run(ops, _ => true, reorder = false)
    assert(h1 != h2)
  }
}
