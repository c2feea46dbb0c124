package graft.aria

import graft.{Inspect, SparkSpec}

/** Job budget of one Aria batch: `AriaEngine.run` plus forcing its final
  * table, counted like `Inspect jobs` (a job group, the listener bus
  * drained). The batch is fixed and seeded: 300 txns over 20,000 keys,
  * run to empty with reorder. Its cost is almost all per-job overhead,
  * so the count is the number that moves its latency.
  *
  * Measured on `GraftSession(4)`, six runs each: 25 jobs for the 4
  * epochs and 13 with `maxEpochs = 1`, so 4 per epoch after the first
  * (the broadcast of the last abort frame, two map stages and the
  * checkpoint that also counts the verdicts); the merged install is one
  * branch whatever the epoch count. The shape with a second `count()`
  * per epoch and an install branch per epoch took 38.
  */
class AriaJobBudgetSpec extends SparkSpec {

  private val budget = 25

  test(s"one Aria batch runs within $budget jobs") {
    val table = TxnGen.bulkLoad(spark, 20001)
    val ops = TxnGen.ops(spark, 300, TxnGen.Config(seed = 3))
    val (history, jobs, _) = Inspect.jobCount(spark, "aria-job-budget") {
      val (fin, history) = AriaEngine.run(spark, table, ops,
        reorder = true, Seq("epoch"), (_, ep) => ep)
      fin.write.format("noop").mode("overwrite").save()
      history
    }
    assert(history.map(_._3).last == 0 && history.size == 4,
      s"not the measured 4-epoch batch: $history")
    assert(jobs <= budget, s"$jobs jobs for ${history.size} epochs")
  }
}
