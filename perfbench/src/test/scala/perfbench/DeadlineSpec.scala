package perfbench

/** A query that misses its deadline is cancelled before the next one
  * starts, so the next query's time is unaffected. */
class DeadlineSpec extends LocalSpark {
  private def quick(): Double = {
    val t0 = System.nanoTime()
    val df = spark.range(0, 2000000).selectExpr("sum(id * 3) as s")
    ResultHash.ofRdd(df.queryExecution.toRdd, df.schema)
    (System.nanoTime() - t0) / 1e9
  }

  test("deadline cancel leaves the next query's time unaffected") {
    val dl = new Deadline(spark)
    (1 to 3).foreach(_ => quick()) // warm
    val before = Main.median((1 to 5).map(_ => quick()))
    val t0 = System.nanoTime()
    val slow = dl.run(1.0) {
      val df = spark.range(0, 1L << 40, 1, 4).selectExpr("sum(id % 7) as s")
      ResultHash.ofRdd(df.queryExecution.toRdd, df.schema)
    }
    val slowS = (System.nanoTime() - t0) / 1e9
    assert(slow == Deadline.Missed)
    assert(slowS < 10, s"cancel took $slowS s")
    val after = Main.median((1 to 5).map(_ => quick()))
    assert(after < before * 2 + 0.05, s"before $before s, after $after s")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("a throwing operation reports its error and finishes in time") {
    val dl = new Deadline(spark)
    dl.run(5.0)(throw new ArithmeticException("boom")) match {
      case Deadline.Threw(e) => assert(e.getMessage == "boom")
      case other => fail(s"unexpected $other")
    }
    assert(dl.run(5.0)(42) == Deadline.Done(42))
  }
}
