package perfbench

/** The result hash ignores row order, counts duplicates, rounds doubles to
  * nine decimals, and agrees between driver rows and an executed plan. */
class ResultHashSpec extends LocalSpark {
  private val cols = Seq("b", "a")
  private val rows = Seq(Seq[Any]("x", 1.5), Seq[Any]("y", null), Seq[Any]("z", 2.25))

  test("row order does not matter") {
    assert(ResultHash.ofRows(cols, rows) == ResultHash.ofRows(cols, rows.reverse))
  }

  test("duplicate rows count") {
    assert(ResultHash.ofRows(cols, rows) != ResultHash.ofRows(cols, rows :+ rows.head))
  }

  test("doubles are rounded to nine decimals, half-even") {
    def h(v: Double) = ResultHash.ofRows(Seq("v"), Seq(Seq(v)))
    assert(h(0.1 + 0.2) == h(0.3))
    assert(h(1.0000000004) == h(1.0))
    assert(h(1.000000001) != h(1.0))
    assert(h(-0.0) == h(0.0))
    assert(ResultHash.canonDouble(2.5e-10) == "0")
    assert(ResultHash.canonDouble(100.0) == "100")
    assert(ResultHash.canonDouble(1e20) == "100000000000000000000")
    assert(ResultHash.canonDecimal(new java.math.BigDecimal("1.2300")) == "1.23")
  }

  test("golden value shared with make_expected.py") {
    // test_make_expected.py asserts the same string for the same rows
    assert(ResultHash.ofRows(Seq("name", "v", "ok"),
      Seq(Seq("a", 0.1, true), Seq("b", null, false), Seq("c", 3L, null))) ==
      "name,ok,v|3|fe0b4b92d8bda018")
  }

  test("an executed plan hashes like the same rows on the driver") {
    import spark.implicits._
    val df = Seq(("x", 1.5), ("y", 0.1 + 0.2), ("x", 1.5)).toDF("b", "a")
      .repartition(3)
    val qe = df.queryExecution
    assert(ResultHash.ofRdd(qe.toRdd, df.schema) ==
      ResultHash.ofRows(Seq("b", "a"),
        Seq(Seq("x", 1.5), Seq("y", 0.3), Seq("x", 1.5))))
  }
}
