package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Window

import graft.SparkSpec

/** GroupedTopKRewrite: the `row_number() <= k` SQL idiom must plan as the
  * bounded-heap GroupedTopKExec (no Window, no sort) when the extensions
  * are installed — and must NOT fire where the Window is still needed.
  */
class TopKRewriteSpec extends SparkSpec {

  private def fixture(): Unit = {
    val s = spark
    import s.implicits._
    Seq(("g1", 5, 1), ("g1", 5, 2), ("g1", 3, 3), ("g1", 1, 4),
        ("g2", 9, 5), ("g2", 8, 6), ("g3", 2, 7))
      .toDF("g", "v", "id").createOrReplaceTempView("t")
  }

  // SparkPlan.nodeName strips the Exec suffix, so the physical operator
  // renders as "GroupedTopK"
  private def hasTopKExec(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("GroupedTopK")
  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Window])
  private def rows(df: DataFrame): Seq[(String, Int, Int)] =
    df.collect().toSeq.map { case Row(g: String, v: Int, id: Int) => (g, v, id) }.sorted

  test("q5-shaped SQL rewrites to GroupedTopKExec and drops the Window") {
    fixture()
    val df = spark.sql(
      """SELECT g, v, id
        |FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) rn
        |      FROM t)
        |WHERE rn <= 2""".stripMargin)
    assert(hasTopKExec(df) && !hasWindow(df))
    assert(rows(df) == Seq(("g1", 5, 1), ("g1", 5, 2), ("g2", 8, 6),
      ("g2", 9, 5), ("g3", 2, 7)))
  }

  test("DataFrame withColumn/filter/drop idiom rewrites too") {
    fixture()
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val df = spark.table("t")
      .withColumn("rn", row_number().over(
        W.partitionBy("g").orderBy(col("v").asc, col("id").asc)))
      .filter(col("rn") === 1).drop("rn")
    assert(hasTopKExec(df) && !hasWindow(df))
    // ascending order: the rewrite must respect direction (min per group)
    assert(rows(df) == Seq(("g1", 1, 4), ("g2", 8, 6), ("g3", 2, 7)))
  }

  test("extra conjunct is preserved above the top-k") {
    fixture()
    val df = spark.sql(
      """SELECT g, v, id
        |FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) rn
        |      FROM t)
        |WHERE rn <= 2 AND v >= 3""".stripMargin)
    assert(hasTopKExec(df) && !hasWindow(df))
    assert(rows(df) == Seq(("g1", 5, 1), ("g1", 5, 2), ("g2", 8, 6),
      ("g2", 9, 5)))
  }

  test("rank() rewrites to the WITH TIES top-k and keeps tied rows") {
    fixture()
    val df = spark.sql(
      """SELECT g, v, id
        |FROM (SELECT *, rank() OVER (PARTITION BY g ORDER BY v DESC) rk FROM t)
        |WHERE rk <= 1""".stripMargin)
    assert(hasTopKExec(df) && !hasWindow(df))
    // rank keeps BOTH tied g1 rows — the tie semantics the heap must honor
    assert(rows(df) == Seq(("g1", 5, 1), ("g1", 5, 2), ("g2", 9, 5),
      ("g3", 2, 7)))
  }

  test("rank() <= 2 keeps boundary ties but excludes rank 3") {
    fixture()
    // g1 values desc: 5, 5, 3, 1 → ranks 1, 1, 3, 4; rk <= 2 keeps the 5s
    val df = spark.sql(
      """SELECT g, v, id
        |FROM (SELECT *, rank() OVER (PARTITION BY g ORDER BY v DESC) rk FROM t)
        |WHERE rk <= 2""".stripMargin)
    assert(hasTopKExec(df) && !hasWindow(df))
    assert(rows(df) == Seq(("g1", 5, 1), ("g1", 5, 2), ("g2", 8, 6),
      ("g2", 9, 5), ("g3", 2, 7)))
  }

  test("sample_reservoir rides GroupedTopKExec under the extensions " +
      "session") {
    val df = graft.operators.Sketches.reservoirSample(
      spark, "/root/testdata/sf0.001")
    assert(hasTopKExec(df) && !hasWindow(df))
    assert(df.count() > 0)
  }

  test("does NOT fire for dense_rank() (bounds distinct keys, not rows)") {
    fixture()
    val df = spark.sql(
      """SELECT g, v, id
        |FROM (SELECT *, dense_rank() OVER (PARTITION BY g ORDER BY v DESC) dr FROM t)
        |WHERE dr <= 1""".stripMargin)
    assert(!hasTopKExec(df) && hasWindow(df))
    assert(rows(df) == Seq(("g1", 5, 1), ("g1", 5, 2), ("g2", 9, 5),
      ("g3", 2, 7)))
  }

  test("does NOT fire for rn < Int.MinValue (k-1 must not wrap)") {
    fixture()
    // always-false predicate: an unguarded k-1 wraps to Int.MaxValue and
    // would rewrite this into a top-everything returning all 7 rows.
    // DataFrame lit(), NOT a SQL literal: the SQL parser reads -2147483648
    // as Long (2147483648 overflows Int before negation), which would
    // bypass RankLimit's IntegerLiteral match and never exercise the guard.
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val df = spark.table("t")
      .withColumn("rn", row_number().over(
        W.partitionBy("g").orderBy(col("v").desc, col("id"))))
      .filter(col("rn") < lit(Int.MinValue)).drop("rn")
    assert(!hasTopKExec(df))
    assert(df.count() == 0)
  }

  test("q40_latest_per_key (the registered CDC-compaction query) rides the rewrite") {
    // COVERAGE.md advertises q40 as "plan verified: no Window" — this is
    // that verification, against the real registered query on real data
    val df = graft.SparkEntry.queries("q40_latest_per_key")(
      spark, "/root/testdata/sf0.001")
    assert(hasTopKExec(df) && !hasWindow(df))
    assert(df.count() > 0)
  }

  test("does NOT fire when the row number survives the projection") {
    fixture()
    val df = spark.sql(
      """SELECT g, v, id, rn
        |FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v DESC, id) rn
        |      FROM t)
        |WHERE rn <= 2""".stripMargin)
    assert(!hasTopKExec(df) && hasWindow(df))
    assert(df.count() == 5)
  }
}
