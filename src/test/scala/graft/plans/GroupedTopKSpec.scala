package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GroupedTopK custom operator semantics: equivalence with the window-rank
  * formulation under different partitionings, k ≥ group size, and heap
  * eviction order.
  */
class GroupedTopKSpec extends SparkSpec {

  /** Reads a window reference with [[GroupedTopKRewrite]] excluded, so it
    * runs as the Window it is written as and never as the operator under
    * test; the setting is restored afterwards.
    */
  private def asWindow[T](build: => DataFrame)(read: DataFrame => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GroupedTopKRewrite.ruleName)
    try {
      val df = build
      assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Window]),
        "the reference no longer plans a Window")
      read(df)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def windowTopK(df: DataFrame,
      group: Seq[String], order: Seq[String], k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(group.map(col): _*)
      .orderBy(order.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  private def sortedRows(df: DataFrame) =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  test("matches window row_number across partitionings and k values") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val data = (1 to 500).map(i =>
      (rng.nextInt(7), rng.nextInt(1000).toDouble, i.toLong))
      .toDF("g", "v", "id")
    for (parts <- Seq(1, 5); k <- Seq(1, 3, 200)) {
      val df = data.repartition(parts)
      val got = sortedRows(GroupedTopK(df, Seq("g"), Seq("v", "id"), k))
      val want = asWindow(windowTopK(df, Seq("g"), Seq("v", "id"), k))(
        sortedRows)
      assert(got == want, s"parts=$parts k=$k")
    }
  }

  test("k larger than any group returns everything") {
    import spark.implicits._
    val data = Seq((1, 5.0, 1L), (1, 7.0, 2L), (2, 1.0, 3L)).toDF("g", "v", "id")
    assert(GroupedTopK(data, Seq("g"), Seq("v", "id"), 10).count() == 3)
  }

  test("duplicate order values survive via the tie-break column") {
    import spark.implicits._
    val data = Seq((1, 5.0, 1L), (1, 5.0, 2L), (1, 5.0, 3L)).toDF("g", "v", "id")
    val got = GroupedTopK(data, Seq("g"), Seq("v", "id"), 2)
      .collect().map(_.getLong(2)).sorted
    assert(got.sameElements(Array(2L, 3L))) // descending (v, id): ids 3, 2
  }

  test("k < 1 is rejected at the API boundary") {
    import spark.implicits._
    val data = Seq((1, 5.0, 1L)).toDF("g", "v", "id")
    for (k <- Seq(0, -3)) {
      val e = intercept[IllegalArgumentException] {
        GroupedTopK(data, Seq("g"), Seq("v", "id"), k)
      }
      assert(e.getMessage.contains("k >= 1"))
    }
  }

  test("withTies matches a window rank() filter on seeded random data with heavy ties") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val rng = new scala.util.Random(7)
    // values drawn from a tiny domain so boundary ties are everywhere;
    // ordering on v alone (NOT unique) is exactly the with-ties case
    val data = (1 to 400).map(i =>
      (rng.nextInt(5), rng.nextInt(4).toDouble, i.toLong))
    for (parts <- Seq(1, 7); k <- Seq(1, 2, 3)) {
      val df = data.toDF("g", "v", "id").repartition(parts)
      val got = GroupedTopK.withTies(df, Seq("g"), Seq("v"), k)
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
        .sorted.toSeq
      val want = asWindow(df.withColumn("rk", rank().over(
          W.partitionBy($"g").orderBy($"v".desc)))
        .filter($"rk" <= k).drop("rk"))(
        _.collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
          .sorted.toSeq)
      assert(got == want, s"parts=$parts k=$k: got ${got.size}, want ${want.size}")
    }
  }

  test("withTies keeps all rows of an all-tied group") {
    import spark.implicits._
    val data = Seq((1, 5.0, 1L), (1, 5.0, 2L), (1, 5.0, 3L)).toDF("g", "v", "id")
    assert(GroupedTopK.withTies(data, Seq("g"), Seq("v"), 1).count() == 3)
  }
}
