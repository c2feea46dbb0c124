package graft

/** The shared session is the one the mains build, whichever suite runs
  * first, or alone.
  */
class GraftSessionSpec extends SparkSpec {

  test("the shared session installs GraftExtensions (graft_dot, GroupedTopK)") {
    assert(spark.sql("SELECT graft_dot(array(1L, 2L), array(3L, 4L))")
      .collect()(0).getLong(0) == 11L)
    val topK = spark.sql(
      """SELECT g, v FROM (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
        |  FROM VALUES ('a', 1), ('a', 2), ('b', 3) t(g, v))
        |WHERE rn <= 1""".stripMargin)
    assert(topK.queryExecution.executedPlan.toString.contains("GroupedTopK"))
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
