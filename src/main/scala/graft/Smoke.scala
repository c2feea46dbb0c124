package graft

/** Local smoke harness mirroring the driver's t1 check: `entry` must return
  * rows > 0 on sf0.001.
  *  - `runMain graft.Smoke <queryName> <sfDir>` — one query: rows, show,
  *    formatted plan.
  *  - `runMain graft.Smoke sql "<stmt>"` — ad-hoc SQL on the extended
  *    session (graft_dot / graft_norm2 registered via GraftExtensions).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    args match {
      case Array("sql", stmt) =>
        spark.sql(stmt).show(50, truncate = false)
      case Array(name, sfDir) =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(s"SMOKE $name rows=" + df.count())
        df.show(20, truncate = false)
        df.explain("formatted")
      case _ =>
        val df = SparkEntry.entry(spark)
        println("ENTRY_ROWS=" + df.count())
        df.show(5, truncate = false)
    }
    spark.stop()
  }
}
