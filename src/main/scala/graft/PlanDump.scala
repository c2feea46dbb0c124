package graft

import org.apache.spark.sql.SparkSession

/** Plan diagnostic: prints, for each query name passed as an argument,
  * the executed-plan nested-loop/cartesian count and the matching plan
  * lines — the manual companion to PlanGuardSpec's mechanical sweep
  * (usage: `sbt "runMain graft.PlanDump ev_rfm sim_ivf_topk"`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // --full-sweep: rebuild EVERY query with AUDITED pins
    // (graft.Pin.audited — each checkpoint reports its pre-truncation
    // segment) and print per-query total unpartitioned-window and
    // cross-join counts across final frame + all audited segments as
    // CSV — the calibration companion to PlanGuardSpec's full-plan
    // sweep. MUST count exactly like that sweep.
    if (args.contains("--full-sweep")) {
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      def wCount(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case x: LWindow if x.partitionSpec.isEmpty => x }.length
      def cCount(df: org.apache.spark.sql.DataFrame): Int =
        "BroadcastNestedLoopJoin|CartesianProduct".r
          .findAllMatchIn(df.queryExecution.executedPlan.toString).length
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        var w = 0
        var c = 0
        var pins = 0
        val line = try {
          Pin.audited { seg =>
            pins += 1; w += wCount(seg); c += cCount(seg) } {
            val df = fn(s, "/root/testdata/sf0.001")
            w += wCount(df); c += cCount(df)
          }
          s"SWEEP,$name,$w,$c,$pins"
        } catch {
          case e: Throwable =>
            s"SWEEP,$name,ERR,ERR,${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(120).replace("\n", " ")
        }
        println(line)
      }
      s.stop()
      return
    }
    // --unpinned-check q1,q2: rebuild each named query with Pin.withoutPins
    // (the `.pin` identity mode) and compare its collected result against
    // the normal pinned build — proves the query does not DEPEND on the
    // checkpoint's fresh attribute ids for name resolution (VERDICT r12
    // #3: graph_bfs_reach threw AnalysisException un-pinned).
    val ui = args.indexOf("--unpinned-check")
    if (ui >= 0) {
      val dir = "/root/testdata/sf0.001"
      var bad = 0
      for (name <- args(ui + 1).split(",").map(_.trim).filter(_.nonEmpty)) {
        def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.collect().map(_.toString).sorted.toSeq
        val line = try {
          val pinned = rows(SparkEntry.queries(name)(s, dir))
          val unpinned = Pin.withoutPins(
            rows(SparkEntry.queries(name)(s, dir)))
          if (pinned == unpinned) s"UNPINNED,$name,MATCH,${pinned.size}"
          else { bad += 1; s"UNPINNED,$name,MISMATCH,${pinned.size},${unpinned.size}" }
        } catch {
          case e: Throwable =>
            bad += 1
            s"UNPINNED,$name,ERR,${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(160).replace("\n", " ")
        }
        println(line)
      }
      s.stop()
      if (bad > 0) sys.exit(1)
      return
    }
    for (name <- args) {
      val df = SparkEntry.queries(name)(s, "/root/testdata/sf0.001")
      val p = df.queryExecution.executedPlan.toString
      println(s"=== $name BNLJ count: " +
        "BroadcastNestedLoopJoin|CartesianProduct".r.findAllMatchIn(p).length)
      println(p.split("\n").filter(l => l.contains("NestedLoop") ||
        l.contains("Cartesian")).mkString("\n"))
    }
    s.stop()
  }
}
