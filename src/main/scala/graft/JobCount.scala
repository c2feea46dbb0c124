package graft

import org.apache.spark.graftaccess.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Diagnostic: run a SparkEntry query once and print its JOB and STAGE
  * counts — the weather-independent cost metric for round-latency-bound
  * iterative operators (Borůvka, star contraction, BSP loops), where
  * wall-clock ≈ jobs × fixed scheduling latency and co-tenant noise can
  * mask a 2× structural change. Usage:
  * `runMain graft.JobCount <query>[,<query>...] [sfDir]` — several
  * comma-separated queries share one JVM/session (each gets its own
  * counter window; the warm session means later counts are not inflated
  * by first-run codegen jobs).
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val qs = args.headOption.getOrElse("graph_mst")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var jobs = 0
    var stages = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        synchronized { stages += 1 }
    })
    for (q <- qs) {
      // listener events are posted asynchronously; drain the bus before
      // reading each end of the window so the counts are exact
      BusAccess.waitUntilEmpty(spark.sparkContext)
      val (jobs0, stages0) = synchronized { (jobs, stages) }
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      BusAccess.waitUntilEmpty(spark.sparkContext)
      val (jobs1, stages1) = synchronized { (jobs, stages) }
      println(f"""{"query":"$q","rows":$n,"jobs":${jobs1 - jobs0},"stages":${stages1 - stages0},"sec":$secs%.3f}""")
    }
    spark.stop()
  }
}
