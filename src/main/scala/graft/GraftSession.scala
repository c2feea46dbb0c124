package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and test suite builds its
  * session here, so the oracle gate, the bench, the inspectors and the
  * tests all grade the same plans. The core count is the only input.
  * The ContextCleaner frees finished broadcasts and shuffles only after a
  * GC, and its 30 min default interval never fires within one run.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, or 4 when unset. */
  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** `getOrCreate`: a JVM's sessions are all this one. */
  def apply(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
