package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One local session shared by the suites of this JVM. */
trait LocalSpark extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
