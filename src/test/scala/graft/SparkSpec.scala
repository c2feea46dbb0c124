package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The shared [[GraftSession]] on 4 cores (one per JVM): every suite
  * grades the plans the mains build, extensions included.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(4)

  def sf(name: String): String = s"/root/testdata/$name"
}
