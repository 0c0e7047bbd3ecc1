package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (lazy; reused across suites within
  * the same JVM via getOrCreate), built with the harness mains' conf list.
  * The slot count is a literal, so a host's SPARK_GRAFT_CPUS never reaches
  * the tests.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session("graft-test", "4")
  val sf: String = "/root/testdata/sf0.001"
}
