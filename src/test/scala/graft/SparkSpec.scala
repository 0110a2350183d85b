package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: one JVM-wide session at four cores
  * whatever the host, so test parallelism does not depend on it.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test", cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  spark.sparkContext // force session creation so getDefaultSession works everywhere
  val sf: String = "/root/testdata/sf0.001"
}
