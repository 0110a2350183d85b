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
  /** A fresh dir that [[SparkEntry.tempDir]]'s shutdown hook deletes. */
  def tempDir(prefix: String): String = SparkEntry.tempDir(prefix)
  /** Deletes a path-less pipeline's fallback state dir ([[Cli.stateDir]]),
    * and its `graft-state` parent once that is empty.
    */
  def deleteStateDir(p: graft.pipeline.PipelineDef): Unit = {
    val d = new java.io.File(Cli.stateDir(p))
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getParentFile.delete()
    ()
  }
}
