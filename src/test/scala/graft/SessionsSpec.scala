package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: [[Sessions.local]] stays the only session builder in the
  * program, so core count, master and base conf cannot fork again.
  */
class SessionsLintSpec extends AnyFunSuite {
  test("src/main calls SparkSession.builder exactly once, in Sessions.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val calls = Files.walk(root).iterator.asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => "SparkSession\\s*\\.\\s*builder".r
        .findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8")).map(_ => f.getFileName.toString))
    assert(calls === List("Sessions.scala"))
  }
}

/** The suite's shared session and the harness's fixture memo. */
class SessionsSpec extends SparkSpec {

  test("TestSpark is built at four cores: 4 shuffle partitions, UTC, no UI") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("memo: one instance per (session, name, dir), its own entry per session") {
    implicit val s: SparkSession = spark
    val a = SparkEntry.memo("sessions-spec/obj", "d")(new Object)
    assert(SparkEntry.memo("sessions-spec/obj", "d")(new Object) eq a)
    assert(SparkEntry.memo("sessions-spec/obj", "other-dir")(new Object) ne a)
    assert(SparkEntry.memo("sessions-spec/other", "d")(new Object) ne a)
    val other = spark.newSession()
    val b = SparkEntry.memo("sessions-spec/obj", "d")(new Object)(other)
    assert(b ne a)
    assert(SparkEntry.memo("sessions-spec/obj", "d")(new Object)(other) eq b)
  }

  test("memo: a build may memo other keys (no ConcurrentHashMap 'Recursive update')") {
    implicit val s: SparkSession = spark
    // enough nested keys that some share the outer key's hash bin, where a
    // re-entrant computeIfAbsent would throw
    val inner = (0 until 64).map(i => s"sessions-spec/inner-$i")
    val outer = SparkEntry.memo("sessions-spec/outer", "d") {
      inner.map(k => SparkEntry.memo(k, "d")(k.length)).sum
    }
    assert(outer === inner.map(_.length).sum)
    assert(SparkEntry.memo(inner.head, "d")(-1) === inner.head.length)
  }
}
