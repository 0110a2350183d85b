package graft.sinks

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: the upsert table format lives in one module. Only
  * `sinks/CdcSink.scala` names the on-disk names of [[ParquetUpsertSink]]'s
  * tables, and the names of the displace-and-swap format it replaced are
  * gone from the product.
  */
class SinkFormatLintSpec extends AnyFunSuite {
  private val Format = Seq("_manifest", "__bucket=")
  private val Removed = Seq(".layout", ".swap_ready", ".old_")

  test("src/main names the upsert table format only in sinks/CdcSink.scala, and the swap format nowhere") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val hits = Files.walk(root).iterator.asScala.toList.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      (Format ++ Removed).filter(text.contains).map(name => (root.relativize(f).toString, name))
    }
    assert(hits.filterNot { case (f, n) => Format.contains(n) && f == "scala/graft/sinks/CdcSink.scala" } === Nil)
  }
}
