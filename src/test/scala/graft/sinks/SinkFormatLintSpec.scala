package graft.sinks

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint of the persisted formats: every store publishes through
  * [[graft.VersionedDir]], the only module that names the manifest dir; the
  * upsert sink alone names its bucket dirs; and the names of the formats
  * the manifest replaced — the sink's displace-and-swap, the index lease,
  * markers, swap dirs and `_layout`, the epoch assets' `_SUCCESS` liveness
  * and in-row ledger columns — are gone from the product.
  */
class SinkFormatLintSpec extends AnyFunSuite {
  private def sources: List[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator.asScala.toList.filter(_.toString.endsWith(".scala"))
      .map((f: Path) => (root.relativize(f).toString, new String(Files.readAllBytes(f), "UTF-8")))
  }

  /** (file, pattern) for every pattern some file matches. */
  private def hits(patterns: Seq[String]): List[(String, String)] =
    sources.flatMap { case (f, text) => patterns.filter(_.r.findFirstIn(text).isDefined).map((f, _)) }

  test("src/main names the upsert table format only in sinks/CdcSink.scala, and the swap format nowhere") {
    val removed = Seq("\\.layout", "\\.swap_ready", "\\.old_")
    assert(hits("__bucket=" +: removed).filterNot(_ == (("scala/graft/sinks/CdcSink.scala", "__bucket="))) === Nil)
  }

  test("src/main names the manifest dir only in VersionedDir.scala, and the replaced index and epoch formats nowhere") {
    // a removed name that starts with `_` counts only where no identifier
    // character precedes it (`q_zorder_layout` is a query, not `_layout`);
    // a swap dir counts inside a path literal (`__cnl.old` is a column)
    val bare = Seq("_maintenance\\.lock", "_appends", "_layout", "__mon_", "__tb_", "__pca_", "_SUCCESS")
    val removed = bare.map("(?<![A-Za-z0-9])" + _) ++ Seq("/[^\"/]*\\.old\"", "/[^\"/]*\\.compact\"")
    assert(hits("_manifest" +: removed).filterNot(_ == (("scala/graft/VersionedDir.scala", "_manifest"))) === Nil)
  }
}
