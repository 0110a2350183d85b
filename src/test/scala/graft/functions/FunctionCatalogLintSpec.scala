package graft.functions

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: a session's SQL names are written in two places only. The
  * built-ins install through [[FunctionCatalog]]; a pipeline's own
  * `user-defined-function:` and `model:` blocks bind through
  * [[CdcUdf.register]]. No query body, entry point or session hook
  * registers functions of its own.
  */
class FunctionCatalogLintSpec extends AnyFunSuite {
  test("src/main writes the function registry only in FunctionCatalog.scala and CdcUdf.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val writes = "udf\\s*\\.\\s*register\\b|createOrReplaceTempFunction|registerFunction|injectFunction".r
    val files = Files.walk(root).iterator.asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .filter(f => writes.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).isDefined)
      .map(_.getFileName.toString).sorted
    assert(files === List("CdcUdf.scala", "FunctionCatalog.scala"))
  }
}
