package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The publish rule of [[VersionedDir]] on the local filesystem, without
  * Spark: a publish at or below an existing version is refused.
  */
class VersionedDirSpec extends AnyFunSuite {
  private val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem

  private def store(): VersionedDir = {
    val vd = VersionedDir(fs, SparkEntry.tempDir("graft-vdir") + "/store")
    vd.begin()
    vd
  }
  private def body(dirs: String*): Array[Byte] = dirs.mkString(",").getBytes(UTF_8)

  test("a publish at or below an existing version is refused, also once the versions it raced are swept") {
    val vd = store()
    assert(vd.publish(0, body(), Nil) && vd.publish(1, body(), Nil) && vd.publish(2, body(), Nil))
    // versions 0 and 1 are gone: a writer based on 0 must not slip in as 1
    assert(!vd.publish(1, body("late"), Nil) && !vd.publish(2, body("late"), Nil))
    assert(vd.current.map(_._1) === Some(2L))
    assert(fs.listStatus(new Path(vd.root, "_manifest")).map(_.getPath.getName).toSeq === Seq("2"))
  }
}
