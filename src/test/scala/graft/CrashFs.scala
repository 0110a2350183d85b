package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** The local filesystem under the test-only `crash:` scheme. It counts the
  * mutating calls (create, mkdirs, rename, delete) that [[VersionedDir]]
  * makes, and dies right after call [[CrashFs.crashAt]] completes; Spark's
  * own reads and writes pass through uncounted. A crash after a create
  * leaves the file empty, as a death before its bytes were written would.
  * It can also hold one thread at its n-th listing of a matching path
  * ([[CrashFs.pauseAt]]), to force an interleaving.
  */
class CrashFs extends RawLocalFileSystem {
  import CrashFs._
  override def getUri: java.net.URI = java.net.URI.create("crash:///")

  private def step[T](done: => T): T = {
    val out = done
    if (Thread.currentThread.getStackTrace.exists(_.getClassName.startsWith("graft.VersionedDir")) &&
        calls.incrementAndGet() == crashAt) {
      out match { case c: java.io.Closeable => c.close(); case _ => () }
      throw new Crash
    }
    out
  }

  override def create(f: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(super.create(f, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = step(super.mkdirs(f))
  override def mkdirs(f: Path, perm: FsPermission): Boolean = step(super.mkdirs(f, perm))
  override def rename(src: Path, dst: Path): Boolean = step(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = step(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] = { pause.foreach(_.hold(f)); super.listStatus(f) }
}

object CrashFs {
  /** Simulated process death: nothing after it runs. */
  final class Crash extends RuntimeException("simulated crash")

  val calls = new AtomicInteger
  @volatile var crashAt: Int = -1

  /** Holds `thread` at its `nth` listing of a path `matches` accepts until
    * [[Pause.release]].
    */
  final class Pause(thread: Thread, matches: String => Boolean, nth: Int) {
    val reached = new CountDownLatch(1)
    private val go = new CountDownLatch(1)
    private var seen = 0
    def hold(p: Path): Unit =
      if (Thread.currentThread == thread && matches(p.toString) && reached.getCount > 0) {
        seen += 1
        if (seen == nth) {
          reached.countDown()
          assert(go.await(5, TimeUnit.MINUTES), "paused writer never released")
        }
      }
    def release(): Unit = go.countDown()
  }
  @volatile private var pause: Option[Pause] = None

  /** Runs `body` on a new thread, held at its `nth` listing of a path
    * `matches` accepts; once it is held, runs `meanwhile` here, then lets
    * the thread finish.
    */
  def pauseAt(matches: String => Boolean, nth: Int = 1)(body: => Unit)(meanwhile: => Unit): Unit = {
    var failure: Option[Throwable] = None
    val t = new Thread(() => try body catch { case e: Throwable => failure = Some(e) })
    val p = new Pause(t, matches, nth)
    pause = Some(p)
    try {
      t.start()
      while (t.isAlive && !p.reached.await(100, TimeUnit.MILLISECONDS)) ()
      assert(p.reached.getCount == 0, s"writer finished without reaching the pause: $failure")
      meanwhile
    } finally { p.release(); t.join(); pause = None }
    failure.foreach(throw _)
  }

  /** A fresh dir on this filesystem; registers the scheme with the session. */
  def root(spark: SparkSession, prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFs].getName)
    "crash://" + SparkEntry.tempDir(prefix)
  }

  /** Every file and dir under `root` is one of `named` (paths relative to
    * the root) or inside one, and every named one exists; `None`: no root.
    */
  def assertOnly(spark: SparkSession, root: String, named: Option[Set[String]]): Unit = {
    val r = new Path(root)
    val fs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
    named match {
      case None => assert(!fs.exists(r), s"$root left behind")
      case Some(ns) =>
        val ancestors = ns.flatMap(_.split('/').inits.drop(1).filter(_.nonEmpty).map(_.mkString("/")))
        def walk(rel: String): Unit =
          fs.listStatus(if (rel.isEmpty) r else new Path(r, rel)).map(_.getPath.getName).foreach { c =>
            val p = if (rel.isEmpty) c else s"$rel/$c"
            if (ancestors(p)) walk(p) else assert(ns(p), s"$p under $root is named by no manifest")
          }
        walk("")
        ns.foreach(n => assert(fs.exists(new Path(r, n)), s"$n is named but missing"))
    }
  }

  /** Crash `change` after each of its [[VersionedDir]] calls in turn, each
    * time on a fresh root brought to the same start by `setup`. After every
    * crash, `state` must read as before or as after the change — never a
    * mix — and a replay of the change must reach after and pass `swept`
    * (only what the newest manifest names is left).
    */
  def crashAtEveryCall[S](spark: SparkSession, setup: String => Unit, change: String => Unit,
                          state: String => S, swept: String => Unit): Unit = {
    crashAt = -1
    val clean = root(spark, "graft-crash-clean")
    setup(clean)
    val before = state(clean)
    val start = calls.get()
    change(clean)
    val after = state(clean)
    val n = calls.get() - start
    assert(n > 0 && before != after, s"$n calls; before $before, after $after")
    (1 to n).foreach { k =>
      val r = root(spark, s"graft-crash-$k")
      setup(r)
      crashAt = calls.get() + k
      try intercept[Crash](change(r)) finally crashAt = -1
      val recovered = state(r)
      assert(recovered == before || recovered == after,
        s"crash after call $k of $n: recovered $recovered, want $before or $after")
      change(r)
      assert(state(r) == after, s"replay after a crash at call $k of $n")
      swept(r)
    }
  }
}
