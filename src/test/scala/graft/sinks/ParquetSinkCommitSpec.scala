package graft.sinks

import graft.SparkSpec
import graft.model.{CdcSchema, TableId}
import graft.operators.Changelog
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

/** The swap-commit of [[ParquetUpsertSink]] must be atomic-or-loud: a rename
  * that cannot complete has to THROW with the previous state intact — a
  * silently dropped Boolean here means a batch reports success while the
  * table state is gone (round-2 verdict, "What's wrong #1").
  *
  * Rename failures are injected through a [[FilterFileSystem]] that refuses
  * renames of matching paths — deterministic on any OS/user (permission
  * tricks don't work under root, which is how CI runs).
  */
class ParquetSinkCommitSpec extends SparkSpec {
  import spark.implicits._

  private val id = TableId.of("db", "t")
  private val schema = CdcSchema.of("id" -> "BIGINT", "v" -> "STRING").copy(primaryKeys = Seq("id"))

  private def batch(rows: (Long, String, String, Long)*) =
    rows.toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

  private def localFs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def layoutOf(tablePath: String): Int = {
    val in = localFs.open(new Path(tablePath + ".layout"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt finally in.close()
  }

  private def bucketDirs(tablePath: String): Set[Int] =
    localFs.listStatus(new Path(tablePath)).map(_.getPath.getName)
      .filter(_.startsWith("__bucket=")).map(_.stripPrefix("__bucket=").toInt).toSet

  /** The buckets `keys` hash to under modulus `m`, by the sink's own rule. */
  private def bucketsOf(keys: Seq[Long], m: Int): Set[Int] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    keys.toDF("id").select(pmod(xxhash64(col("id")), lit(m.toLong)).cast("int"))
      .as[Int].collect().toSet
  }

  /** Table state as (bucket schema, row) pairs, read bucket by bucket after
    * the sink's own recovery: a state whose buckets disagree on their columns
    * cannot pass for either side of a schema change. Empty when the table has
    * no state dir.
    */
  private def stateOf(sink: ParquetUpsertSink): Set[(String, Seq[Any])] =
    try {
      sink.read(spark, id)
      bucketDirs(sink.tablePath(id)).flatMap { b =>
        val df = spark.read.parquet(s"${sink.tablePath(id)}/__bucket=$b")
        df.collect().map(r => (df.schema.toDDL, r.toSeq)).toSet
      }
    } catch {
      case _: org.apache.spark.sql.AnalysisException if !localFs.exists(new Path(sink.tablePath(id))) =>
        Set.empty
    }

  private def pairsOf(sink: ParquetUpsertSink): Set[(Long, String)] =
    sink.read(spark, id).as[(Long, String)].collect().toSet

  /** Refuses renames whose SOURCE path name matches `deny` (returns false,
    * the contract under test). Everything else passes through to local FS.
    */
  private class DenyingFs(underlying: FileSystem, deny: String => Boolean) extends FilterFileSystem(underlying) {
    val denied = new java.util.concurrent.atomic.AtomicInteger
    override def rename(src: Path, dst: Path): Boolean =
      if (deny(src.toString)) { denied.incrementAndGet(); false }
      else super.rename(src, dst)
  }

  /** Simulated process death: nothing after it runs, nothing cleans up. */
  private final class Crash extends RuntimeException("simulated crash")

  /** Counts the sink's mutating calls (create, mkdirs, rename, delete) and
    * dies right after call `crashAt` completes. A crash after a create
    * leaves the file empty, as a death before its bytes were written would.
    */
  private class CrashingFs(underlying: FileSystem, crashAt: Int) extends FilterFileSystem(underlying) {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    private def step[T](done: T): T =
      if (calls.incrementAndGet() == crashAt) throw new Crash else done
    override def create(f: Path, perm: org.apache.hadoop.fs.permission.FsPermission,
                        overwrite: Boolean, bufferSize: Int, replication: Short,
                        blockSize: Long, progress: org.apache.hadoop.util.Progressable) = {
      val out = super.create(f, perm, overwrite, bufferSize, replication, blockSize, progress)
      try step(out) catch { case c: Crash => out.close(); throw c }
    }
    override def mkdirs(f: Path): Boolean = step(fs.mkdirs(f))
    override def mkdirs(f: Path, perm: org.apache.hadoop.fs.permission.FsPermission): Boolean =
      step(fs.mkdirs(f, perm))
    override def rename(src: Path, dst: Path): Boolean = step(fs.rename(src, dst))
    override def delete(f: Path, recursive: Boolean): Boolean = step(fs.delete(f, recursive))
  }

  private class CrashingSink(root: String, buckets: Int, crashAt: Int)
      extends ParquetUpsertSink(root, buckets) {
    val crashFs = new CrashingFs(localFs, crashAt)
    override protected def hfs(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem = crashFs
  }

  /** Crash `write` after each of its mutating FS calls in turn; after every
    * crash a restarted sink must read the state either before or after the
    * batch — never a mix — and a replay of the batch must converge to after.
    */
  private def crashAtEveryCall(buckets: Int, setup: ParquetUpsertSink => Unit,
                               write: ParquetUpsertSink => Unit): Unit = {
    val clean = java.nio.file.Files.createTempDirectory("graft-crash-clean").toString
    val probe = new CrashingSink(clean, buckets, crashAt = -1)
    setup(probe)
    val before = stateOf(probe)
    val setupCalls = probe.crashFs.calls.get()
    write(probe)
    val after = stateOf(probe)
    val calls = probe.crashFs.calls.get() - setupCalls
    assert(calls > 0 && before != after)
    (1 to calls).foreach { k =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-crash-$k").toString
      val sink = new CrashingSink(root, buckets, crashAt = setupCalls + k)
      setup(sink)
      intercept[Crash](write(sink))
      val restarted = new ParquetUpsertSink(root, buckets)
      val recovered = stateOf(restarted)
      assert(recovered == before || recovered == after,
        s"crash after call $k of $calls: recovered $recovered, want $before or $after")
      write(restarted)
      assert(stateOf(restarted) === after, s"replay after a crash at call $k of $calls")
      localFs.delete(new Path(root), true)
    }
    val _ = localFs.delete(new Path(clean), true)
  }

  test("bucketed swap failure restores the displaced bucket") {
    val root = java.nio.file.Files.createTempDirectory("graft-commit-b").toString
    @volatile var deny = false
    var fsRef: DenyingFs = null
    val sink = new ParquetUpsertSink(root, buckets = 4) {
      override protected def hfs(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem = {
        // deny the swap-IN of new bucket data (src under .tmp/__bucket=) but
        // allow the displace (src = live bucket) and the restore (src = .old_)
        if (fsRef == null) fsRef = new DenyingFs(super.hfs(spark, path),
          p => deny && p.contains(".tmp/__bucket="))
        fsRef
      }
    }
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L),
      (3L, "c", "INSERT", 3L), (4L, "d", "INSERT", 4L)), schema)
    val before = sink.read(spark, id).as[(Long, String)].collect().toSet
    assert(before === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    deny = true
    val e = intercept[java.io.IOException] {
      sink.write(id, batch((1L, "a2", "UPDATE", 9L)), schema)
    }
    assert(e.getMessage.contains("commit failed"))
    assert(fsRef.denied.get() > 0, "injected rename failure never hit")
    deny = false
    assert(sink.read(spark, id).as[(Long, String)].collect().toSet === before,
      "displaced bucket must be restored after a failed swap")

    sink.write(id, batch((1L, "a2", "UPDATE", 9L)), schema)
    assert(sink.read(spark, id).as[(Long, String)].collect().toSet ===
      Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    val _ = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root), true)
  }

  test("crash between the two swap renames is recovered, not destroyed") {
    val root = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val sink = new ParquetUpsertSink(root)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)

    // simulate a process death between rename(dst -> old) and
    // rename(tmp -> dst): the only copy of table state sits under .old
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(sink.tablePath(id))
    assert(fs.rename(dst, new Path(sink.tablePath(id) + ".old")))
    assert(!fs.exists(dst))

    // next write must restore .old first — treating the table as empty
    // would silently drop keys 1 and 2
    sink.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    assert(sink.read(spark, id).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!fs.exists(new Path(sink.tablePath(id) + ".old")))
    val _ = fs.delete(new Path(root), true)
  }

  test("crash with a displaced bucket under .tmp is recovered on next write") {
    val root = java.nio.file.Files.createTempDirectory("graft-crash-b").toString
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L),
      (3L, "c", "INSERT", 3L), (4L, "d", "INSERT", 4L)), schema)

    // find a live bucket and displace it the way a mid-swap crash would:
    // bucket dir moved to .tmp/.old_N, replacement never swapped in
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val tablePath = sink.tablePath(id)
    val liveBucket = fs.listStatus(new Path(tablePath))
      .map(_.getPath.getName).filter(_.startsWith("__bucket=")).head
    val b = liveBucket.stripPrefix("__bucket=")
    assert(fs.mkdirs(new Path(s"$tablePath.tmp")))
    assert(fs.rename(new Path(s"$tablePath/$liveBucket"), new Path(s"$tablePath.tmp/.old_$b")))

    // next write (touching any bucket) must first restore the displaced one;
    // before recovery the overwrite of .tmp would destroy its only copy
    sink.write(id, batch((1L, "a2", "UPDATE", 9L)), schema)
    assert(sink.read(spark, id).as[(Long, String)].collect().toSet ===
      Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    val _ = fs.delete(new Path(root), true)
  }

  test("swap_ready tmp is rolled FORWARD: crash mid-swap applies the batch, once") {
    val root = java.nio.file.Files.createTempDirectory("graft-fwd").toString
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L),
      (3L, "c", "INSERT", 3L), (4L, "d", "INSERT", 4L)), schema)

    // simulate a crash between the parquet write (complete, marker created)
    // and the swaps: tmp holds the batch's full output for one bucket
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val tablePath = sink.tablePath(id)
    val liveBucket = fs.listStatus(new Path(tablePath))
      .map(_.getPath.getName).filter(_.startsWith("__bucket=")).head
    assert(fs.mkdirs(new Path(s"$tablePath.tmp")))
    // the "new" bucket content = a copy of a DIFFERENT live bucket's dir,
    // moved under tmp as the would-be replacement of liveBucket
    val other = fs.listStatus(new Path(tablePath))
      .map(_.getPath.getName).filter(_.startsWith("__bucket=")).apply(1)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$tablePath/$other"), new java.io.File(s"$tablePath.tmp/$liveBucket"))
    assert(fs.mkdirs(new Path(s"$tablePath.tmp/.swap_ready")))

    // read-path recovery must displace the live bucket, swap the tmp copy in,
    // and clean tmp — the batch applies exactly once, forward
    val expectOther = spark.read.parquet(s"$tablePath/$other")
      .drop("__bucket").as[(Long, String)].collect().toSet
    val recovered = sink.read(spark, id)
    val inBucket = spark.read.parquet(s"$tablePath/$liveBucket")
      .as[(Long, String)].collect().toSet
    assert(inBucket === expectOther, "tmp replacement must be swapped in forward")
    assert(!fs.exists(new Path(s"$tablePath.tmp")), "tmp must be cleaned after roll-forward")
    assert(recovered.count() > 0)
  }

  test("swap_ready roll-forward does not resurrect a displaced emptied bucket") {
    val root = java.nio.file.Files.createTempDirectory("graft-fwd-e").toString
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L),
      (3L, "c", "INSERT", 3L), (4L, "d", "INSERT", 4L)), schema)

    // crash after an emptied bucket's displace, marker present, no
    // replacement dir in tmp: roll-forward must leave dst absent
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val tablePath = sink.tablePath(id)
    val liveBucket = fs.listStatus(new Path(tablePath))
      .map(_.getPath.getName).filter(_.startsWith("__bucket=")).head
    val b = liveBucket.stripPrefix("__bucket=")
    val before = sink.read(spark, id).as[(Long, String)].collect().toSet
    assert(fs.mkdirs(new Path(s"$tablePath.tmp")))
    assert(fs.mkdirs(new Path(s"$tablePath.tmp/.swap_ready")))
    assert(fs.rename(new Path(s"$tablePath/$liveBucket"), new Path(s"$tablePath.tmp/.old_$b")))

    val after = sink.read(spark, id).as[(Long, String)].collect().toSet
    assert(after.subsetOf(before) && after.size < before.size,
      "emptied bucket must stay deleted under roll-forward recovery")
    assert(!fs.exists(new Path(s"$tablePath.tmp")))
  }

  test("AutoBuckets derives the layout from the first batch and pins it in meta") {
    val root = java.nio.file.Files.createTempDirectory("graft-auto").toString
    val sink = new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)

    val tablePath = sink.tablePath(id)
    val cores = spark.sparkContext.defaultParallelism
    assert(localFs.exists(new Path(tablePath + ".layout")), "layout meta must be written at state creation")
    assert(layoutOf(tablePath) === cores,
      "a 2-row first batch derives one bucket per core, the parallelism floor")
    assert(bucketDirs(tablePath) === bucketsOf(Seq(1L, 2L), cores))

    // a second writer with a DIFFERENT constructor constant must follow the
    // on-disk layout (meta wins), not prune state with the wrong modulus
    val sink2 = new ParquetUpsertSink(root, buckets = 32)
    sink2.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    assert(sink2.read(spark, id).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(bucketDirs(tablePath) === bucketsOf(Seq(1L, 2L, 3L), cores),
      "the merge must keep the meta's layout, not fan out to 32")
    val _ = localFs.delete(new Path(root), true)
  }

  test("displaced bucket WITH a done marker (emptied by deletes) is not resurrected") {
    val root = java.nio.file.Files.createTempDirectory("graft-crash-d").toString
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L),
      (3L, "c", "INSERT", 3L), (4L, "d", "INSERT", 4L)), schema)

    // simulate a crash AFTER an emptied bucket's swap decision completed
    // (marker written, tmp not yet cleaned): dst absent by design
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val tablePath = sink.tablePath(id)
    val liveBucket = fs.listStatus(new Path(tablePath))
      .map(_.getPath.getName).filter(_.startsWith("__bucket=")).head
    val b = liveBucket.stripPrefix("__bucket=")
    val before = sink.read(spark, id).as[(Long, String)].collect().toSet
    assert(fs.mkdirs(new Path(s"$tablePath.tmp")))
    assert(fs.rename(new Path(s"$tablePath/$liveBucket"), new Path(s"$tablePath.tmp/.old_$b")))
    assert(fs.mkdirs(new Path(s"$tablePath.tmp/.done_$b")))

    val after = sink.read(spark, id).as[(Long, String)].collect().toSet
    assert(after.subsetOf(before) && after.size < before.size,
      "marker-completed deletion must stay deleted on read and write")
    sink.write(id, batch((5L, "e", "INSERT", 10L)), schema)
    assert(sink.read(spark, id).as[(Long, String)].collect().toSet === after + ((5L, "e")))
    val _ = fs.delete(new Path(root), true)
  }

  test("a crash after the roll-forward marker never resurrects a bucket the batch emptied") {
    // the batch deletes every key of one bucket and updates a key of
    // another: roll-forward only sees the buckets tmp holds, so the emptied
    // one must be displaced before the marker exists
    val keys = (1L to 8L).map(k => (k, s"v$k", "INSERT", k))
    val emptied = bucketsOf(Seq(1L), 4).head
    val inEmptied = keys.map(_._1).filter(k => bucketsOf(Seq(k), 4).head == emptied)
    val other = keys.map(_._1).find(k => !inEmptied.contains(k)).get
    val change = inEmptied.map(k => (k, s"v$k", "DELETE", 100L + k)) :+ ((other, "u", "UPDATE", 200L))
    crashAtEveryCall(4, _.write(id, batch(keys: _*), schema), _.write(id, batch(change: _*), schema))
  }

  test("a crash anywhere in an AutoBuckets first write leaves state a restart can write") {
    // the layout meta goes down before the state dir: no crash point leaves
    // a meta-less state dir for the restarted writer to refuse
    crashAtEveryCall(ParquetUpsertSink.AutoBuckets, _ => (),
      _.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema))
  }

  test("AutoBuckets derives above the parallelism floor once the first batch outgrows it") {
    val root = java.nio.file.Files.createTempDirectory("graft-auto-big").toString
    val want = spark.sparkContext.defaultParallelism + 3
    val rows = (1L to 2L * want).map(k => (k, s"v$k", "INSERT", k))
    spark.conf.set(ParquetUpsertSink.RowsPerBucketConf, "2")
    try {
      val sink = new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)
      sink.write(id, batch(rows: _*), schema)
      assert(layoutOf(sink.tablePath(id)) === want, "ceil(rows / rowsPerBucket) above the floor")
      assert(bucketDirs(sink.tablePath(id)) === bucketsOf(rows.map(_._1), want))
      assert(pairsOf(sink) === rows.map(r => (r._1, r._2)).toSet)
    } finally spark.conf.unset(ParquetUpsertSink.RowsPerBucketConf)
    val _ = localFs.delete(new Path(root), true)
  }

  test("state without a layout meta fails loudly under AutoBuckets, naming the setting that reads it") {
    val root = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    // bucketed state written before the layout meta existed: the old default 32
    val legacy = new ParquetUpsertSink(root, buckets = 32)
    legacy.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)
    assert(localFs.delete(new Path(legacy.tablePath(id) + ".layout"), false))
    val e = intercept[IllegalArgumentException] {
      new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)
        .write(id, batch((3L, "c", "INSERT", 3L)), schema)
    }
    assert(e.getMessage.contains("`buckets: 32`"), e.getMessage)
    assert(pairsOf(legacy) === Set((1L, "a"), (2L, "b")), "a refused write leaves state untouched")
    // the named setting does read and extend it
    val pinned = new ParquetUpsertSink(root, buckets = 32)
    pinned.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    assert(pairsOf(pinned) === Set((1L, "a"), (2L, "b"), (3L, "c")))

    // state in the removed unbucketed layout: parquet files at the table root
    val root0 = java.nio.file.Files.createTempDirectory("graft-legacy0").toString
    val flat = new ParquetUpsertSink(root0, buckets = ParquetUpsertSink.AutoBuckets)
    Seq((1L, "a")).toDF("id", "v").write.parquet(flat.tablePath(id))
    val e0 = intercept[IllegalArgumentException] {
      flat.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    }
    assert(e0.getMessage.contains("removed unbucketed layout"), e0.getMessage)
    localFs.delete(new Path(root), true)
    val _ = localFs.delete(new Path(root0), true)
  }

  test("flat state is refused by every writer and by DDL, and stays readable") {
    // a bucketed commit next to root parquet files hides them from readers:
    // partition discovery drops the root files once `__bucket=` dirs exist
    val root = java.nio.file.Files.createTempDirectory("graft-flat").toString
    val pinned = new ParquetUpsertSink(root, buckets = 4)
    val tablePath = pinned.tablePath(id)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(tablePath)
    val planted = Set((1L, "a"), (2L, "b"))
    Seq(pinned, new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)).foreach { sink =>
      val e = intercept[IllegalArgumentException] {
        sink.write(id, batch((3L, "c", "INSERT", 3L)), schema)
      }
      assert(e.getMessage.contains("removed unbucketed layout"), e.getMessage)
      assert(pairsOf(sink) === planted)
    }
    val e = intercept[IllegalArgumentException] {
      pinned.applySchemaChange(graft.model.AddColumnEvent(id, "n",
        org.apache.spark.sql.types.IntegerType))
    }
    assert(e.getMessage.contains("removed unbucketed layout"), e.getMessage)
    assert(bucketDirs(tablePath).isEmpty && !localFs.exists(new Path(tablePath + ".layout")),
      "a refused write leaves flat state untouched")
    assert(pairsOf(pinned) === planted)
    val _ = localFs.delete(new Path(root), true)
  }

  test("DDL on a table whose rows were all deleted is a no-op; the next write takes the new shape") {
    val root = java.nio.file.Files.createTempDirectory("graft-emptied-ddl").toString
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)
    sink.write(id, batch((1L, "a", "DELETE", 3L), (2L, "b", "DELETE", 4L)), schema)
    sink.applySchemaChange(graft.model.AddColumnEvent(id, "n", org.apache.spark.sql.types.IntegerType))
    val wide = CdcSchema.of("id" -> "BIGINT", "v" -> "STRING", "n" -> "INT").copy(primaryKeys = Seq("id"))
    sink.write(id, Seq((3L, "c", 7, "INSERT", 5L))
      .toDF("id", "v", "n", Changelog.OpCol, Changelog.SeqCol), wide)
    assert(sink.read(spark, id).select("id", "v", "n").as[(Long, String, Int)].collect().toSeq ===
      Seq((3L, "c", 7)))
    val _ = localFs.delete(new Path(root), true)
  }

  test("a crash anywhere in a DDL rewrite recovers to the old or the new shape") {
    import graft.model.{AddColumnEvent, AlterColumnTypeEvent, DropColumnEvent}
    import org.apache.spark.sql.types.{LongType, StringType}
    val wide = CdcSchema.of("id" -> "BIGINT", "v" -> "STRING", "n" -> "INT").copy(primaryKeys = Seq("id"))
    val rows = (1L to 8L).map(k => (k, s"v$k", k.toInt, "INSERT", k))
      .toDF("id", "v", "n", Changelog.OpCol, Changelog.SeqCol)
    Seq(AddColumnEvent(id, "w", StringType), AlterColumnTypeEvent(id, "n", LongType),
      DropColumnEvent(id, "v")).foreach { e =>
      crashAtEveryCall(4, _.write(id, rows, wide), _.applySchemaChange(e))
    }
  }

  test("a crash anywhere in a truncate recovers to the full or the empty table") {
    val keys = (1L to 8L).map(k => (k, s"v$k", "INSERT", k))
    crashAtEveryCall(4, _.write(id, batch(keys: _*), schema),
      _.applySchemaChange(graft.model.TruncateTableEvent(id)))
  }
}
