package graft.sinks

import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.operators.Changelog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink SPI — the Spark shape of the reference's `DataSink =
  * EventSinkProvider + MetadataApplier` (common/sink/DataSink.java:29-35,
  * MetadataApplier.java:33-50): a data path (`write`) plus a metadata path
  * (`applySchemaChange`). In the micro-batch design `write` is called once
  * per (batch, table) from `foreachBatch`, AFTER any schema changes of that
  * batch were applied — the ordering the reference enforces with its
  * FlushEvent protocol falls out of the batch boundary for free.
  */
/** Provenance of one `write` call within a streaming micro-batch: the
  * `foreachBatch` batch id plus the route leg (`"src→out"`). An N→1 route
  * writes the same sink table once per SOURCE within a batch, so the pair —
  * not the batch id alone — uniquely identifies the invocation; decorators
  * ([[graft.pipeline.AssetFoldSink]]) key crash-replay
  * dedup on it.
  */
final case class BatchCtx(batchId: Long, origin: String)

trait CdcSink {
  /** Apply DDL to the sink (called on the driver, between batches). */
  def applySchemaChange(e: SchemaChangeEvent): Unit = ()

  /** Write one table's changelog slice (envelope columns `__op`/`__seq`
    * + payload aligned with `schema`).
    */
  def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit

  /** Batch-aware write: streaming callers pass their micro-batch provenance
    * so decorators can deduplicate crash-replayed batches; the default
    * ignores it — plain sinks are already idempotent per key and need no
    * replay awareness.
    */
  def writeBatch(id: TableId, changelog: DataFrame, schema: CdcSchema,
                 ctx: Option[BatchCtx]): Unit = write(id, changelog, schema)
}

/** Driver-side in-memory sink over [[ValuesDatabase]] — the test oracle sink
  * (reference: ValuesDataSink). Collects each batch; only for tests.
  */
final class ValuesSink(val db: ValuesDatabase) extends CdcSink {
  import graft.model._

  override def applySchemaChange(e: SchemaChangeEvent): Unit = db.apply(e)

  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = {
    val cols = schema.columnNames
    // per-key ordering within the batch: sort by seq before applying
    val rows = changelog.orderBy(col(Changelog.SeqCol)).collect()
    // the pipeline writes tables concurrently; the in-memory db is one map
    db.synchronized {
      rows.foreach { r =>
        val payload = cols.map(c => r.getAs[Any](c))
        val op = r.getAs[String](Changelog.OpCol)
        db.apply(DataChangeEvent(id, Op.of(op),
          before = if (op == "DELETE" || op == "UPDATE") Some(payload) else None,
          after = if (op == "DELETE") None else Some(payload)))
      }
    }
  }
}

/** Parquet-backed upsert sink: maintains one parquet directory per table as
  * materialized state; each batch merges last-image-per-PK changes into it.
  *
  * This is the lakehouse `MERGE INTO` shape of the reference's DSQL sink
  * (SURVEY.md §2.2 "Iceberg/Delta: MERGE INTO in foreachBatch") without a
  * table format: state' = materialize(state-as-inserts ∪ batch). All heavy
  * work is distributed (one hash aggregation keyed by PK); the driver only
  * moves directories. Idempotent per batch — replaying a batch converges to
  * the same state, so at-least-once delivery becomes effectively-once.
  * Schema evolution: DDL rewrites state eagerly ([[applySchemaChange]]), and
  * the merge path ALSO coerces (cast + null-pad) on read as a belt-and-
  * braces for state that lags after a crash between DDL and rewrite.
  *
  * State is partitioned by `pmod(xxhash64(pk), buckets)` into `__bucket=N`
  * dirs: a batch reads and rewrites ONLY the PK-hash partitions it touches
  * (partition pruning on read) — merge cost scales with batch footprint, not
  * table size. At 100 TB this is the difference between O(state) and
  * O(touched-buckets) per micro-batch; a production deployment swaps in
  * Delta/Iceberg MERGE behind the same interface. Every change to state, a
  * batch merge or a DDL rewrite, lands through one per-bucket swap
  * ([[commit]]), which [[recoverCrashedSwap]] completes or undoes after a
  * crash.
  *
  * The bucket count is a LAYOUT property of the table, not of the writer: it
  * is persisted in a `<table>.layout` meta file at state creation and every
  * later write/merge resolves it from there — a writer configured with a
  * different constant can no longer silently prune against the wrong modulus
  * (r20). [[ParquetUpsertSink.AutoBuckets]] (the default, here and in the
  * CLI) derives the count from the session and the first batch's size: one
  * bucket per core at least, one per [[ParquetUpsertSink.RowsPerBucketConf]]
  * rows above that (guide §6 scale-adaptive file sizing). A 100 k-row
  * fixture on 4 cores gets 4 buckets — one write task per core, no 32-way
  * small-file fan-out per merge — while a 10^9-row production snapshot gets
  * ~2000, keeping per-bucket files in the 10^5-10^6-row (~64-128 MB) range.
  *
  * State in the flat layout of earlier versions (parquet files at the state
  * root, no bucket dirs) is refused by writes and DDL; [[read]] still
  * returns its rows, so they can be replayed into a new state dir.
  */
class ParquetUpsertSink(rootDir: String, buckets: Int = ParquetUpsertSink.AutoBuckets)
    extends CdcSink {
  import ParquetUpsertSink.{AutoBuckets, MaxDerivedBuckets, RowsPerBucketConf, SwapReady}
  require(buckets == AutoBuckets || buckets >= 1,
    s"upsert-sink buckets must be auto or >= 1, got $buckets: the unbucketed layout " +
      "(`buckets: 0`) was removed, every upsert state is PK-bucketed")

  private val BucketCol = "__bucket"
  // concurrent per-table writes are fine; same-table writes must serialize
  // (N→1 routes can hit one sink table from several sources in a batch)
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def tablePath(id: TableId): String =
    s"$rootDir/${Seq(id.namespace, id.schemaName, id.tableName).filter(_.nonEmpty).mkString("__")}"

  private def lockOf(path: String): Object = tableLocks.computeIfAbsent(path, _ => new Object)

  private def layoutPath(path: String) = new Path(path + ".layout")

  /** Bucket count this table's state is laid out with, and whether the
    * `.layout` meta file holds it: the meta when present (the on-disk layout
    * is ground truth — a writer whose constant disagrees would prune state
    * reads with the wrong modulus and lose rows), else the constructor's
    * value, deriving it from the first batch when that is [[AutoBuckets]].
    * Read on every write, one `exists` and one small-file open: a table
    * truncated and re-derived by another writer must never be pruned with a
    * modulus remembered from before.
    *
    * The derivation is `max(defaultParallelism, ceil(rows / rowsPerBucket))`:
    * the floor keeps one write task per core however small the first batch
    * is (a first batch does not bound the table), the ratio keeps files in
    * the target size band once the table outgrows the floor.
    */
  private def effectiveBuckets(spark: SparkSession, fs: FileSystem, path: String,
                               existing: Set[Int], incoming: DataFrame): (Int, Boolean) = {
    val lp = layoutPath(path)
    if (fs.exists(lp)) {
      val in = fs.open(lp)
      try (scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt, true)
      finally in.close()
    } else if (buckets == AutoBuckets) {
      // never guess the modulus of existing buckets: name the setting that reads them
      require(existing.isEmpty,
        s"bucketed state at $path has no layout meta: it predates the persisted " +
          "layout and was written with the old default of 32 buckets; set " +
          "`buckets: 32` (or the count it was written with) to keep using it")
      val target = spark.conf.getOption(RowsPerBucketConf).map(_.toLong).getOrElse(524288L)
      val rows = incoming.count() // first write only; fills the batch cache
      val derived = (rows + target - 1) / target
      (math.min(MaxDerivedBuckets.toLong,
        math.max(spark.sparkContext.defaultParallelism.toLong, derived)).toInt, false)
    } else (buckets, false)
  }

  /** Persist the resolved bucket count next to the state dir (sibling file:
    * it must survive the per-bucket swaps and the DDL rewrite of the dir).
    * Written aside and renamed in, so a crash mid-write leaves no torn meta.
    */
  private def writeLayout(fs: FileSystem, path: String, m: Int): Unit = {
    val aside = new Path(path + ".layout.tmp")
    val out = fs.create(aside, true)
    try out.write(m.toString.getBytes("UTF-8")) finally out.close()
    renameOrThrow(fs, aside, layoutPath(path))
  }

  private def withBucket(df: DataFrame, pks: Seq[String], m: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(pks.map(col): _*), lit(m.toLong)).cast("int"))

  /** Coerce on-disk state (possibly older schema) to the evolved shape and
    * stamp it as lowest-seq inserts so batch rows win per PK.
    */
  private def stateAsInserts(state: DataFrame, schema: CdcSchema): DataFrame = {
    val present = state.columns.toSet
    state.select(schema.struct.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
      .withColumn(Changelog.OpCol, lit("INSERT"))
      .withColumn(Changelog.SeqCol, lit(Long.MinValue))
  }

  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit =
    lockOf(tablePath(id)).synchronized {
      doWrite(id, changelog, schema)
    }

  /** DDL applies EAGERLY to on-disk state (the reference's MetadataApplier
    * runs its ALTER TABLE before the data resumes): lazy coercion alone
    * would leave buckets a batch never touches under the OLD shape, and a
    * schema-less `spark.read.parquet` of mixed-shape files infers whichever
    * file it samples — a dropped column could resurface or an added one
    * vanish from [[read]]. A rewrite per DDL event is O(state), but DDL is
    * rare by construction; the Delta/Iceberg swap-in does the same change as
    * a metadata-only commit. Rename never arrives here — the routed-schema
    * diff normalizes it to add+drop ([[graft.operators.SchemaDerivator.diff]],
    * reference SchemaDerivator.java:154-296) — but is handled for direct SPI
    * callers. Each rewrite is idempotent (guarded on the current on-disk
    * shape), so a crash-replayed batch re-applying its in-band DDL converges.
    */
  override def applySchemaChange(e: SchemaChangeEvent): Unit = {
    import graft.model._
    e match {
      case CreateTableEvent(_, _) => () // state materializes on first write
      case AddColumnEvent(id, n, dt, _) =>
        rewriteState(id)(df => if (df.columns.contains(n)) df
                               else df.withColumn(n, lit(null).cast(dt)))
      case DropColumnEvent(id, n) => rewriteState(id)(_.drop(n))
      case RenameColumnEvent(id, f, t) => rewriteState(id)(_.withColumnRenamed(f, t))
      case AlterColumnTypeEvent(id, n, dt) =>
        rewriteState(id)(df => if (df.columns.contains(n)) df.withColumn(n, col(n).cast(dt))
                               else df)
      case TruncateTableEvent(id) => deleteState(id)
      case DropTableEvent(id) => deleteState(id)
    }
  }

  private def session(): SparkSession = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .getOrElse(throw new IllegalStateException("no SparkSession for sink DDL"))

  /** Rewrite every live bucket through `fn` and land it with the write
    * path's [[commit]]. A table with no bucket dirs holds no rows, so there
    * is nothing to rewrite: its next write materializes the evolved schema.
    */
  private def rewriteState(id: TableId)(fn: DataFrame => DataFrame): Unit =
    lockOf(tablePath(id)).synchronized {
      val spark = session()
      val path = tablePath(id)
      val fs = hfs(spark, path)
      val existing = recoveredBuckets(fs, path)
      if (existing.nonEmpty) {
        val state = spark.read.parquet(path)
        val next = fn(state)
        // cheap no-op detection: same shape → skip the rewrite (idempotent
        // replay of a batch's DDL, or a drop of a never-present column)
        if (next.schema != state.schema) {
          next.write.mode("overwrite").partitionBy(BucketCol).parquet(path + ".tmp")
          commit(fs, path, existing, existing.toSeq)
        }
      }
    }

  private def deleteState(id: TableId): Unit =
    lockOf(tablePath(id)).synchronized {
      val path = tablePath(id)
      val fs = hfs(session(), path)
      // commit leftovers go before the live dir: once it is gone, recovery
      // must find nothing to bring rows back from
      Seq(".tmp", ".old", "", ".layout", ".layout.tmp").foreach(sfx =>
        fs.delete(new Path(path + sfx), true))
      ()
    }

  /** All state moves go through Hadoop [[org.apache.hadoop.fs.FileSystem]] so
    * the sink works on any Hadoop-compatible store (local, HDFS, object
    * stores with a committer), and every rename is CHECKED — a false return
    * is a loud failure, never a silently lost table state.
    */
  protected def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"upsert-sink commit failed: rename $src -> $dst " +
        "(state preserved; check permissions / cross-filesystem paths)")

  /** Crash recovery for [[commit]], run before every read, write and DDL of
    * a table: a commit that died part-way must not leave the next writer a
    * table that looks smaller than it is.
    *  - `.tmp/.swap_ready` present — the commit's parquet write completed,
    *    the buckets it empties are already displaced, and its swap-ins began
    *    (the marker is created between the two, and deleted if a swap rename
    *    fails and is rolled back): roll the commit FORWARD by finishing the
    *    remaining per-bucket moves. The tmp contents are complete by
    *    construction, every swap decision is final, and a displaced bucket
    *    with no replacement dir was emptied on purpose — nothing is ever
    *    resurrected.
    *  - no marker — a half-written tmp or displacement: restore displaced
    *    buckets whose live dir is absent (rollback).
    * Two leftovers of older versions are still honoured, though neither is
    * written any more: a whole-dir `<table>.old` with no live dir (a crash
    * inside the removed whole-directory swap) is restored, and a `.done_N`
    * marker keeps its emptied bucket from being restored on rollback.
    */
  private def recoverCrashedSwap(fs: FileSystem, path: String): Unit = {
    val dst = new Path(path)
    val old = new Path(path + ".old")
    if (!fs.exists(dst) && fs.exists(old)) renameOrThrow(fs, old, dst)
    val tmp = new Path(path + ".tmp")
    if (fs.exists(tmp)) {
      val entries = fs.listStatus(tmp)
      if (entries.exists(_.getPath.getName == SwapReady)) {
        val moves = entries.filter(_.getPath.getName.startsWith(s"$BucketCol="))
        // a table's first write creates its state dir after the marker
        if (moves.nonEmpty && !fs.exists(dst)) fs.mkdirs(dst)
        moves.foreach { s =>
          val b = s.getPath.getName.stripPrefix(s"$BucketCol=")
          val bucketDst = new Path(s"$path/$BucketCol=$b")
          if (fs.exists(bucketDst)) renameOrThrow(fs, bucketDst, new Path(s"$tmp/.old_$b"))
          renameOrThrow(fs, s.getPath, bucketDst)
        }
        fs.delete(tmp, true)
        ()
      } else {
        entries.filter(_.getPath.getName.startsWith(".old_")).foreach { s =>
          val b = s.getPath.getName.stripPrefix(".old_")
          val bucketDst = new Path(s"$path/$BucketCol=$b")
          val done = new Path(s"$tmp/.done_$b")
          if (!fs.exists(bucketDst) && !fs.exists(done)) renameOrThrow(fs, s.getPath, bucketDst)
        }
      }
    }
  }

  /** Recover a crashed commit, then list the live buckets (none without a
    * state dir).
    */
  private def recoveredBuckets(fs: FileSystem, path: String): Set[Int] = {
    recoverCrashedSwap(fs, path)
    if (fs.exists(new Path(path))) bucketSet(fs, path) else Set.empty
  }

  /** The write path: merge + rewrite only the PK-hash partitions the batch
    * touches, then [[commit]] them.
    */
  private def doWrite(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = {
    require(schema.primaryKeys.nonEmpty, s"upsert sink requires primary keys on $id")
    val spark = changelog.sparkSession
    val path = tablePath(id)
    val fs = hfs(spark, path)
    val existing = recoveredBuckets(fs, path)

    // cached ahead of the layout resolution: the Auto-derive count() on a
    // table's first write fills the cache, so the batch is parsed once; the
    // touched probe and the merged write re-derive the bucket hash from it
    val cols = schema.columnNames.map(col)
    val inc = changelog.select(cols :+ col(Changelog.OpCol) :+ col(Changelog.SeqCol): _*).cache()
    try {
      val (m, persisted) = effectiveBuckets(spark, fs, path, existing, inc)
      val bucketed = withBucket(inc, schema.primaryKeys, m)
      val touched = bucketed.select(BucketCol).distinct().collect().map(_.getInt(0)).toSeq
      val stateBuckets = touched.filter(existing)
      val merged = if (stateBuckets.nonEmpty) {
        // partition pruning: only the touched __bucket=N dirs are read
        val state = spark.read.parquet(path).where(col(BucketCol).isin(stateBuckets: _*))
        Changelog.materialize(
          withBucket(stateAsInserts(state, schema), schema.primaryKeys, m).unionByName(bucketed),
          schema.primaryKeys :+ BucketCol) // bucket is pk-functional: same groups
      } else Changelog.materialize(bucketed, schema.primaryKeys :+ BucketCol)

      // one write task per touched bucket: buckets are sized to the target
      // file size at layout derivation, so task == output file == bucket
      // (the previous keyless-width repartition left most tasks empty when
      // touched ≪ spark.sql.shuffle.partitions)
      merged.repartition(math.max(touched.size, 1), col(BucketCol))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(path + ".tmp")
      // the meta goes first: it is a sibling file, so no crash point leaves a
      // state dir without it
      if (!persisted) writeLayout(fs, path, m)
      commit(fs, path, existing, touched)
    } finally { inc.unpersist(); () }
  }

  /** The one commit of a state change, shared by writes and DDL: `<table>.tmp`
    * holds the complete new content of the `touched` buckets as `__bucket=N`
    * dirs, and a touched bucket it lacks was emptied. Each touched bucket is
    * swapped in (or, emptied, out) by renames. NOT dynamic partition
    * overwrite: that only rewrites partitions present in the OUTPUT, so an
    * emptied bucket would keep its stale files — and it would read and
    * overwrite the same path in one job.
    *
    * Displace-then-swap: an old bucket moves into the (dot-prefixed,
    * reader-invisible) tmp area first, so a failed swap can restore it —
    * state is never deleted before its replacement is in place. FS traffic is
    * one listing of tmp, one rename per moved dir and the single `.swap_ready`
    * marker, created between the completed parquet write and the first
    * swap-in rename and deleted with tmp; recovery rolls a marker-bearing tmp
    * FORWARD ([[recoverCrashedSwap]]). Emptied buckets are displaced BEFORE
    * the marker: roll-forward only sees the buckets tmp holds, so an emptied
    * bucket still live at a crash after the marker would keep its deleted
    * rows.
    */
  private def commit(fs: FileSystem, path: String, existing: Set[Int], touched: Seq[Int]): Unit = {
    val tmp = path + ".tmp"
    val produced = bucketSet(fs, tmp)
    def displaced(b: Int) = new Path(s"$tmp/.old_$b")
    def live(b: Int) = new Path(s"$path/$BucketCol=$b")
    touched.filter(b => existing(b) && !produced(b))
      .foreach(b => renameOrThrow(fs, live(b), displaced(b)))
    val swapReady = new Path(s"$tmp/$SwapReady")
    fs.mkdirs(swapReady)
    // after the marker, so a crash never leaves an empty state dir behind
    if (existing.isEmpty && produced.nonEmpty) fs.mkdirs(new Path(path))
    touched.filter(produced).foreach { b =>
      val hadState = existing(b)
      if (hadState) renameOrThrow(fs, live(b), displaced(b))
      try renameOrThrow(fs, new Path(s"$tmp/$BucketCol=$b"), live(b))
      catch {
        case e: java.io.IOException =>
          if (hadState && !fs.rename(displaced(b), live(b))) {
            e.addSuppressed(new java.io.IOException(s"restore of bucket $b also failed"))
          }
          // the commit did NOT happen: drop the roll-forward marker so
          // recovery does not silently apply it later (it rolls back the
          // displaced buckets instead; the batch's replay re-applies them)
          try { fs.delete(swapReady, true); () }
          catch { case _: java.io.IOException => () }
          throw e
      }
    }
    fs.delete(new Path(tmp), true)
    ()
  }

  /** Bucket ids present as `__bucket=N` child dirs of `dir` (one listing).
    * Parquet files at the root are the flat layout of earlier versions:
    * refused, because bucket dirs committed next to them would hide them
    * from every reader (partition discovery drops root files).
    */
  private def bucketSet(fs: FileSystem, dir: String): Set[Int] = {
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    require(!names.exists(_.endsWith(".parquet")),
      s"upsert state at $dir has parquet files at its root, the removed unbucketed " +
        "layout, which this sink can no longer write or alter: read its rows with " +
        "ParquetUpsertSink.read and write them to a new state dir")
    names.iterator.filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).toSet
  }

  def read(spark: SparkSession, id: TableId): DataFrame = {
    val path = tablePath(id)
    // a crashed commit may have left the only state copy displaced; readers
    // recover it too, not just the next write
    lockOf(path).synchronized { recoverCrashedSwap(hfs(spark, path), path) }
    spark.read.parquet(path).drop(BucketCol) // flat state has no bucket column
  }
}

object ParquetUpsertSink {
  /** `buckets` sentinel: derive the bucket count from the session and the
    * first batch's row count — `max(defaultParallelism, ceil(rows /`
    * [[RowsPerBucketConf]]`))`, capped at [[MaxDerivedBuckets]] — and persist
    * it in the table's layout meta.
    */
  val AutoBuckets: Int = -1
  /** Target rows per PK-hash bucket for [[AutoBuckets]] derivation (Spark
    * conf; default 524288 ≈ 64-128 MB parquet at typical CDC row widths —
    * guide §6's output-file sizing band).
    */
  val RowsPerBucketConf = "spark.graft.upsert.rowsPerBucket"
  val MaxDerivedBuckets = 4096
  /** Swap-phase-begun marker inside a commit's tmp dir (see recoverCrashedSwap). */
  private[sinks] val SwapReady = ".swap_ready"
}

/** JDBC upsert sink: DDL via [[UpsertSql]], data via [[UpsertWriter]] —
  * the full DSQL-sink port (SURVEY.md §2.2).
  */
final class JdbcUpsertSink(connectionFactory: () => java.sql.Connection,
                           batchSize: Int = 1000,
                           applyDestructive: Boolean = false) extends CdcSink {
  import graft.model._

  private def exec(sql: String): Unit = {
    val c = connectionFactory()
    try { val st = c.createStatement(); st.execute(sql); st.close() } finally c.close()
  }

  /** Lossless type transitions per current information_schema type name:
    * only these are auto-applied. Everything else (narrowing, lossy casts)
    * is destructive and gated — the reference applier logs and skips
    * changes it won't do (DsqlSink.java:81-89).
    */
  private val widensTo: Map[String, Set[String]] = Map(
    // int→DECIMAL transitions are judged precision-aware in applySchemaChange
    "smallint" -> Set("integer", "bigint", "real", "double precision", "text"),
    "integer" -> Set("bigint", "double precision", "text"),
    "bigint" -> Set("text"),
    "real" -> Set("double precision", "text"),
    "double precision" -> Set("text"),
    "numeric" -> Set("text"),
    "character varying" -> Set("text"),
    "date" -> Set("timestamp without time zone", "timestamp with time zone", "text"),
    "timestamp without time zone" -> Set("timestamp with time zone", "text"),
    "boolean" -> Set("text")
  )

  /** information_schema (type name, numeric precision, numeric scale) of a
    * live column (None when absent). Precision/scale are None for
    * non-numeric and for UNCONSTRAINED numeric columns.
    */
  private def currentType(id: TableId, column: String): Option[(String, Option[Int], Option[Int])] = {
    val c = connectionFactory()
    try {
      val st = c.prepareStatement(
        "SELECT data_type, numeric_precision, numeric_scale FROM information_schema.columns " +
          "WHERE table_schema = ? AND table_name = ? AND column_name = ?")
      st.setString(1, if (id.schemaName.nonEmpty) id.schemaName else "public")
      st.setString(2, id.tableName)
      st.setString(3, column)
      val rs = st.executeQuery()
      val r = if (rs.next()) {
        def optInt(i: Int): Option[Int] = {
          val v = rs.getInt(i); if (rs.wasNull()) None else Some(v)
        }
        Some((rs.getString(1).toLowerCase, optInt(2), optInt(3)))
      } else None
      st.close()
      r
    } finally c.close()
  }

  /** NUMERIC(p,s) → NUMERIC(p',s') is lossless only when the scale does not
    * shrink AND the integer-digit headroom (p−s) does not shrink —
    * information_schema reports 'numeric' for every precision, so the name
    * comparison alone would wave narrowings through.
    */
  private def decimalWidens(cur: (Option[Int], Option[Int]), target: org.apache.spark.sql.types.DecimalType): Boolean =
    cur match {
      case (Some(p), Some(s)) =>
        target.scale >= s && (target.precision - target.scale) >= (p - s)
      case _ => false // unconstrained numeric: only TEXT is wider
    }

  /** DDL-type string → information_schema data_type name. */
  private def infoSchemaName(ddlType: String): String = ddlType.toLowerCase match {
    case t if t.startsWith("numeric") => "numeric"
    case "timestamptz" => "timestamp with time zone"
    case "timestamp" => "timestamp without time zone"
    case t => t
  }

  override def applySchemaChange(e: SchemaChangeEvent): Unit = e match {
    case CreateTableEvent(id, s) => exec(UpsertSql.createTable(id, s))
    case AddColumnEvent(id, n, dt, pos) => exec(UpsertSql.addColumn(id, n, dt, pos))
    case DropColumnEvent(id, n) => exec(UpsertSql.dropColumn(id, n))
    case RenameColumnEvent(id, f, t2) => exec(UpsertSql.renameColumn(id, f, t2))
    case TruncateTableEvent(id) => exec(UpsertSql.truncate(id))
    // the sink is public API, so it cannot assume only the widening registry
    // sends AlterColumnType: verify the transition against the live column
    // type and auto-apply only lossless widenings; anything else needs the
    // applyDestructive opt-in (the USING ::type cast would let a narrowing
    // change succeed lossily).
    case AlterColumnTypeEvent(id, n, dt) =>
      val target = infoSchemaName(UpsertSql.pgType(dt))
      val safe = currentType(id, n) match {
        case Some((cur, p, s)) => dt match {
          // a DECIMAL target is only wider when it has the scale AND the
          // integer-digit headroom for every current value
          case d: org.apache.spark.sql.types.DecimalType => cur match {
            case "numeric" => decimalWidens((p, s), d)
            case "smallint" => d.precision - d.scale >= 5
            case "integer" => d.precision - d.scale >= 10
            case "bigint" => d.precision - d.scale >= 19
            case _ => false
          }
          case _ =>
            (cur == target && target != "numeric") ||
              widensTo.getOrElse(cur, Set.empty).contains(target)
        }
        case None => false // unknown column: nothing safe to verify against
      }
      if (safe || applyDestructive) exec(UpsertSql.alterColumnType(id, n, dt))
      else {
        // scalastyle:off println
        println(s"[graft-sink] SKIP non-widening AlterColumnType $id.$n -> $target " +
          "(set applyDestructive=true to force)")
        // scalastyle:on
      }
    case DropTableEvent(id) => if (applyDestructive) exec(UpsertSql.dropTable(id))
  }

  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit =
    new UpsertWriter(connectionFactory, batchSize).writeBatch(changelog, id, schema)
}
