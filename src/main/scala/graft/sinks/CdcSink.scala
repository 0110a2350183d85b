package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import graft.VersionedDir
import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.operators.Changelog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

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

/** Parquet-backed upsert sink: maintains one directory per table as
  * materialized state; each batch merges last-image-per-PK changes into it.
  *
  * This is the lakehouse `MERGE INTO` shape of the reference's DSQL sink
  * (SURVEY.md §2.2 "Iceberg/Delta: MERGE INTO in foreachBatch") on the
  * smallest table format that commits atomically: state' =
  * materialize(state-as-inserts ∪ batch). All heavy work is distributed (one
  * hash aggregation keyed by PK); the driver only publishes manifests.
  * Idempotent per batch — replaying a batch converges to the same state, so
  * at-least-once delivery becomes effectively-once.
  *
  * A table is one [[graft.VersionedDir]]: numbered manifests and immutable
  * data dirs, and it is whatever its newest manifest says
  * ([[ParquetUpsertSink.Manifest]]): the file schema, the PK names, the
  * bucket count and the data dir of each non-empty bucket. Rows are bucketed
  * by `pmod(xxhash64(pk), buckets)`, so a batch reads and rewrites only the
  * buckets it touches — merge cost scales with batch footprint, not table
  * size. Every change, a batch merge or a DDL rewrite, is one [[commit]]: the
  * buckets it rewrites go to a fresh data dir, manifest N+1 is published,
  * and every file and dir that manifest does not name is swept. A crash
  * leaves manifest N or N+1, plus at most files the next commit deletes:
  * nothing is ever recovered. Reads use the manifest's
  * schema and dirs, with no inference and no partition discovery. A
  * production deployment swaps in Delta/Iceberg MERGE behind the same
  * interface; their logs are this manifest grown up.
  *
  * The bucket count belongs to the table, not to the writer: a table with
  * rows keeps its manifest's count whatever the constructor says, so a
  * writer configured with another constant never prunes with the wrong
  * modulus. An empty table (new, truncated or emptied by deletes) takes the
  * constructor's count at its next write; [[ParquetUpsertSink.AutoBuckets]]
  * (the default, here and in the CLI) derives it from the session and that
  * batch's size: one bucket per core at least, one per
  * [[ParquetUpsertSink.RowsPerBucketConf]] rows above that (guide §6
  * scale-adaptive file sizing). A 100 k-row fixture on 4 cores gets 4
  * buckets — one write task per core, no small-file fan-out per merge — while
  * a 10^9-row production snapshot gets ~2000, keeping per-bucket files in
  * the 10^5-10^6-row (~64-128 MB) range.
  *
  * State of the earlier displace-and-swap format, a table dir without a
  * manifest or `<table>.*` leftovers beside it, is refused with a message
  * naming the dir; replay the table's changelog into a new state dir.
  *
  * A data batch never removes a column: one that lacks a column of its
  * table (its writer forgot an in-band AddColumn) is refused, naming the
  * table and the columns. Only DDL drops a column.
  */
class ParquetUpsertSink(rootDir: String, buckets: Int = ParquetUpsertSink.AutoBuckets)
    extends CdcSink {
  import ParquetUpsertSink.{AutoBuckets, Manifest, MaxDerivedBuckets, RowsPerBucketConf, decode, encode}
  require(buckets == AutoBuckets || buckets >= 1,
    s"upsert-sink buckets must be auto or >= 1, got $buckets: the unbucketed layout " +
      "(`buckets: 0`) was removed, every upsert state is PK-bucketed")

  private val BucketCol = "__bucket"

  def tablePath(id: TableId): String =
    s"$rootDir/${Seq(id.namespace, id.schemaName, id.tableName).filter(_.nonEmpty).mkString("__")}"

  /** The table's store; its lock serializes same-table writes (N→1 routes
    * hit one sink table from several sources in a batch).
    */
  private def store(spark: SparkSession, id: TableId): VersionedDir =
    VersionedDir(hfs(spark, tablePath(id)), tablePath(id))

  /** The table's newest manifest: None before its first write or after a
    * drop. Read on every call, never cached: another writer may have
    * truncated the table and re-derived its bucket count.
    */
  private[graft] def manifest(spark: SparkSession, id: TableId): Option[Manifest] =
    current(store(spark, id))

  private def current(vd: VersionedDir): Option[Manifest] =
    vd.current.map { case (v, b) => decode(v, b) }.orElse { refuseSwapSiblings(vd); None }

  /** A table without a manifest is new, unless a `<table>.*` sibling of the
    * earlier swap format is there (this format keeps nothing outside the
    * table dir).
    */
  private def refuseSwapSiblings(vd: VersionedDir): Unit = {
    val siblings = try vd.fs.listStatus(vd.root.getParent).map(_.getPath.getName)
      .filter(_.startsWith(vd.root.getName + "."))
    catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    require(siblings.isEmpty, s"${vd.path} predates the manifest format (${siblings.mkString(", ")} " +
      "beside it): it is neither read nor converted; replay the table's changelog into a new state dir")
  }

  /** The rows of buckets `bs`, read with the manifest's schema. */
  private def scan(spark: SparkSession, path: String, m: Manifest, bs: Iterable[Int]): DataFrame =
    if (bs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
    else spark.read.schema(m.schema).parquet(bs.toSeq.map(b => s"$path/${m.live(b)}"): _*)

  /** Bucket count for an empty table: the constructor's, or under
    * [[AutoBuckets]] `max(defaultParallelism, ceil(rows / rowsPerBucket))`.
    * The floor keeps one write task per core however small the first batch
    * is (a first batch does not bound the table), the ratio keeps files in
    * the target size band once the table outgrows the floor.
    */
  private def bucketsFor(spark: SparkSession, incoming: DataFrame): Int =
    if (buckets != AutoBuckets) buckets
    else {
      val target = spark.conf.getOption(RowsPerBucketConf).map(_.toLong).getOrElse(524288L)
      val rows = incoming.count() // fills the batch cache
      val derived = (rows + target - 1) / target
      math.min(MaxDerivedBuckets.toLong,
        math.max(spark.sparkContext.defaultParallelism.toLong, derived)).toInt
    }

  private def withBucket(df: DataFrame, pks: Seq[String], m: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(pks.map(col): _*), lit(m.toLong)).cast("int"))

  /** The schema a frame's rows are stored and read with: every column but
    * the bucket, nullable, as a parquet read returns them.
    */
  private def fileSchema(df: DataFrame): StructType =
    StructType(df.schema.fields.filter(_.name != BucketCol).map(_.copy(nullable = true)))

  /** Coerce state (possibly of another shape) to the batch's schema and
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

  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = {
    val vd = store(changelog.sparkSession, id)
    vd.locked(doWrite(vd, id, changelog, schema))
  }

  /** DDL applies EAGERLY to on-disk state (the reference's MetadataApplier
    * runs its ALTER TABLE before the data resumes): every bucket is
    * rewritten into the new shape and published with the new schema in one
    * [[commit]], so no reader ever sees a table of two shapes. A rewrite per
    * DDL event is O(state), but DDL is rare by construction; the
    * Delta/Iceberg swap-in does the same change as a metadata-only commit.
    * Rename never arrives here — the routed-schema diff normalizes it to
    * add+drop ([[graft.operators.SchemaDerivator.diff]], reference
    * SchemaDerivator.java:154-296) — but is handled for direct SPI callers.
    * Each rewrite is idempotent (skipped when the shape is already the new
    * one), so a crash-replayed batch re-applying its in-band DDL converges.
    * Truncate publishes an empty manifest that keeps the schema; drop
    * deletes the table dir.
    */
  override def applySchemaChange(e: SchemaChangeEvent): Unit = {
    import graft.model._
    e match {
      case CreateTableEvent(_, _) => () // state materializes on first write
      case AddColumnEvent(id, n, dt, _) =>
        rewriteState(id)(df => if (df.columns.contains(n)) df
                               else df.withColumn(n, lit(null).cast(dt)))
      case DropColumnEvent(id, n) => rewriteState(id)(_.drop(n))
      case RenameColumnEvent(id, f, t) => rewriteState(id, f -> t)(_.withColumnRenamed(f, t))
      case AlterColumnTypeEvent(id, n, dt) =>
        rewriteState(id)(df => if (df.columns.contains(n)) df.withColumn(n, col(n).cast(dt))
                               else df)
      case TruncateTableEvent(id) => onTable(id) { (_, vd, cur) =>
        if (cur.live.nonEmpty) commit(vd, cur.copy(version = cur.version + 1, live = Map.empty), None)
        else vd.sweep(cur.version, cur.live.values)
      }
      case DropTableEvent(id) => store(session(), id).drop()
    }
  }

  private def session(): SparkSession = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .getOrElse(throw new IllegalStateException("no SparkSession for sink DDL"))

  /** Runs `change` on the newest manifest of a table under its lock; a
    * table never written has nothing to change. A change that turns out to
    * be a no-op (the replay of a DDL event already applied) still sweeps, to
    * finish the deletes of a commit that crashed after its publish.
    */
  private def onTable(id: TableId)(change: (SparkSession, VersionedDir, Manifest) => Unit): Unit = {
    val spark = session()
    val vd = store(spark, id)
    vd.locked(current(vd).foreach(change(spark, vd, _)))
  }

  /** Rewrite every bucket through `fn` and [[commit]] the result with its
    * schema. The bucket is re-derived from the rewritten PKs: a PK type
    * change moves keys between buckets. An empty table rewrites no data,
    * only its schema.
    */
  private def rewriteState(id: TableId, renamed: (String, String)*)(fn: DataFrame => DataFrame): Unit =
    onTable(id) { (spark, vd, cur) =>
      val state = scan(spark, vd.path, cur, cur.live.keys)
      val next = fn(state)
      // same shape: a replayed batch's DDL, or a drop of a never-present column
      if (next.schema != state.schema) {
        val pks = cur.primaryKeys.map(p => renamed.toMap.getOrElse(p, p))
        commit(vd, cur.copy(version = cur.version + 1, schema = fileSchema(next),
          primaryKeys = pks, live = Map.empty),
          Option.when(cur.live.nonEmpty)(withBucket(next, pks, cur.buckets)))
      } else vd.sweep(cur.version, cur.live.values)
    }

  /** All state moves go through Hadoop [[org.apache.hadoop.fs.FileSystem]] so
    * the sink works on any Hadoop-compatible store (local, HDFS, object
    * stores with a committer), and every rename is CHECKED — a false return
    * is a loud failure, never a silently lost table state.
    */
  protected def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The write path: merge the batch into the buckets it touches and
    * [[commit]] them. A batch that adds columns, or changes types or keys
    * (its writer skipped the DDL), rewrites every bucket, so a table keeps
    * one file schema and one PK hash; a batch that lacks a column of the
    * table is refused.
    */
  private def doWrite(vd: VersionedDir, id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = {
    require(schema.primaryKeys.nonEmpty, s"upsert sink requires primary keys on $id")
    val spark = changelog.sparkSession
    val path = vd.path
    val cur = current(vd)
    val missing = cur.toSeq.flatMap(_.schema.fieldNames).filterNot(schema.columnNames.toSet)
    require(missing.isEmpty, s"upsert sink refuses a batch for $id without its column(s) " +
      s"${missing.mkString(", ")}: only DDL removes a column (did a restart lose an in-band AddColumn?)")
    val live = cur.fold(Map.empty[Int, String])(_.live)
    val pks = schema.primaryKeys

    // cached ahead of the bucket count: the Auto-derive count() on an empty
    // table's write fills the cache, so the batch is parsed once; the
    // touched probe and the merged write re-derive the bucket hash from it
    val cols = schema.columnNames.map(col)
    val inc = changelog.select(cols :+ col(Changelog.OpCol) :+ col(Changelog.SeqCol): _*).cache()
    try {
      val m = if (live.nonEmpty) cur.get.buckets else bucketsFor(spark, inc)
      val bucketed = withBucket(inc, pks, m)
      val touched = bucketed.select(BucketCol).distinct().collect().map(_.getInt(0)).toSet
      val fresh = Changelog.materialize(bucketed, pks :+ BucketCol)
      def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
      val reshaped = cur.exists(c => c.primaryKeys != pks || columns(c.schema) != columns(fileSchema(fresh)))
      val rewritten = if (reshaped) touched ++ live.keySet else touched
      val stateBuckets = rewritten.filter(live.contains)
      val merged = if (stateBuckets.isEmpty) fresh else Changelog.materialize(
        withBucket(stateAsInserts(scan(spark, path, cur.get, stateBuckets), schema), pks, m)
          .unionByName(bucketed),
        pks :+ BucketCol) // bucket is pk-functional: same groups

      // one write task per rewritten bucket: buckets are sized to the target
      // file size, so task == output file == bucket
      commit(vd, Manifest(cur.fold(0L)(_.version + 1), fileSchema(merged), pks, m, live -- rewritten),
        Some(merged.repartition(math.max(rewritten.size, 1), col(BucketCol))))
    } finally { inc.unpersist(); () }
  }

  /** The one commit of a state change, shared by writes and DDL. `next` is
    * the new manifest less the buckets `data` holds: those are written to
    * the fresh data dir `v<version>` (a rewritten bucket `data` lacks was
    * emptied). Publishing the manifest is the one step that changes the
    * table; the sweep then deletes what it no longer names. The sink's own
    * FS writes per commit are the publish's create and rename and the
    * sweep's deletes (plus the mkdirs of a table's first commit).
    */
  private def commit(vd: VersionedDir, next: Manifest, data: Option[DataFrame]): Unit = {
    val (fs, path) = (vd.fs, vd.path)
    // before any data: a table dir without a manifest is the earlier format's
    if (next.version == 0) vd.begin()
    val dataDir = s"v${next.version}"
    val produced = data.fold(Map.empty[Int, String]) { df =>
      // overwrite: a commit that crashed before its rename left this dir
      df.write.mode("overwrite").option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(BucketCol).parquet(s"$path/$dataDir")
      children(fs, new Path(path, dataDir)).filter(_.startsWith(s"$BucketCol="))
        .map(n => n.stripPrefix(s"$BucketCol=").toInt -> s"$dataDir/$n").toMap
    }
    val published = next.copy(live = next.live ++ produced)
    if (!vd.publish(next.version, encode(published), published.live.values))
      throw new java.io.IOException(s"upsert-sink commit failed: another writer published " +
        s"version ${next.version} of $path (state preserved)")
  }

  private def children(fs: FileSystem, dir: Path): Seq[String] =
    try fs.listStatus(dir).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The table's rows with its manifest's schema: an empty frame once every
    * row was deleted or the table truncated.
    */
  def read(spark: SparkSession, id: TableId): DataFrame = {
    val m = manifest(spark, id)
      .getOrElse(throw new java.io.FileNotFoundException(s"no upsert state at ${tablePath(id)}"))
    scan(spark, tablePath(id), m, m.live.keys)
  }
}

object ParquetUpsertSink {
  /** `buckets` sentinel: derive an empty table's bucket count from the
    * session and the batch's row count — `max(defaultParallelism, ceil(rows /`
    * [[RowsPerBucketConf]]`))`, capped at [[MaxDerivedBuckets]] — and keep it
    * in the table's manifest.
    */
  val AutoBuckets: Int = -1
  /** Target rows per PK-hash bucket for [[AutoBuckets]] derivation (Spark
    * conf; default 524288 ≈ 64-128 MB parquet at typical CDC row widths —
    * guide §6's output-file sizing band).
    */
  val RowsPerBucketConf = "spark.graft.upsert.rowsPerBucket"
  val MaxDerivedBuckets = 4096

  /** One published version of an upsert table, stored as the JSON body of
    * its [[graft.VersionedDir]] manifest: the schema its data files are read with (in the
    * column order [[ParquetUpsertSink.read]] returns), the PK names the
    * bucket hash is taken over, the bucket count, and the data dir of each
    * non-empty bucket, relative to the table dir.
    */
  private[graft] final case class Manifest(version: Long, schema: StructType, primaryKeys: Seq[String],
                                          buckets: Int, live: Map[Int, String])

  private val mapper = new ObjectMapper()

  private def encode(m: Manifest): Array[Byte] = mapper.writeValueAsBytes(Map[String, Any](
    "schema" -> mapper.readTree(m.schema.json), "primaryKeys" -> m.primaryKeys.asJava,
    "buckets" -> m.buckets, "live" -> m.live.map { case (b, d) => b.toString -> d }.asJava).asJava)

  private def decode(version: Long, bytes: Array[Byte]): Manifest = {
    val root = mapper.readTree(bytes)
    Manifest(version, DataType.fromJson(root.get("schema").toString).asInstanceOf[StructType],
      root.get("primaryKeys").elements.asScala.map(_.asText).toSeq, root.get("buckets").asInt,
      root.get("live").properties.asScala.map(e => e.getKey.toInt -> e.getValue.asText).toMap)
  }
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
