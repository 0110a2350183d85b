package graft.streaming

import graft.model._
import graft.operators._
import graft.sinks.CdcSink
import graft.sources.DebeziumJson
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming CDC pipeline: debezium-json feed → transform →
  * route → sink, with driver-side schema evolution between micro-batches.
  *
  * The Spark shape of the reference's streaming topology
  * (FlinkPipelineComposer.java:174: Source → PreTransform → PostTransform →
  * SchemaOperator → PrePartition → Sink). Everything the reference does with
  * operator coordinators collapses here (SURVEY.md §7.1):
  *  - FlushEvent barrier          → the micro-batch boundary
  *  - SchemaOperator blocking RPC → [[applySchemaChange]] on the driver
  *                                  between batches
  *  - PrePartition hash shuffle   → the sink's per-PK materialization
  *  - exactly-once checkpointing  → streaming checkpoint + idempotent upsert
  *
  * The same [[processBatch]] runs in batch mode (reference
  * `execution.runtime-mode: BATCH`) — call it once on a static frame.
  */
final class StreamingPipeline(
    val registry: SchemaRegistry,
    transforms: Seq[TransformRule] = Nil,
    routes: Seq[RouteRule] = Nil,
    sink: CdcSink,
    /** Concurrent sink-table writes within a batch (reference: independent
      * per-table sink buffers flush concurrently). Each sink table gets one
      * write per batch, however many sources route into it; Spark's
      * scheduler interleaves the jobs, and the sink must accept concurrent
      * `write` calls for different tables. 1 = sequential.
      */
    tableParallelism: Int = 4,
    /** Dead-letter handler: receives the batch's unroutable raw records
      * (unparseable JSON / missing source ids) instead of silently dropping
      * them — wire it to a quarantine parquet dir or error topic. Called at
      * most once per batch, with a frame of `value: STRING` rows.
      */
    deadLetter: Option[(DataFrame, Long) => Unit] = None,
    /** Emit the before-image of every in-place UPDATE as its own
      * `UPDATE_BEFORE` changelog row ([[graft.sources.DebeziumJson.parse]])
      * so a retraction-folding sink decorator can negate the superseded
      * contribution exactly. Requires a decorator that strips those rows
      * before the materializing sink ([[graft.pipeline.AssetFoldSink]]
      * does) — set only when a `retract: true` curate block
      * is in play ([[graft.Cli.buildStreaming]] wires it).
      */
    emitUpdateBefore: Boolean = false) {

  private val router = new TableIdRouter(routes)
  // sink-side schema cache: what DDL the sink has already been given
  private val sinkSchemas = scala.collection.mutable.Map.empty[TableId, CdcSchema]

  /** Apply a schema change: registry decides per behavior whether anything
    * evolves (SchemaOperator → SchemaCoordinator chain, SURVEY.md §2.6); the
    * sink then receives the DERIVED delta of its merged table schema — so an
    * N→1 route whose second source appears emits AddColumn events for the new
    * columns, like `SchemaDerivator.deduceMergedCreateTableEvent`. Call
    * between batches — the reference equally blocks the stream while its
    * coordinator round-trips.
    */
  def applySchemaChange(e: SchemaChangeEvent): Unit = {
    if (registry.apply(e).isEmpty) return
    e match {
      case TruncateTableEvent(src) =>
        // truncate leaves the schema unchanged, so the derived-diff path
        // below would swallow it — forward it to every routed table the
        // sink already knows (in an N→1 route the merged table truncates,
        // like the reference's MetadataApplier applying the routed event)
        for (out <- router.route(src) if sinkSchemas.contains(out))
          sink.applySchemaChange(TruncateTableEvent(out))
        return
      case _ => ()
    }
    for (out <- router.route(e.tableId)) {
      val live = router.sourcesFor(out, registry.tableIds).flatMap(registry.evolvedSchema)
      (sinkSchemas.get(out), live) match {
        case (prev, Nil) =>
          if (prev.isDefined) { sink.applySchemaChange(DropTableEvent(out)); sinkSchemas.remove(out) }
        case (None, _) =>
          val target = sinkSchema(out)
          sink.applySchemaChange(CreateTableEvent(out, target))
          sinkSchemas(out) = target
        case (Some(prev), _) =>
          val target = sinkSchema(out)
          SchemaDerivator.diff(out, prev.struct, target.struct).foreach { d =>
            // TRY_EVOLVE: sink DDL failures are tolerated (data continues
            // under the old sink shape); EVOLVE propagates them
            try sink.applySchemaChange(d)
            catch {
              case e: Exception if registry.behavior == SchemaChangeBehavior.TryEvolve =>
                // scalastyle:off println
                System.err.println(s"[graft] TRY_EVOLVE: sink rejected $d: ${e.getMessage}")
                // scalastyle:on
            }
          }
          sinkSchemas(out) = target
      }
    }
  }

  private def softDeleteApplies(src: TableId): Boolean =
    transforms.find(_.selectors.matches(src))
      .exists(_.postTransformConverter.exists(_.equalsIgnoreCase("SOFT_DELETE")))

  // post-transform struct per source, memoized on the evolved source struct
  // (invalidated naturally when schema evolution changes it). Concurrent:
  // coerced → sinkSchema → transformedStruct runs on the per-table pool
  // when tableParallelism > 1, and a plain mutable.Map can corrupt under a
  // racing resize.
  private val outStructCache = scala.collection.concurrent.TrieMap.empty[
    (TableId, org.apache.spark.sql.types.StructType), org.apache.spark.sql.types.StructType]

  private def transformedStruct(src: TableId, sch: CdcSchema): org.apache.spark.sql.types.StructType =
    outStructCache.getOrElseUpdate((src, sch.struct), {
      val spark = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .getOrElse(throw new IllegalStateException("no SparkSession — create one before the pipeline"))
      Transform.outputStruct(spark, sch.struct, src, transforms)
    })

  /** Merged (widest) schema of every source table routing into `out`, where
    * each source contributes its POST-transform shape (computed/renamed
    * projection columns included, projected-away columns gone) — the
    * reference's `PostTransformOperator.transformSchema` feeding
    * `SchemaDerivator.deduceMergedCreateTableEvent` (SURVEY.md §2.3, §2.6).
    * When a SOFT_DELETE converter applies to any routed source, the sink
    * schema gains the `__deleted BOOLEAN` flag column
    * (SoftDeleteConverter.java:27).
    */
  private def sinkSchema(out: TableId): CdcSchema = {
    val sources = router.sourcesFor(out, registry.tableIds)
    val schemas = sources.flatMap(s => registry.evolvedSchema(s).map(s -> _))
    if (schemas.isEmpty) throw new IllegalStateException(s"no source schema routes to $out")
    var struct = SchemaDerivator.mergeStructs(schemas.map { case (s, sch) => transformedStruct(s, sch) })
    if (sources.exists(softDeleteApplies))
      struct = struct.add("__deleted", org.apache.spark.sql.types.BooleanType)
    // a transform rule may re-declare the key set over its output columns
    // (reference transform `primary-keys` option); otherwise the upstream
    // PKs survive where still present post-transform
    val (srcHead, schHead) = schemas.head
    val declaredPks = transforms.find(_.selectors.matches(srcHead))
      .map(_.primaryKeys).filter(_.nonEmpty)
    CdcSchema(struct,
      primaryKeys = declaredPks.getOrElse(schHead.primaryKeys) intersect struct.fieldNames.toSeq)
  }

  /** Snapshot phase of the hybrid source (reference `HybridSplitAssigner`,
    * base/source/assigner/HybridSplitAssigner.java:53): load a full table
    * image as an insert-only changelog at sequence `snapshotSeq`, through the
    * same transform/route/sink path as the change stream. Stream events with
    * `seq > snapshotSeq` then supersede snapshot rows per key — the
    * last-write-wins dedup folds in-flight changes exactly like the
    * reference's low/high-watermark chunk normalization (SURVEY.md §2.1).
    * Its writes carry no batch provenance: a restarted snapshot re-writes
    * idempotently per key.
    */
  def snapshotLoad(src: TableId, snapshot: DataFrame, snapshotSeq: Long = 0L): Unit = {
    require(registry.evolvedSchema(src).isDefined, s"no schema for $src — apply CreateTableEvent first")
    val changelog = transformed(src, snapshot
      .withColumn(Changelog.OpCol, lit("INSERT"))
      .withColumn(Changelog.SeqCol, lit(snapshotSeq)))
    for (out <- router.route(src)) sink.writeBatch(out, coerced(src, out, changelog), sinkSchema(out), None)
  }

  /** Transform → soft-delete converter, for one source table's changelog
    * slice (shared by snapshot and stream phases).
    */
  private def transformed(src: TableId, changelog: DataFrame): DataFrame = {
    val rows = Transform.applyRules(changelog, src, transforms,
      opColumn = Some(Changelog.OpCol),
      passthrough = Seq(Changelog.OpCol, Changelog.SeqCol))
    if (softDeleteApplies(src)) Changelog.softDelete(rows) else rows
  }

  /** One route leg: `src`'s transformed changelog in the shape of sink
    * table `out`.
    */
  private def coerced(src: TableId, out: TableId, transformed: DataFrame): DataFrame = {
    val target = sinkSchema(out)
    // coerce payload to the merged sink shape (cast matching columns,
    // null-pad missing ones) while keeping the envelope — pure projection
    val coerced0 = transformed.select(
      target.struct.fieldNames.map(f =>
        (if (transformed.columns.contains(f)) col(f) else lit(null))
          .cast(target.struct(f).dataType).as(f)).toSeq
        ++ Seq(col(Changelog.OpCol), col(Changelog.SeqCol)): _*)
    // corrupt envelopes (malformed JSON, unparseable payloads) surface as
    // null PKs after PERMISSIVE parsing — they can never address sink
    // state, so drop them instead of poisoning the upsert. Guard ONLY on
    // PK columns this source actually produces: in an N→1 route whose
    // sources key under different names, the merged PK is null-PADDED for
    // the other sources (coercion above) and must not silence their rows.
    val guardPks = target.primaryKeys.filter(transformed.columns.contains)
    if (guardPks.size < target.primaryKeys.size)
      // scalastyle:off println
      System.err.println(s"[graft] WARN: $src lacks sink PK column(s) " +
        s"${target.primaryKeys.diff(guardPks).mkString(",")} for $out — " +
        "its rows upsert under null key components")
      // scalastyle:on
    guardPks.foldLeft(coerced0)((d, pk) => d.where(col(pk).isNotNull))
  }

  /** Process one micro-batch of raw debezium-json records (`value: STRING`).
    *
    * Scale shape: ONE pass tags records with their table id (narrow), then
    * each known source table gets a filtered parse → transform → coerce per
    * route leg, and each sink table ONE write of the union of its legs: an
    * N→1 route reads and rewrites its table's state once per batch, and
    * keys that several sources write resolve by `__seq` like any other.
    * Filters and `from_json` are narrow projections; the only shuffles are
    * inside the sink's per-PK materialization — exactly the reference's
    * PrePartition-then-buffer layout.
    */
  def processBatch(batch: DataFrame, batchId: Long, seq: Option[Column] = None): Unit = {
    // in-band DDL: control records ({"__graft_schema_change__": ...}) ride
    // the same feed as row events, like the reference's SchemaChangeEvents
    // in the one Event stream (SURVEY.md §1.1). A cheap contains() prefilter
    // keeps the scan narrow; the rare hits collect to the driver and apply
    // at the batch boundary — before the batch's data, so a CreateTable and
    // its first rows can share a batch.
    val marker = graft.model.SchemaChangeJson.Marker
    val isCtrl = col("value").contains(s""""$marker"""")
    // single pass fills the cache; control detection, table discovery and
    // per-table slices all read from it
    val allTagged = DebeziumJson.tableOf(batch).cache()
    try {
      // ONE aggregate fills the cache and answers emptiness, table discovery,
      // control detection and the dead-letter presence check together — the
      // previous shape paid a separate driver action (≈ a scheduling quantum
      // each, per micro-batch, forever) for each (r20; guide §1/§5: the
      // steady-state batch loop's driver actions are pure per-batch overhead)
      val groups = allTagged.groupBy(col("__db"), col("__table"))
        .agg(collect_list(when(isCtrl, col("value"))).as("__ctrl"),
             count(lit(1)).as("__n"))
        .collect()
      if (groups.isEmpty) return // empty batch
      // `contains` is only a prefilter: a data row whose TEXT mentions the
      // marker also hits it. isControl strictly validates (top-level JSON
      // field), and only the validated lines are excluded from the data
      // path — false hits remain ordinary data rows.
      val hits = groups.flatMap(_.getSeq[String](2))
      val (ctrl, falseHits) = hits.partition(graft.model.SchemaChangeJson.isControl)
      // apply in-band DDL BEFORE the batch's data, so a CreateTable and its
      // first rows can share a batch
      ctrl.map(graft.model.SchemaChangeJson.parse).foreach(applySchemaChange)
      // exclude control rows by the (already-computed) prefilter predicate and
      // re-admit only the rare false hits: a DDL storm then costs one NOT
      // contains(), not an In-list over every control string in the batch
      val tagged = if (ctrl.isEmpty) allTagged
                   else if (falseHits.isEmpty) allTagged.where(!isCtrl)
                   else allTagged.where(!isCtrl || col("value").isin(falseHits.toSeq: _*))

      val ctrlSet = ctrl.toSet
      // data rows per (db, table) group = group size minus its VALIDATED
      // control rows — so a group whose rows were all control records is not
      // "present" (exactly the old post-exclusion distinct's semantics)
      def dataRows(r: org.apache.spark.sql.Row): Long =
        r.getLong(3) - r.getSeq[String](2).count(ctrlSet.contains)
      val present = groups.filter(dataRows(_) > 0)
        .map(r => TableId.of(Option(r.getString(0)).getOrElse(""), Option(r.getString(1)).getOrElse("")))

      // unroutable records (unparseable JSON → null source ids) → dead letter
      deadLetter.foreach { handler =>
        if (groups.exists(r => (r.isNullAt(0) || r.isNullAt(1)) && dataRows(r) > 0)) {
          val bad = tagged.where(col("__db").isNull || col("__table").isNull).select("value")
          handler(bad, batchId)
        }
      }

      val known = present.toSeq.flatMap(src => registry.evolvedSchema(src).map(src -> _))
      // sink table → the sources routed into it, sorted by name
      val bySink = known.flatMap { case leg @ (src, _) => router.route(src).map(_ -> leg) }
        .groupMap(_._1)(_._2).toSeq.sortBy(_._1.identifier)
        .map { case (out, legs) => out -> legs.sortBy(_._1.identifier) }
      val t0 = System.nanoTime()
      def process(out: TableId, sources: Seq[(TableId, CdcSchema)]): Unit = {
        val legs = sources.map { case (src, schema) =>
          val slice = tagged.where(col("__db") === src.schemaName && col("__table") === src.tableName)
          coerced(src, out, transformed(src, DebeziumJson.parse(slice, schema.struct, seq = seq,
            primaryKeys = schema.primaryKeys, emitUpdateBefore = emitUpdateBefore)
            .drop("__db", "__table")))
        }
        val origin = s"${sources.map(_._1.identifier).mkString(",")}->${out.identifier}"
        sink.writeBatch(out, legs.reduce(_ unionByName _), sinkSchema(out),
          Some(graft.sinks.BatchCtx(batchId, origin)))
      }
      if (tableParallelism > 1 && bySink.size > 1) {
        // concurrent Spark jobs, one per sink table — scheduler interleaves stages
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(tableParallelism, bySink.size))
        try {
          val futures = bySink.map { case (out, sources) =>
            pool.submit(new Runnable { def run(): Unit = process(out, sources) })
          }
          futures.foreach(_.get())
        } finally { pool.shutdown(); () }
      } else bySink.foreach { case (out, sources) => process(out, sources) }

      // batch metric, like the reference's per-table RPS logs
      // (DsqlBatchSinkFunction.java:979-1014)
      val secs = (System.nanoTime() - t0) / 1e9
      if (bySink.nonEmpty && secs > 1.0)
        // scalastyle:off println
        System.err.println(f"[graft] batch $batchId: ${bySink.size} tables in $secs%.2fs")
        // scalastyle:on
    } finally { allTagged.unpersist(); () }
  }

  /** Launch the continuous pipeline over a streaming frame of debezium-json
    * records. Checkpointed; restart-safe when the sink is idempotent.
    */
  def start(stream: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()
}
