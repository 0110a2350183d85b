package graft

import graft.model.{CdcSchema, CreateTableEvent, SchemaChangeBehavior, TableId}
import graft.operators.SchemaRegistry
import graft.pipeline.{Composer, PipelineDef}
import graft.sinks.ParquetUpsertSink
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** YAML-pipeline CLI — the Spark analog of the reference's `flink-cdc.sh
  * pipeline.yaml` entry (flink-cdc-cli/.../CliFrontend.java:66-81, parse at
  * cli/parser/YamlPipelineDefinitionParser.java:106-160).
  *
  * Usage: graft.Cli <pipeline.yaml>
  *
  * Supported sources: `parquet` (batch snapshot; `path` = table directory),
  * `debezium-json` (streaming; `path` = directory of json-lines files, each
  * record one debezium envelope; requires `tables-schema` entries in the
  * source block or prior CreateTable DDL), `kafka` (streaming; debezium
  * envelopes consumed via `readStream.format("kafka")` —
  * [[graft.sources.KafkaSource]]). Sinks: `parquet` (directory of result
  * tables), `parquet-upsert` (continuously maintained state dirs), `kafka`
  * (changelog topics), `delta` (lakehouse MERGE INTO catalog tables —
  * [[graft.sinks.DeltaMergeSink]]), `values` (print to stdout — smoke runs).
  */
object Cli {

  /** One read-surface session shape, resolved in one place — the
    * monitor-show and pca-show arms must not drift apart on master/CPU
    * resolution (runPipeline keeps its own builder: it layers
    * pipeline-specific parallelism/timezone configs).
    */
  private def session(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .appName(appName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("monitor-show", path, qs @ _*) =>
      // the monitor asset's read surface: operators inspect what the
      // pipeline maintains without writing Scala
      val quantiles = if (qs.isEmpty) Seq(0.5, 0.9, 0.99) else qs.map(_.toDouble)
      monitorShow(session("graft-monitor-show"), path, quantiles)
        .show(1000, truncate = false)
    case Seq("monitor-show") => throw new IllegalArgumentException(
      "usage: graft.Cli monitor-show <path> [quantile ...]")
    case Seq("pca-show", path) =>
      // the PCA suffstats asset's read surface: the spectrum of the corpus
      // folded so far, without touching the corpus or writing Scala
      pcaShow(session("graft-pca-show"), path).show(1000, truncate = false)
    case Seq("pca-show", path, k) =>
      // at most ONE optional k — extra arguments fall through to the usage
      // error instead of being silently ignored (monitor-show, by contrast,
      // consumes every trailing quantile)
      pcaShow(session("graft-pca-show"), path, k.toInt)
        .show(1000, truncate = false)
    case Seq("pca-show") => throw new IllegalArgumentException(
      "usage: graft.Cli pca-show <path> [k]")
    // the four selection read surfaces (budget/split/sample/mix) share one
    // materialize-or-show convention — selectCmd keeps them from drifting:
    // with a trailing outDir the selection MATERIALIZES as parquet (the
    // corpus handoff to a training job); without, it renders
    case Seq("budget-select", yaml, table, budget, rest @ _*) if rest.size <= 1 =>
      // the curate asset's read surface: the maximal budget prefix over
      // the sink's materialized table, cutoff off the maintained histogram
      selectCmd("budget-select", yaml, rest.headOption)(
        (sp, p) => budgetSelect(sp, p, table, budget.toLong))
    case Seq("budget-select", _*) => throw new IllegalArgumentException(
      "usage: graft.Cli budget-select <pipeline.yaml> <table-id> <budget> [outDir]")
    case Seq("split-select", yaml, table, splitName, rest @ _*) if rest.size <= 1 =>
      // the split block's read surface: one named deterministic split of
      // the sink's materialized table (train/valid/test handoffs)
      selectCmd("split-select", yaml, rest.headOption,
          label = Some(s"split-select (split '$splitName')"))(
        (sp, p) => splitSelect(sp, p, table, splitName))
    case Seq("split-select", _*) => throw new IllegalArgumentException(
      "usage: graft.Cli split-select <pipeline.yaml> <table-id> <split-name> [outDir]")
    case Seq("sample-select", yaml, table, rest @ _*) if rest.size <= 1 =>
      // the sample block's read surface: the deterministic md5-threshold
      // sample of the sink's materialized table
      selectCmd("sample-select", yaml, rest.headOption)(
        (sp, p) => sampleSelect(sp, p, table))
    case Seq("sample-select", _*) => throw new IllegalArgumentException(
      "usage: graft.Cli sample-select <pipeline.yaml> <table-id> [outDir]")
    case Seq("mix-select", yaml, table, rest @ _*) if rest.size <= 1 =>
      // the mix block's read surface: the temperature-rebalanced view of
      // the sink's materialized table (rates derived from the CURRENT
      // per-stratum counts, then the same md5 thresholds)
      selectCmd("mix-select", yaml, rest.headOption)(
        (sp, p) => mixSelect(sp, p, table))
    case Seq("mix-select", _*) => throw new IllegalArgumentException(
      "usage: graft.Cli mix-select <pipeline.yaml> <table-id> [outDir]")
    case Seq("curate-check", yaml, table) =>
      // the curate drift audit: asset token mass vs the surviving table's
      // — the mechanical symptom of unpaired retractions / grow-only
      // assets over deleting tables / mixed maintainers
      val p = PipelineDef.fromYaml(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(yaml))))
      curateCheck(session("graft-curate-check"), p, table).show(truncate = false)
    case Seq("curate-check", _*) => throw new IllegalArgumentException(
      "usage: graft.Cli curate-check <pipeline.yaml> <table-id>")
    case Seq("curate-show", path) =>
      // the histogram asset itself: declared binning + per-bin token
      // sums — what the selection's cutoff fold reads, inspectable
      curateShow(session("graft-curate-show"), path).show(10000, truncate = false)
    case Seq("curate-show") => throw new IllegalArgumentException(
      "usage: graft.Cli curate-show <path>")
    case Seq(yaml) => runPipeline(yaml)
    case _ => throw new IllegalArgumentException(
      "usage: graft.Cli <pipeline.yaml> | graft.Cli monitor-show <path> " +
        "[quantile ...] | graft.Cli pca-show <path> [k] | " +
        "graft.Cli budget-select <pipeline.yaml> <table-id> <budget> [outDir] | " +
        "graft.Cli split-select <pipeline.yaml> <table-id> <split-name> [outDir] | " +
        "graft.Cli sample-select <pipeline.yaml> <table-id> [outDir] | " +
        "graft.Cli mix-select <pipeline.yaml> <table-id> [outDir] | " +
        "graft.Cli curate-check <pipeline.yaml> <table-id> | " +
        "graft.Cli curate-show <path>")
  }

  /** The shared body of the four selection read surfaces: parse the
    * pipeline YAML, build the selection under the one read-surface session
    * shape, then materialize to `outDir` (count read back off the written
    * parquet — the handoff's ground truth, not the plan's) or render.
    * `cmd` is the bare command name and becomes the session appName
    * (`graft-<cmd>`, never decorated — an app name with spaces/quotes
    * pollutes cluster UIs and log grep); `label`, when given, decorates
    * only the printed line (e.g. the chosen split name).
    */
  private def selectCmd(cmd: String, yamlPath: String, outDir: Option[String],
      label: Option[String] = None)(
      build: (SparkSession, PipelineDef) => org.apache.spark.sql.DataFrame): Unit = {
    val p = PipelineDef.fromYaml(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(yamlPath))))
    val display = label.getOrElse(cmd)
    val sp = session(s"graft-$cmd")
    val sel = build(sp, p)
    outDir match {
      case Some(dir) =>
        sel.write.mode("overwrite").parquet(dir)
        // scalastyle:off println
        println(s"$display: wrote ${sp.read.parquet(dir).count()} rows to $dir")
        // scalastyle:on
      case None => sel.show(1000, truncate = false)
    }
  }

  /** Render a persisted budget-histogram asset: one row per occupied bin
    * with its net token sum plus the pinned declaration — the exact input
    * of the selection's cutoff fold. Bounded by `bins`; the corpus is
    * never touched. A net-negative bin in a `retract: true` asset is the
    * loud symptom of a genuinely UNPAIRED retraction (a feed without
    * before-images, or a DELETE whose before-image mismatches the offer)
    * — in-place updates fold exactly as (−before, +after) pairs and
    * cannot drift.
    */
  def curateShow(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val live = graft.ops.EpochStore.currentEpoch(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no budget-histogram asset at $path"))
    spark.read.parquet(live)
      .select(col("bin"), col("toks"), col("lo"), col("hi"), col("bins"))
      .orderBy(col("bin").desc)
  }

  /** [[graft.pipeline.BudgetCurator.select]] under the one read-surface
    * session shape — exposed (like [[monitorShow]]/[[pcaShow]]) so specs
    * and embedding callers drive it with their own session.
    */
  def budgetSelect(spark: SparkSession, p: PipelineDef, tableId: String,
                   budget: Long): org.apache.spark.sql.DataFrame =
    graft.pipeline.BudgetCurator.select(spark, p, tableId, budget)

  /** [[graft.pipeline.CorpusSplitter.select]] under the one read-surface
    * session shape — the `split:` block's named-split read.
    */
  def splitSelect(spark: SparkSession, p: PipelineDef, tableId: String,
                  splitName: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.CorpusSplitter.select(spark, p, tableId, splitName)

  /** [[graft.pipeline.BudgetCurator.check]] under the one read-surface
    * session shape — the curate drift audit.
    */
  def curateCheck(spark: SparkSession, p: PipelineDef,
                  tableId: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.BudgetCurator.check(spark, p, tableId)

  /** [[graft.pipeline.CorpusSampler.select]] under the one read-surface
    * session shape — the `sample:` block's deterministic-sample read.
    */
  def sampleSelect(spark: SparkSession, p: PipelineDef,
                   tableId: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.CorpusSampler.select(spark, p, tableId)

  /** [[graft.pipeline.CorpusMixer.select]] under the one read-surface
    * session shape — the `mix:` block's temperature-rebalanced read.
    */
  def mixSelect(spark: SparkSession, p: PipelineDef,
                tableId: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.CorpusMixer.select(spark, p, tableId)

  /** Render the variance spectrum of a persisted PCA suffstats asset
    * ([[graft.ops.Pca.appendStats]]): component, eigenvalue, cumulative
    * variance share. `k` clamps to the asset's width — a read surface
    * refusing "k too large" would make operators look up d first — via
    * the report's own clamp flag, so the asset is read ONCE.
    * O(d²) read + O(d³) driver eigensolve; the corpus is never touched.
    */
  def pcaShow(spark: SparkSession, path: String, k: Int = 8):
      org.apache.spark.sql.DataFrame =
    graft.ops.Pca.varianceReportFromStats(spark, path, math.max(1, k),
      clampToWidth = true)

  /** Render the live estimates of a `monitor:` sketch table: one row per
    * (cell, quantile) plus the cell's EXACT observation count (digest
    * weights are integer-valued doubles — the `q_monitor_weights` law).
    * Runs over the cell-bounded sketch table, never a corpus. The fold
    * keeps exactly ONE digest per cell, so no union-merge (which would
    * re-cluster a high-`compression:` monitor's digests down to the
    * default resolution) and no join-back (which would silently drop
    * cells whose dim value is NULL under equi-join semantics) is needed:
    * one select renders every cell at the digest's native resolution.
    */
  def monitorShow(spark: SparkSession, path: String,
                  quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{array, col, expr, explode, lit, struct}
    val sk = graft.pipeline.QuantileMonitor.read(spark, path)
    val dims = sk.columns.filterNot(_ == "sketch").toSeq
    // MonitorDef refuses reserved dim names at definition time; a table
    // written by something else could still carry one — refuse with the
    // cause, not an ambiguous-column AnalysisException mid-render
    val clash = dims.filter(graft.pipeline.MonitorDef.renderCols)
    require(clash.isEmpty,
      s"sketch table at $path has dim column(s) ${clash.mkString(", ")} that " +
        "collide with the render's generated columns (" +
        graft.pipeline.MonitorDef.renderCols.toSeq.sorted.mkString(", ") +
        ") — rebuild the monitor with renamed dims")
    sk.select(dims.map(col) ++ Seq(
        expr("CAST(aggregate(sketch.weights, 0D, (a, x) -> a + x) AS BIGINT)")
          .as("n_obs"),
        explode(array(quantiles.map(q => struct(lit(q).as("q"),
          graft.ops.QuantileSketch.quantileOf(col("sketch"), q).as("est"))): _*))
          .as("e")): _*)
      .select(dims.map(col) ++ Seq(col("n_obs"), col("e.q").as("q"),
        col("e.est").as("est")): _*)
      .orderBy(dims.map(col) :+ col("q"): _*)
  }

  private def runPipeline(yamlPath: String): Unit = {
    val p = PipelineDef.fromYaml(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(yamlPath))))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(p.name)
      .config("spark.sql.shuffle.partitions", math.max(p.parallelism, cpus.toInt))
      .config("spark.sql.session.timeZone", p.localTimeZone)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    p.source.kind match {
      case "parquet" => runBatch(spark, p)
      case "debezium-json" | "kafka" => runStreaming(spark, p)
      case other => throw new IllegalArgumentException(s"unknown source type: $other")
    }
  }

  private[graft] def runBatch(spark: SparkSession, p: PipelineDef): Unit = {
    val results = Composer.composeBatch(spark, p)
    val parquetOut: Option[String] = p.sink.kind match {
      case "values" =>
        results.foreach { case (id, df) =>
          // scalastyle:off println
          println(s"== $id: ${df.count()} rows")
          df.show(20, truncate = false)
          // scalastyle:on
        }
        None
      case "parquet" =>
        val out = p.sink.options.getOrElse("path",
          throw new IllegalArgumentException("parquet sink needs `path`"))
        results.foreach { case (id, df) =>
          df.write.mode("overwrite").parquet(s"$out/${id.identifier.replace('.', '_')}")
        }
        Some(out)
      case other => throw new IllegalArgumentException(s"unknown batch sink: $other")
    }
    // monitor and curate blocks fold AFTER delivery (the MonitorSink
    // ordering: a failed sink must not advance asset state), reading the
    // parquet sink's materialized output rather than re-executing lineage
    results.foreach { case (id, df) =>
      // only tables some block actually selects pay the read-back
      // (file listing + schema inference) — unmatched tables skip it
      val monitored = p.monitors.exists(_.selectors.matches(id))
      val curated = p.curations.exists(_.selectors.matches(id))
      if (monitored || curated) {
        val frame = parquetOut.fold(df)(out =>
          spark.read.parquet(s"$out/${id.identifier.replace('.', '_')}"))
        if (monitored) graft.pipeline.QuantileMonitor.fold(spark, id, frame, p.monitors)
        // REBUILD, not fold: the batch run re-materialized the complete
        // table, so the asset must describe exactly it (a re-run is then
        // idempotent; an accumulate here would corrupt selection seeds)
        if (curated) graft.pipeline.BudgetCurator.rebuild(spark, id, frame, p.curations)
      }
    }
  }

  /** Resolve the streaming state dir (checkpoint + startup anchor): the sink
    * `path` where the sink has one, else the `state-dir` pipeline option, else
    * (kafka sink — a reference YAML without `path` must run) a STABLE
    * fallback keyed by pipeline name plus a digest of the source/sink
    * IDENTITY only. Digesting the full option maps would mean any tuning
    * edit (poll timeout, maxOffsetsPerTrigger, …) silently relocates the
    * checkpoint and the pipeline restarts from its startup anchor; only
    * what the pipeline reads and where it writes participates. Kind is
    * included so same-name pipelines with identical option maps but
    * different source/sink kinds don't collide.
    *
    * RELOCATION NOTE: the digest basis changed from the FULL sorted option
    * maps to the identity-key subset — a path-less pipeline created under
    * the old scheme resolves to a NEW dir on upgrade and would replay from
    * its startup anchor (duplicate delivery for at-least-once consumers).
    * [[warnIfLegacyStateDir]] probes for the old-digest dir and tells the
    * operator to move it (we warn rather than silently adopt it: silent
    * adoption would resurrect the old scheme's defect, where a tuning edit
    * relocates the checkpoint).
    */
  private[graft] def stateDir(p: PipelineDef): String =
    p.sink.options.get("path")
      .orElse(p.config.get("state-dir"))
      .getOrElse {
        // kafka and delta sinks address by topic / catalog table, not path
        if (p.sink.kind == "kafka" || p.sink.kind == "delta") {
          val identityKeys = Seq("path", "topic", "topic-pattern",
            "properties.bootstrap.servers", "hostname", "port", "database",
            "database-name", "schema-name", "table-name", "tables")
          def identityOf(kind: String, opts: Map[String, String]): Seq[String] =
            s"kind=$kind" +: identityKeys.flatMap(k => opts.get(k).map(v => s"$k=$v"))
          val identity = (identityOf(p.source.kind, p.source.options) ++
            identityOf(p.sink.kind, p.sink.options)).mkString("\n")
          fallbackDir(p.name, identity)
        } else throw new IllegalArgumentException(s"${p.sink.kind} sink needs `path`")
      }

  private def fallbackDir(name: String, identity: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(identity.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft-state/" +
      s"${name.replaceAll("[^A-Za-z0-9._-]", "_")}-$digest"
  }

  /** If a checkpoint dir from the pre-identity digest scheme (full sorted
    * source/sink option maps) exists where the current scheme's does not,
    * warn loudly with both paths: resuming requires the operator to move
    * the old dir, otherwise this run replays from its startup anchor.
    */
  private def warnIfLegacyStateDir(p: PipelineDef, resolved: String): Unit =
    if (p.sink.options.get("path").isEmpty && p.config.get("state-dir").isEmpty &&
        (p.sink.kind == "kafka" || p.sink.kind == "delta")) {
      val legacyIdentity = (p.source.options.toSeq.sorted ++ p.sink.options.toSeq.sorted)
        .map { case (k, v) => s"$k=$v" }.mkString("\n")
      val legacy = fallbackDir(p.name, legacyIdentity)
      if (legacy != resolved && java.nio.file.Files.isDirectory(java.nio.file.Paths.get(legacy))
          && !java.nio.file.Files.exists(java.nio.file.Paths.get(resolved)))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pipeline '${p.name}': found a checkpoint under the LEGACY state-dir scheme at " +
          s"$legacy but none at $resolved — this run will START OVER from its startup anchor " +
          s"(duplicate delivery for at-least-once consumers). To resume instead, stop now and " +
          s"move the old dir: mv '$legacy' '$resolved'")
    }

  /** Build the streaming pipeline + launch the query; factored out so tests
    * can drive it with `Trigger.AvailableNow` instead of awaiting forever.
    * Returns (pipeline, sink, running query). `kafkaWriter` substitutes the
    * Kafka producer, `kafkaReader` the Kafka consumer, for tests / embedded
    * runs (the connector jar ships separately —
    * [[graft.sinks.KafkaChangelogSink]] / [[graft.sources.KafkaSource]] are
    * classpath-guarded).
    */
  def buildStreaming(spark: SparkSession, p: PipelineDef, trigger: Trigger,
                     kafkaWriter: Option[org.apache.spark.sql.DataFrame => Unit] = None,
                     kafkaReader: Option[(SparkSession, Map[String, String]) =>
                       org.apache.spark.sql.DataFrame] = None,
                     sqlRunner: Option[(SparkSession, String) => Unit] = None,
                     /** Failure-injection seam: wraps the sink so crash/replay
                       * tests can kill the driver BETWEEN two tables' writes
                       * of one batch (the composed analog of the sink's own
                       * kill-point specs).
                       */
                     sinkDecorator: Option[graft.sinks.CdcSink => graft.sinks.CdcSink] = None)
      : (StreamingPipeline, graft.sinks.CdcSink,
         org.apache.spark.sql.streaming.StreamingQuery) = {
    val statePath = stateDir(p)
    // a relocated state dir means a pipeline restarting from its startup
    // anchor instead of resuming — make the resolved path visible, and
    // probe for a checkpoint stranded under the pre-identity digest scheme
    org.slf4j.LoggerFactory.getLogger(getClass)
      .warn(s"pipeline '${p.name}' state dir: $statePath")
    warnIfLegacyStateDir(p, statePath)

    // same function surface as the batch composer: parity UDFs, corpus ops,
    // models — usable in streaming transform projections/filters too
    graft.functions.CdcFunctions.register(spark, p.localTimeZone)
    graft.functions.CorpusFunctions.register(spark)
    p.udfs.foreach(u => graft.functions.CdcUdf.fromClasspath(spark, u.classpath, Some(u.name)))
    p.models.foreach(m => graft.functions.AiFunctions.registerModel(spark, m.name, m.options))

    val registry = new SchemaRegistry(SchemaChangeBehavior.of(p.schemaChangeBehavior))
    // no `buckets` (or `buckets: auto`) derives the count from the session's
    // parallelism and the first batch, and pins it in the table's layout meta
    // (scale-adaptive file sizing); an explicit integer >= 1 pins a layout
    // (the sink refuses `buckets: 0`, the removed unbucketed layout)
    val buckets = p.sink.options.getOrElse("buckets", "auto") match {
      case "auto" => ParquetUpsertSink.AutoBuckets
      case n => n.toInt
    }
    val sink0: graft.sinks.CdcSink = p.sink.kind match {
      case "kafka" => new graft.sinks.KafkaChangelogSink(
        p.sink.options.getOrElse("properties.bootstrap.servers",
          throw new IllegalArgumentException(
            "kafka sink needs `properties.bootstrap.servers`")),
        p.sink.options.getOrElse("topic", ""),
        p.sink.options.getOrElse("value.format", "debezium-json"),
        kafkaWriter)
      case "delta" => new graft.sinks.DeltaMergeSink(
        p.sink.options.getOrElse("database", "graft"), sqlRunner)
      case _ => new ParquetUpsertSink(statePath, buckets)
    }
    val sink = sinkDecorator.map(_(sink0)).getOrElse(sink0)
    // monitor + curate blocks fold per micro-batch AFTER the data write
    // (decorators stack); the tuple still returns the inner sink (tests
    // read state through it)
    val sinkMonitored: graft.sinks.CdcSink =
      if (p.monitors.isEmpty) sink
      else new graft.pipeline.QuantileMonitor.MonitorSink(sink, spark, p.monitors)
    val sinkForPipe: graft.sinks.CdcSink =
      if (p.curations.isEmpty) sinkMonitored
      else new graft.pipeline.BudgetCurator.CurateSink(sinkMonitored, spark, p.curations)
    // `dead-letter-dir`: unroutable records (unparseable JSON, missing
    // source ids) quarantine as text under one dir per batch instead of
    // silently dropping — the YAML face of StreamingPipeline.deadLetter.
    // OVERWRITE into the batch-scoped dir: the handler runs at most once per
    // batch, so a crash-replayed batch (same batchId) rewrites rather than
    // duplicates its quarantine — idempotent like the sink writes.
    val deadLetter = p.config.get("dead-letter-dir").map { dlq =>
      (bad: org.apache.spark.sql.DataFrame, batchId: Long) =>
        bad.write.mode("overwrite").text(s"$dlq/batch_$batchId")
    }
    // concurrent per-table writes within a batch (reference: parallelized
    // pipeline, FlinkParallelizedPipelineITCase)
    val pipe = new StreamingPipeline(registry, p.transforms, p.routes, sinkForPipe,
      tableParallelism = p.config.getOrElse("table-parallelism", "4").toInt,
      deadLetter = deadLetter,
      // a retract: true curate block needs the (−before, +after) pair for
      // in-place updates; the CurateSink above strips the UPDATE_BEFORE
      // leg before the materializing sink
      emitUpdateBefore = p.curations.exists(_.retract))

    // source block declares table schemas as `schema.<table-id>: "col TYPE, ..."`
    p.source.options.collect { case (k, v) if k.startsWith("schema.") =>
      val id = TableId.parse(k.stripPrefix("schema."))
      val cols = v.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
        val Array(n, t) = c.split("\\s+", 2); n -> t
      }
      val pks = p.transforms.find(_.selectors.matches(id)).map(_.primaryKeys).getOrElse(Nil)
      val pk = if (pks.nonEmpty) pks else Seq(cols.head._1) // default: first column
      pipe.applySchemaChange(CreateTableEvent(id, CdcSchema.of(cols.toIndexedSeq: _*).copy(primaryKeys = pk)))
    }

    val stream = p.source.kind match {
      case "kafka" =>
        // startup mode pushes down to the broker-side seek inside the
        // connector options — no post-filter on the feed
        graft.sources.KafkaSource.frame(spark, p.source.options, kafkaReader)
      case _ =>
        val inPath = p.source.options.getOrElse("path",
          throw new IllegalArgumentException("debezium-json source needs `path`"))
        // startup mode: lower-bound filter on the raw feed (reference
        // scan.startup.mode). `latest` anchors at the backlog position at
        // FIRST launch and persists the anchor beside the checkpoint — a
        // restart must resume from the stored position, not re-anchor past
        // unprocessed data.
        val mode = graft.sources.StartupOptions.parse(p.source.options)
        def anchoredPosition: Long = {
          val f = java.nio.file.Paths.get(s"$statePath/_startup_position")
          if (java.nio.file.Files.exists(f)) java.nio.file.Files.readString(f).trim.toLong
          else {
            val pos = graft.sources.StartupOptions.filePosition(spark, inPath)
            java.nio.file.Files.createDirectories(f.getParent)
            java.nio.file.Files.writeString(f, pos.toString)
            pos
          }
        }
        graft.sources.StartupOptions(
          spark.readStream.format("text").load(inPath), mode,
          launchPosition = anchoredPosition)
    }
    (pipe, sink, pipe.start(stream, s"$statePath/_checkpoint", trigger))
  }

  private def runStreaming(spark: SparkSession, p: PipelineDef): Unit = {
    // `trigger: available-now` drains the current backlog and exits — the
    // backfill / scheduled-catch-up operating mode (checkpointed, so the
    // next run resumes where this one stopped); the default is the
    // continuous micro-batch loop at `batch-interval`
    val trigger = p.config.get("trigger") match {
      case Some("available-now") => Trigger.AvailableNow()
      case Some(other) => throw new IllegalArgumentException(
        s"unknown pipeline trigger '$other' — supported: available-now " +
          "(omit for the continuous loop at batch-interval)")
      case None =>
        Trigger.ProcessingTime(p.config.getOrElse("batch-interval", "1 second"))
    }
    val (_, _, q) = buildStreaming(spark, p, trigger)
    q.awaitTermination()
  }
}
