package graft.pipeline

import graft.functions.{AiFunctions, CdcUdf, FunctionCatalog}
import graft.model.TableId
import graft.operators.{SchemaDerivator, TableIdRouter, Transform}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File

/** Batch pipeline composer: PipelineDef → executed DataFrame job.
  *
  * The Spark analog of `FlinkPipelineComposer.translate`
  * (flink-cdc-composer/.../flink/FlinkPipelineComposer.java:114-261), whose
  * topology Source → PreTransform → PostTransform → Schema → PrePartition →
  * Sink maps here to: read → (Catalyst column pruning) → transform rule →
  * route → N→1 schema merge-union → sink. The reference's BATCH runtime mode
  * (FlinkPipelineComposer.java:120-127) is this exact code path; streaming
  * wraps the same per-batch logic in foreachBatch.
  */
object Composer {

  /** Source tables for a parquet-directory source: one table per file. The
    * schema-name part of the TableId comes from `schemaName` when given
    * (source option `schema-name`), else the source directory's basename —
    * like the reference's schema discovery naming tables after their upstream
    * schema, never a fixed literal.
    */
  def discoverTables(dir: String, schemaName: Option[String] = None): Seq[(TableId, String)] = {
    val d = new File(dir)
    val schema = schemaName.filter(_.nonEmpty).getOrElse(d.getName)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
    files.toSeq.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => TableId.of(schema, f.getName.stripSuffix(".parquet")) -> f.getAbsolutePath)
  }

  /** The SQL names a pipeline's expressions resolve against, on a session
    * the caller may have built: the built-in catalog (installed once per
    * session) plus the pipeline's own `user-defined-function:` and `model:`
    * blocks. Refuses a pipeline whose `local-time-zone` (default UTC) is not
    * the session's zone: the `CDC_*` functions and timestamp casts run in the
    * session zone, so the pipeline's would be silently ignored.
    */
  def bindFunctions(spark: SparkSession, p: PipelineDef): Unit = {
    val session = spark.conf.get("spark.sql.session.timeZone")
    def zone(id: String) = java.time.ZoneId.of(id, java.time.ZoneId.SHORT_IDS).normalized
    require(zone(p.localTimeZone) == zone(session),
      s"pipeline '${p.name}' sets local-time-zone ${p.localTimeZone} but its session runs in " +
        s"$session (spark.sql.session.timeZone): build the session in the pipeline's zone, " +
        "as graft.Cli does")
    FunctionCatalog.install(spark)
    p.udfs.foreach(u => CdcUdf.fromClasspath(spark, u.classpath, Some(u.name)))
    p.models.foreach(m => AiFunctions.registerModel(spark, m.name, m.options))
  }

  /** Run a batch pipeline; returns final materialized frames per sink table. */
  def composeBatch(spark: SparkSession, p: PipelineDef): Map[TableId, DataFrame] = {
    bindFunctions(spark, p)

    val dir = p.source.options.getOrElse("path",
      throw new IllegalArgumentException("parquet source needs `path`"))
    val included = p.source.options.get("tables").map(Selectors0.parse)

    val router = new TableIdRouter(p.routes)

    // per source table: scan → transform; then group by routed sink table
    val transformed: Seq[(TableId, DataFrame)] = for {
      (tableId, path) <- discoverTables(dir, p.source.options.get("schema-name"))
      if included.forall(_.matches(tableId))
    } yield {
      val df = spark.read.parquet(path)
      tableId -> Transform.applyRules(df, tableId, p.transforms)
    }

    // route fan-out/fan-in, then widest-schema merge per sink table (§2.6)
    transformed
      .flatMap { case (src, df) => router.route(src).map(_ -> df) }
      .groupBy(_._1)
      .map { case (sink, frames) => sink -> SchemaDerivator.mergeUnion(frames.map(_._2)) }
  }

  private object Selectors0 { // tiny alias to avoid importing into the public surface
    def parse(s: String): graft.model.Selectors = graft.model.Selectors.parse(s)
  }
}
