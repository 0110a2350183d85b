package graft.pipeline

import graft.model.TableId
import graft.operators.Changelog
import graft.ops.Sampling
import graft.sinks.BatchCtx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Token-budget corpus curation as a FIRST-CLASS pipeline asset — the
  * `monitor:` discipline ([[QuantileMonitor]]) applied to the curation
  * tier: a `curate:` YAML block declares a persisted budget-histogram
  * asset ([[Sampling.appendBudgetHistogram]]) that every STREAMING
  * micro-batch folds incrementally — each batch scans only ITSELF, the
  * accumulated corpus is never re-scanned — while the BATCH composer
  * REBUILDS it per run ([[rebuild]]: a one-shot run re-materializes the
  * complete table, so re-running is idempotent on the asset), and
  * `graft.Cli budget-select <pipeline.yaml>
  * <table-id> <budget>` runs [[Sampling.tokenBudgetSelectFromStats]] off
  * the maintained asset against the sink's materialized table, so
  * operators drive "the best docs that fit B tokens" without writing
  * Scala. This exposes the curation operators through the reference's
  * primary entry point (the YAML pipeline —
  * flink-cdc-cli/.../CliFrontend.java:66-81 runs `pipeline.yaml`; our
  * `monitor:` blocks are the precedent for engine-side extensions).
  *
  * ```yaml
  * curate:
  *   - source-table: corpus.docs          # selector over routed SINK ids
  *     id-column: doc_id
  *     score: "CAST(n_chars AS DOUBLE) / tok"   # any SQL expression
  *     tokens: tok                         # SQL expression → BIGINT
  *     path: /warehouse/curate/docs        # persisted histogram asset
  *     lo: 0.0                             # declared score range (pinned)
  *     hi: 64.0
  *     bins: 4096                          # optional
  *     retract: true                       # optional: deletes retract
  * ```
  *
  * Persistence and delivery are the shared epoch-asset protocol
  * ([[graft.ops.EpochStore.fold]]): effectively-once on the streaming
  * path; batch-composer maintenance REBUILDS per run and is idempotent.
  * Delete policy per block: by default the histogram is GROW-ONLY
  * (DELETE rows carry no observation — the asset describes everything
  * ever offered, the operating mode of append-shaped corpora); with
  * `retract: true`
  * DELETE rows fold as exact negations of the offers they retract (the
  * CDC before-image carries the original columns), so the asset tracks
  * the SURVIVING table and takedown/GDPR-delete flows keep selection
  * exact — see [[fold]] for the in-place-update caveat.
  */
final case class CurateDef(
    sourceTable: String,
    idColumn: String,
    score: String,
    tokens: String,
    path: String,
    lo: Double,
    hi: Double,
    bins: Int = 4096,
    retract: Boolean = false) {
  // refuse at definition time, not with an appendBudgetHistogram error
  // mid-batch (the MonitorDef stance)
  require(hi > lo, s"curate block at $path needs hi > lo: [$lo, $hi]")
  require(bins >= 1, s"curate block at $path needs bins >= 1: $bins")
  lazy val selectors: graft.model.Selectors = graft.model.Selectors.parse(sourceTable)
}

object BudgetCurator {

  /** Fold one batch's CHANGELOG slice of sink table `id` into every
    * matching curate asset under the block's declared (lo, hi, bins) — a
    * mismatch against an existing asset refuses loudly (the declaration
    * is pinned at creation). Two per-block modes:
    *
    *  - default (grow-only): post-images fold positively, DELETE rows
    *    carry no observation — the asset describes everything ever
    *    offered.
    *  - `retract: true`: DELETE and UPDATE_BEFORE rows fold as the
    *    NEGATION of the offer they retract ([[Sampling.appendBudgetDeltas]]
    *    — per-bin sums are a commutative group). The CDC before-image
    *    carries the row's original columns, so the score/tokens
    *    expressions recompute exactly what the superseded image
    *    contributed and the histogram tracks the SURVIVING table:
    *    takedown/GDPR-delete flows keep `budget-select` exact.
    *    Key-changing updates arrive as a DELETE+UPDATE pair and IN-PLACE
    *    updates as an UPDATE_BEFORE+UPDATE pair
    *    ([[graft.sources.DebeziumJson.parse]] with `emitUpdateBefore`,
    *    which [[graft.Cli.buildStreaming]] enables whenever a retract
    *    block is declared), so BOTH update shapes fold `(−before,
    *    +after)` exactly. The remaining drift caveat is genuinely
    *    unpaired retractions (a feed without before-images, or a DELETE
    *    whose before-image mismatches the offer) — net-negative bins are
    *    the loud symptom there.
    *
    * With a [[BatchCtx]], a crash-replayed (batchId, leg) is skipped —
    * effectively-once, zero coupling to the sink's commit.
    */
  def fold(spark: SparkSession, id: TableId, changelog: DataFrame,
           curations: Seq[CurateDef], ctx: Option[BatchCtx] = None): Unit =
    curations.filter(_.selectors.matches(id)).foreach { c =>
      if (c.retract) {
        require(changelog.columns.contains(Changelog.OpCol),
          s"curate block at ${c.path} declares retract but the batch for " +
            s"$id carries no ${Changelog.OpCol} changelog column")
        Sampling.appendBudgetDeltas(changelog, expr(c.score),
          when(col(Changelog.OpCol).isin("DELETE", Changelog.UpdateBeforeOp),
              -expr(c.tokens).cast("long"))
            .otherwise(expr(c.tokens).cast("long")),
          c.path, c.lo, c.hi, c.bins, ctx)
      } else {
        // an UPDATE_BEFORE is the superseded image, not a new offer — a
        // grow-only block sharing a pipeline with a retract block (which
        // turns the pair emission on globally) must not double-count
        val offered =
          if (changelog.columns.contains(Changelog.OpCol))
            changelog.where(!col(Changelog.OpCol)
              .isin("DELETE", Changelog.UpdateBeforeOp))
          else changelog
        Sampling.appendBudgetHistogram(offered, expr(c.score), expr(c.tokens),
          c.path, c.lo, c.hi, c.bins, ctx)
      }
    }

  /** The BATCH composer's maintenance: REPLACE the asset with this run's
    * histogram ([[Sampling.rebuildBudgetHistogram]]) — a one-shot run
    * re-materializes the complete sink table, so accumulating (the
    * streaming semantics, where each micro-batch IS new data) would
    * double-count every prior run on a re-run and silently corrupt later
    * selections' seed arithmetic. Re-running the same pipeline is
    * idempotent on the asset by construction.
    */
  def rebuild(spark: SparkSession, id: TableId, table: DataFrame,
              curations: Seq[CurateDef]): Unit =
    curations.filter(_.selectors.matches(id)).foreach { c =>
      Sampling.rebuildBudgetHistogram(table, expr(c.score), expr(c.tokens),
        c.path, c.lo, c.hi, c.bins)
    }

  /** The read surface: the maximal budget prefix over the sink's
    * MATERIALIZED table, with the cutoff resolved off the maintained
    * histogram asset — no range scan, no histogram scan of the corpus;
    * the corpus pays one binned filter plus the one bin-local window
    * ([[Sampling.tokenBudgetSelectFromStats]]'s contract).
    */
  def select(spark: SparkSession, p: PipelineDef, tableId: String,
             budget: Long): DataFrame = {
    val id = TableId.parse(tableId)
    val c = p.curations.find(_.selectors.matches(id)).getOrElse(
      throw new IllegalArgumentException(
        s"no curate block matches table $tableId (have: " +
          s"${p.curations.map(_.sourceTable).mkString(", ")})"))
    Sampling.tokenBudgetSelectFromStats(materializedTable(spark, p, id),
      c.idColumn, expr(c.score), expr(c.tokens), c.path, budget)
  }

  /** Drift audit (`graft.Cli curate-check`): compare the maintained
    * asset's total token mass against the materialized table's — equal
    * when every offer and retraction folded exactly (a batch rebuild, or
    * streaming `retract: true` over a feed with before-images); a
    * mismatch is the MECHANICAL symptom of the drift modes that are
    * otherwise silent: a feed without before-images, a grow-only asset
    * over a table with deletes, a DELETE whose before-image mismatches
    * its offer, or mixed maintainers on one path. The table leg
    * replicates the fold's row filter exactly: null score/tokens rows
    * are never offered, and the UNSIGNED fold (batch rebuild, grow-only
    * streaming) additionally drops negative-token rows — the signed
    * retract fold keeps them (they are deltas), so the filter follows
    * the block's mode. One bounded asset read + ONE aggregation scan
    * of the table — never a selection, never a window; scan-bound at
    * 100 TB and far cheaper than the re-selection a drifted asset would
    * silently corrupt.
    */
  def check(spark: SparkSession, p: PipelineDef, tableId: String): DataFrame = {
    val id = TableId.parse(tableId)
    val c = p.curations.find(_.selectors.matches(id)).getOrElse(
      throw new IllegalArgumentException(
        s"no curate block matches table $tableId (have: " +
          s"${p.curations.map(_.sourceTable).mkString(", ")})"))
    val assetToks = graft.ops.EpochStore.currentEpoch(spark, c.path)
      .map(dir => spark.read.parquet(dir)
        .agg(coalesce(sum("toks"), lit(0L))).head().getLong(0))
      .getOrElse(0L)
    val offered = materializedTable(spark, p, id)
      .where(expr(c.score).isNotNull && expr(c.tokens).isNotNull)
    val tableToks = (if (c.retract) offered
        else offered.where(expr(c.tokens).cast("long") >= 0))
      .agg(coalesce(sum(expr(c.tokens).cast("long")), lit(0L)))
      .head().getLong(0)
    import spark.implicits._
    Seq((assetToks, tableToks, assetToks == tableToks))
      .toDF("asset_tokens", "table_tokens", "consistent")
  }

  /** Where the pipeline's sink materialized `id`: the parquet sink's table
    * dir, or the parquet-upsert sink's maintained state (read through the
    * sink so a crashed bucket swap is recovered first). A `values` sink
    * materializes nothing — selection refuses rather than re-running the
    * pipeline's lineage behind the operator's back. Shared with every
    * pipeline read surface over sink tables ([[CorpusSplitter.select]]).
    */
  private[pipeline] def materializedTable(spark: SparkSession, p: PipelineDef,
                                          id: TableId): DataFrame = p.sink.kind match {
    case "parquet" =>
      val out = p.sink.options.getOrElse("path",
        throw new IllegalArgumentException("parquet sink needs `path`"))
      spark.read.parquet(s"$out/${id.identifier.replace('.', '_')}")
    case "values" => throw new IllegalArgumentException(
      "selection needs a materializing sink (parquet/parquet-upsert); " +
        "the values sink keeps no table to select from")
    case _ =>
      new graft.sinks.ParquetUpsertSink(graft.Cli.stateDir(p)).read(spark, id)
  }
}
