package graft.pipeline

import graft.model.TableId
import graft.ops.QuantileSketch
import graft.sinks.BatchCtx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The t-digest distribution monitor as a FIRST-CLASS pipeline asset (the
  * drift/PSI-table discipline): a `monitor:` YAML block declares per-cell
  * quantile sketch tables that every batch folds incrementally —
  * [[QuantileSketch.mergeSketchTables]] per micro-batch, the corpus never
  * re-scanned.
  *
  * ```yaml
  * monitor:
  *   - source-table: corpus.docs     # selector over routed SINK table ids
  *     dims: lang                    # optional cell dims (comma-separated)
  *     value: n_chars                # numeric column to sketch
  *     path: /warehouse/mon/docs     # persisted sketch-table location
  * ```
  *
  * Persistence and delivery are the shared epoch-asset protocol
  * ([[graft.ops.EpochStore.fold]]): effectively-once on the streaming
  * path, at-least-once for ctx-less folds.
  */
final case class MonitorDef(
    sourceTable: String,
    dims: Seq[String],
    value: String,
    path: String,
    compression: Int = 100) {
  // reserved names collide with the sketch table's own column ("sketch")
  // or monitor-show's generated render columns (n_obs/q/est) — refuse at definition time, not with an
  // ambiguous-column AnalysisException at fold or render time
  MonitorDef.reserved.intersect(dims.toSet).toSeq.sorted match {
    case Seq() => ()
    case bad => throw new IllegalArgumentException(
      s"monitor dims ${bad.mkString(", ")} are reserved column names " +
        s"(${MonitorDef.reserved.toSeq.sorted.mkString(", ")}) — rename the dims")
  }
  lazy val selectors: graft.model.Selectors = graft.model.Selectors.parse(sourceTable)
}

object MonitorDef {
  /** The columns `Cli.monitorShow` generates per render row — defined ONCE
    * so the definition-time reservation and the render-time clash check on
    * foreign tables cannot drift apart when a render column is added.
    */
  private[graft] val renderCols: Set[String] = Set("n_obs", "q", "est")
  private[pipeline] val reserved: Set[String] = Set("sketch") ++ renderCols
}

object QuantileMonitor {

  /** Read the live sketch table (loud error if never folded). */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.ops.EpochStore.read(spark, path, "sketch table")

  /** Fold one batch slice of sink table `id` into every matching monitor:
    * per-cell digests of the batch merged with the live epoch
    * ([[graft.ops.EpochStore.fold]]). Rows are the batch's post-images
    * (DELETE rows carry no new value observation).
    */
  def fold(spark: SparkSession, id: TableId, batch: DataFrame,
           monitors: Seq[MonitorDef], ctx: Option[BatchCtx] = None): Unit =
    monitors.filter(_.selectors.matches(id)).foreach { m =>
      require((m.dims :+ m.value).forall(batch.columns.contains),
        s"monitor at ${m.path}: table $id lacks ${(m.dims :+ m.value).mkString(",")}")
      graft.ops.EpochStore.fold(spark, m.path, ctx) { live =>
        val sk = QuantileSketch.buildSketches(
          batch.select(m.dims.map(col) :+ col(m.value): _*), m.dims, m.value,
          m.compression)
        live.fold(sk)(QuantileSketch.mergeSketchTables(_, sk, m.dims, m.compression))
      }
    }
}
