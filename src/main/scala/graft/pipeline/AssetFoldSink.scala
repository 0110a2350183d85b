package graft.pipeline

import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.operators.Changelog
import graft.sinks.{BatchCtx, CdcSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Sink decorator for the streaming path's epoch assets: the data write
  * first (the inner sink's own exactly-once protocol — a failed write
  * advances no asset), then the effectively-once folds under the write's
  * provenance ([[graft.ops.EpochStore.fold]]): the `monitor:` blocks over
  * the batch's post-images, the `curate:` blocks over the FULL changelog
  * ([[BudgetCurator.fold]] applies each block's delete policy).
  * UPDATE_BEFORE retraction rows are for the curate fold ONLY: they are
  * stripped before the inner sink and the monitors, because their
  * (key, seq) collides with the paired after-image row and would make the
  * sink's per-key `max_by(…, seq)` materialization nondeterministic.
  */
final class AssetFoldSink(inner: CdcSink, spark: SparkSession,
                          monitors: Seq[MonitorDef],
                          curations: Seq[CurateDef]) extends CdcSink {
  override def applySchemaChange(e: SchemaChangeEvent): Unit =
    inner.applySchemaChange(e)
  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit =
    writeBatch(id, changelog, schema, None)
  override def writeBatch(id: TableId, changelog: DataFrame, schema: CdcSchema,
                          ctx: Option[BatchCtx]): Unit = {
    val forSink =
      if (changelog.columns.contains(Changelog.OpCol))
        changelog.where(col(Changelog.OpCol) =!= Changelog.UpdateBeforeOp)
      else changelog
    inner.writeBatch(id, forSink, schema, ctx)
    if (monitors.nonEmpty)
      QuantileMonitor.fold(spark, id,
        forSink.where(col(Changelog.OpCol) =!= "DELETE"), monitors, ctx)
    BudgetCurator.fold(spark, id, changelog, curations, ctx)
  }
}
