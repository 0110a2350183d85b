package graft.ops

import org.apache.spark.sql.DataFrame

/** Spread a COMPACT input across the session's full parallelism before
  * CPU-heavy per-row work (guide §2.5: an unsplittable input — here the
  * driver's single-row-group parquet fixtures, whose scans cannot split
  * below one row group no matter how small `maxPartitionBytes` goes — is
  * repartitioned immediately after the read so codegen chains above it
  * run on every core instead of serializing inside one scan task).
  *
  * Generalized from the r18 `Ivf.spread` fix (sf1 knn A/B 14.3 → 5.9 s,
  * bit-identical results), with the same two guards:
  *
  *  - 100 TB no-op: an input already carrying at least the session's
  *    parallelism is returned UNTOUCHED — a large table with thousands of
  *    scan partitions must never collapse through one round-robin
  *    exchange. At scale the guard always holds, so the exchange this
  *    helper inserts is a small-fixture accelerator, not a plan tax.
  *  - Probe safety under AQE: `Dataset.rdd` on a plan CONTAINING
  *    exchanges eagerly submits the shuffle map-stage jobs
  *    (`AdaptiveSparkPlanExec.getFinalPhysicalPlan`) and that work is
  *    then discarded. The partition probe therefore runs only on
  *    scan-shaped plans (every node narrow, no subqueries), where it is
  *    one plan compile and zero jobs; anything wider is judged by its
  *    static shuffle width instead. IvfSpec pins the zero-jobs contract.
  *
  * Row-level results are unchanged (a round-robin exchange permutes row
  * order only); callers whose downstream depends on row ORDER rather than
  * row SET must not spread.
  */
object Spread {

  /** Session kill-switch (`spark.graft.spread`, default on): lets an
    * operator A/B the exchange in ONE JVM (the r18 alternating-run
    * discipline) and gives deployments whose inputs are always wide a
    * zero-probe opt-out.
    */
  val ConfKey = "spark.graft.spread"

  /** Probe result per analyzed plan (r20, advisor note): `optimizedPlan` is
    * an analyze+optimize pass and the scan-shaped `.rdd` a physical compile —
    * recurring driver overhead when a hot caller (per-micro-batch wire
    * encodes, the bench's repeated query builds) re-probes an identical
    * plan. Weak structural keys: equal plans share one probe, and entries
    * die with their plans instead of growing per batch. The key is the
    * ANALYZED plan: an unresolved `spark.table("v")` is the same before and
    * after `v` is re-registered over other data, and would serve the old
    * view's probe. The conf toggle and the session parallelism are
    * deliberately NOT cached — the A/B kill-switch must keep working
    * mid-session.
    */
  private final case class Probe(scanShaped: Boolean, scanParts: Int)
  private val probeCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Probe]())

  def across(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // a streaming side has no .rdd before execution — it keeps its source
    // partitioning (micro-batch sizing is the stream's own lever)
    if (df.isStreaming) return df
    if (!df.sparkSession.conf.get(ConfKey, "true").toBoolean) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    val key = df.queryExecution.analyzed
    var probe = probeCache.get(key)
    if (probe == null) {
      val scanShaped = !df.queryExecution.optimizedPlan.exists {
        case n if n.subqueries.nonEmpty => true
        case _: LeafNode | _: Project | _: Filter | _: Generate |
             _: SubqueryAlias | _: Union | _: Sample | _: Expand |
             _: SerializeFromObject | _: DeserializeToObject |
             _: MapElements | _: TypedFilter => false
        case _ => true
      }
      probe = Probe(scanShaped, if (scanShaped) df.rdd.getNumPartitions else -1)
      probeCache.put(key, probe)
    }
    if (probe.scanShaped) {
      if (probe.scanParts < p) df.repartition(p) else df
    } else {
      val width = scala.util.Try(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(p)
      if (width < p) df.repartition(p) else df
    }
  }
}
