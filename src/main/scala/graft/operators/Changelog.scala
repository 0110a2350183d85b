package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Changelog-envelope helpers: the Spark-native shape of the reference's
  * `DataStream<Event>` (SURVEY.md §1.1, §7.1).
  *
  * Envelope columns: `__op` (INSERT/UPDATE/REPLACE/DELETE), `__seq` (source
  * offset, monotone per key) + the table's payload columns ("after" image).
  */
object Changelog {
  val OpCol = "__op"
  val SeqCol = "__seq"

  /** Retraction leg of an in-place UPDATE — the Flink `-U` row kind: the
    * before-image emitted as its own changelog row so retraction-folding
    * consumers ([[graft.pipeline.BudgetCurator]] `retract: true`) can
    * negate exactly what the superseded image contributed. NEVER reaches
    * a sink's materialization (the AssetFoldSink decorator strips it before
    * delegating): its (key, seq) pair collides with its paired
    * after-image row, which would make a per-key `max_by(…, seq)`
    * nondeterministic. Emitted only when
    * [[graft.sources.DebeziumJson.parse]] runs with
    * `emitUpdateBefore = true`.
    */
  val UpdateBeforeOp = "UPDATE_BEFORE"

  /** Wrap a plain batch DataFrame as an insert-only changelog (snapshot load). */
  def fromSnapshot(df: DataFrame, seq: Column): DataFrame =
    df.withColumn(OpCol, lit("INSERT")).withColumn(SeqCol, seq)

  /** Materialize the changelog into final table state: per primary key keep
    * the payload of the highest `__seq`, then drop keys whose last op is DELETE.
    *
    * This is the reference's `ValuesDatabase` semantics
    * (flink-cdc-pipeline-connector-values/.../ValuesDatabase.java:236-377) and
    * the dedup the DSQL sink relies on before upsert.
    *
    * Scale note: implemented as `groupBy(pk).agg(max_by(struct(*), seq))` — a
    * single hash aggregation with map-side partial aggregation. This beats the
    * classic `row_number() OVER (PARTITION BY pk ORDER BY seq DESC) = 1`
    * formulation, which shuffles the SAME data but then SORTS every partition;
    * max_by needs no sort and its partial aggregation collapses hot keys
    * before the shuffle (each map task emits one row per key, so a key with
    * 10k updates ships once per task — this is what makes it survive 100 TB
    * changelogs with skewed keys).
    */
  def materialize(changelog: DataFrame, pkCols: Seq[String]): DataFrame =
    lastImage(changelog, pkCols).where(col(OpCol) =!= "DELETE").drop(OpCol)

  /** Per-PK last event INCLUDING delete markers — the reduced frame a
    * MERGE-shaped sink feeds its WHEN MATCHED / NOT MATCHED branches
    * (MERGE requires unique source keys, so the within-batch reduction is
    * mandatory, not an optimization). The one last-image kernel:
    * [[materialize]] is this plus the DELETE filter (Catalyst pushes it
    * below the projection, onto the aggregate) — the sink's DELETE branch
    * needs the marker row.
    */
  def lastImage(changelog: DataFrame, pkCols: Seq[String]): DataFrame = {
    val payloadCols = changelog.columns.filterNot(c => c == OpCol || c == SeqCol || pkCols.contains(c))
    changelog
      .groupBy(pkCols.map(col): _*)
      .agg(max_by(struct((payloadCols.map(col) :+ col(OpCol)).toSeq: _*), col(SeqCol)).as("__last"))
      .select((pkCols.map(col) ++ payloadCols.map(c => col(s"__last.$c").as(c))
        :+ col(s"__last.$OpCol").as(OpCol)).toSeq: _*)
  }

  /** SOFT_DELETE converter (runtime/operators/transform/converter/
    * SoftDeleteConverter.java:27): DELETE events become data rows flagged
    * `__deleted = true` instead of removing state.
    */
  def softDelete(changelog: DataFrame): DataFrame =
    changelog
      .withColumn("__deleted", col(OpCol) === "DELETE")
      .withColumn(OpCol, when(col(OpCol) === "DELETE", lit("UPDATE")).otherwise(col(OpCol)))

  /** SCD2-style history materialization: every non-DELETE change event
    * becomes a validity interval — `valid_from` is its own `__seq`,
    * `valid_to` the next event's `__seq` for the same key (NULL = still
    * current). A DELETE closes the preceding interval (its seq becomes
    * that row's `valid_to`) without opening one. The temporal-table
    * counterpart of [[materialize]]: state WITH its history, the audit/
    * as-of-query shape a CDC consumer materializes next to the live table.
    *
    * Scale note: one window per key ordered by `__seq` — the same single
    * hash-shuffle as [[materialize]], plus a per-key sort (inherent: the
    * interval chain is an order statistic, unlike last-image's max_by).
    */
  def history(changelog: DataFrame, pkCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pkCols.map(col): _*).orderBy(col(SeqCol))
    // lead() runs over ALL events (deletes included) so a delete closes its
    // predecessor; the delete row itself carries no image and is dropped
    // AFTER the window (op is not a window partition key, so Catalyst
    // cannot push the filter below it)
    changelog
      .withColumn("valid_to", lead(col(SeqCol), 1).over(w))
      .where(col(OpCol) =!= "DELETE")
      .withColumnRenamed(SeqCol, "valid_from")
      .drop(OpCol)
  }

  /** Time travel over a [[history]] table: the state as of offset `seq` —
    * rows whose interval covers it. `asOf(history(ch), maxSeq)` equals
    * `materialize(ch)`; at a PERSISTED history table this is a pruned scan
    * (partition/z-order the table by `valid_from`), not a changelog replay.
    */
  def asOf(history: DataFrame, seq: Long): DataFrame =
    history
      .where(col("valid_from") <= seq &&
        (col("valid_to").isNull || col("valid_to") > seq))
      .drop("valid_from", "valid_to")

  /** Incremental SCD2 maintenance: fold a NEW changelog batch into an
    * existing [[history]] table without replaying old changelogs — the
    * steady-state a CDC deployment actually runs (the full [[history]]
    * recompute is the bootstrap). Every open interval of a key the batch
    * touches closes at the batch's FIRST event for that key (any event —
    * update or delete — supersedes it, exactly like the full recompute's
    * `lead()` across the boundary), and the batch's own intervals append.
    * By construction `mergeHistory(history(old), new) == history(old ∪
    * new)` whenever the batch's seqs are strictly after the existing
    * table's (the CDC ingest contract); the oracle query checks precisely
    * that equality.
    *
    * Scale shape: the close pass is a LEFT join of the history table
    * against the batch's per-key min-seq — batch keys are micro-batch
    * bounded, so it broadcasts and the history table is never shuffled;
    * the append is [[history]] on the batch alone (one micro-batch-sized
    * window). On a PERSISTED history table partitioned by a
    * `valid_to IS NULL` current-flag, only current-partition files are
    * ever rewritten — closed history is immutable.
    */
  def mergeHistory(existing: DataFrame, batch: DataFrame, pkCols: Seq[String]): DataFrame = {
    val firstSeq = batch.groupBy(pkCols.map(col): _*)
      .agg(min(col(SeqCol)).as("__first_seq"))
    val closed = existing
      .join(org.apache.spark.sql.functions.broadcast(firstSeq), pkCols, "left")
      .withColumn("valid_to",
        when(col("valid_to").isNull && col("__first_seq").isNotNull, col("__first_seq"))
          .otherwise(col("valid_to")))
      .drop("__first_seq")
    closed.unionByName(history(batch, pkCols))
  }

  /** Temporal table join (Flink's `FOR SYSTEM_TIME AS OF` /
    * temporal-table-function join, the CDC ecosystem's point-in-time
    * enrichment): join each probe row against the version of the
    * dimension that was CURRENT at the probe's own time — i.e. the
    * [[history]] interval covering `atCol`. Unlike [[asOf]] (one global
    * time for the whole query), every row carries its own as-of point:
    * the shape a training-data pipeline needs to avoid feature leakage
    * (each example sees the feature value as of ITS event time, never a
    * later one).
    *
    * Scale shape: one equi-key shuffle join with the interval cover as a
    * codegen'd residual predicate — each probe matches AT MOST ONE
    * interval (history intervals per key are disjoint by construction),
    * so there is no row amplification and no post-join dedup. Probes
    * whose time precedes the key's first version (or falls in a deleted
    * gap) survive with null dimension columns (left outer): silently
    * dropping them would bias the downstream sample. At a persisted
    * history table bucketed by the key, the join is exchange-free on the
    * history side.
    *
    * Reference anchor: Flink's temporal join operator
    * (flink-cdc's transform pipelines route through Flink SQL, where
    * `FOR SYSTEM_TIME AS OF` is the lookup-enrichment primitive); here
    * the history table IS the Spark-materialized SCD2 relation, so the
    * join is pure Catalyst.
    */
  def temporalJoin(probes: DataFrame, history: DataFrame, pkCols: Seq[String],
                   atCol: Column): DataFrame = {
    val keyPairs = pkCols.map(k => k -> s"__h_$k")
    val h = keyPairs.foldLeft(
      history.withColumnRenamed("valid_from", "__vf")
        .withColumnRenamed("valid_to", "__vt")) {
      case (df, (k, rk)) => df.withColumnRenamed(k, rk)
    }
    val cond = keyPairs.map { case (k, rk) => col(k) === col(rk) }
      .reduce(_ && _) && col("__vf") <= atCol &&
      (col("__vt").isNull || col("__vt") > atCol)
    probes.join(h, cond, "left_outer")
      .drop((keyPairs.map(_._2) :+ "__vf" :+ "__vt"): _*)
  }

  /** Bootstrap an additive aggregate view over a materialized state: per
    * `dimCols` group, live-row count plus DECIMAL(38,6) sums of `sumCols`.
    *
    * DECIMAL is load-bearing, not cosmetic: [[mergeAggregate]] maintains
    * this view by RETRACTION (+new image / −old image), and a group whose
    * rows all leave must return to an EXACT zero so the group can be
    * dropped. Double sums drift by summation order; decimal sums of the
    * same multiset cancel bit-exactly whatever the partitioning. Count and
    * sum (and anything derived from them — avg, ratios) are the measures
    * retraction can maintain; min/max are deliberately excluded: a deleted
    * extremum forces a re-scan of the group's base rows, which is a
    * different operator (recompute over the pruned group), not a delta
    * fold.
    */
  def aggregate(state: DataFrame, dimCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    val sums = sumCols.map(c =>
      sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 6))).as(s"sum_$c"))
    state.groupBy(dimCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sums: _*)
  }

  /** Incremental aggregate-view maintenance: fold a changelog micro-batch
    * into an existing [[aggregate]] view without touching untouched base
    * rows — the materialized-view counterpart of [[mergeHistory]]. For each
    * key the batch touches, the key's OLD image (looked up in `state`, the
    * maintained base table) is retracted (−1, −value) and its batch-final
    * image inserted (+1, +value) unless that final op is DELETE. Groups
    * whose count reaches zero vanish, exactly as a recompute would drop
    * them. By construction `mergeAggregate(aggregate(materialize(old)),
    * materialize(old), batch) == aggregate(materialize(old ∪ batch))`
    * whenever the batch's seqs are strictly after the existing state's
    * (the CDC ingest contract — same precondition as [[mergeHistory]]).
    *
    * Scale shape: the batch reduces to per-key last images
    * ([[lastImage]], micro-batch bounded); `state` is only LEFT SEMI
    * joined against that broadcast key set — the 100 TB base table is
    * never shuffled and only touched keys' rows ride further; the delta
    * aggregates to at most 2×|batch keys| group rows and applies to the
    * view via one dim-aligned full-outer join — at a view PERSISTED
    * bucketed by its dims that join is exchange-free, so the steady-state
    * cost per micro-batch is O(batch), independent of base-table size.
    * Dim alignment uses SQL equality (a NULL dim never matches itself);
    * normalize null dims before aggregating if they must group.
    *
    * Reference anchor: the DSQL sink's per-batch upsert reduction
    * (flink-cdc-connect/.../DsqlBatchSinkFunction) maintains BASE state
    * incrementally; this extends the same delta discipline one level up,
    * to derived aggregates.
    */
  def mergeAggregate(aggView: DataFrame, state: DataFrame, batch: DataFrame,
                     pkCols: Seq[String], dimCols: Seq[String],
                     sumCols: Seq[String]): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val last = lastImage(batch, pkCols)
    val touchedKeys = last.select(pkCols.map(col): _*).distinct()
    val olds = state.join(
      org.apache.spark.sql.functions.broadcast(touchedKeys), pkCols, "left_semi")
    def contrib(df: DataFrame, sign: Int): DataFrame =
      df.select((dimCols.map(col)
        :+ lit(sign.toLong).as("d_cnt"))
        ++ sumCols.map(c => (col(c).cast(dec) * sign).cast(dec).as(s"d_sum_$c")): _*)
    val delta = contrib(olds, -1)
      .unionByName(contrib(last.where(col(OpCol) =!= "DELETE"), 1))
      .groupBy(dimCols.map(col): _*)
      .agg(sum(col("d_cnt")).as("d_cnt"),
        sumCols.map(c => sum(col(s"d_sum_$c")).cast(dec).as(s"d_sum_$c")): _*)
    aggView.join(delta, dimCols, "full_outer")
      .select((dimCols.map(col)
        :+ (coalesce(col("cnt"), lit(0L)) + coalesce(col("d_cnt"), lit(0L))).as("cnt"))
        ++ sumCols.map(c =>
          (coalesce(col(s"sum_$c"), lit(0).cast(dec))
            + coalesce(col(s"d_sum_$c"), lit(0).cast(dec))).cast(dec).as(s"sum_$c")): _*)
      .where(col("cnt") > 0)
  }

  /** Secondary-index maintenance: a persisted (indexed-value → PK) lookup
    * table over a NON-key column, kept fresh under a changelog
    * micro-batch without a rebuild — the lakehouse analog of a database
    * secondary index, and the third member of the incremental-maintenance
    * family ([[mergeHistory]] for history, [[mergeAggregate]] for
    * aggregates, this for lookups). Touched keys' old entries drop via a
    * LEFT ANTI join against the batch's key set; their batch-final
    * entries append unless the final op is DELETE.
    *
    * Scale shape: the batch key set is micro-batch bounded and
    * BROADCASTS into the anti join — the index table is never shuffled;
    * the appended rows are batch-bounded. At an index PERSISTED
    * partitioned/bucketed by the indexed value, point lookups prune at
    * the file listing while maintenance cost stays O(batch).
    */
  def mergeIndex(index: DataFrame, batch: DataFrame, pkCols: Seq[String],
                 valueCols: Seq[String]): DataFrame = {
    val last = lastImage(batch, pkCols)
    val kept = index.join(
      org.apache.spark.sql.functions.broadcast(
        last.select(pkCols.map(col): _*).distinct()),
      pkCols, "left_anti")
    kept.unionByName(
        last.where(col(OpCol) =!= "DELETE")
          .select((valueCols ++ pkCols).map(col): _*))
      // using-column joins reorder keys first; pin the index schema order
      .select((valueCols ++ pkCols).map(col): _*)
  }

  /** Bootstrap the [[mergeIndex]] table from a materialized state. */
  def index(state: DataFrame, pkCols: Seq[String], valueCols: Seq[String]): DataFrame =
    state.select((valueCols ++ pkCols).map(col): _*)

  /** Snapshot diff — the INVERSE of [[materialize]]: derive the changelog
    * BETWEEN two table states. The CDC fallback when no binlog/WAL feed
    * exists (full-refresh sources, the reference's snapshot-only startup
    * mode): keys only in `newSnap` become INSERTs, keys only in `oldSnap`
    * DELETEs (payload = the last known OLD image, the tombstone a downstream
    * sink's DELETE branch needs), keys in both with any payload change
    * UPDATEs (payload = new image). Unchanged rows are dropped, so the
    * output is the MINIMAL changelog: `materialize(oldSnap-as-changelog ∪
    * diff)` reconstructs `newSnap`.
    *
    * Scale note: one co-partitioned full-outer sort-merge join on the PK —
    * the inherent shape (a diff must align both sides per key) and the ONLY
    * shuffle: payload comparison is a single null-safe struct equality
    * evaluated inside the join's post-condition, codegen'd, no second pass.
    * Snapshots bucketed on the PK join with no exchange at all; AQE
    * skew-splits a hot key. No row ever amplifies: |out| ≤ |old| + |new|.
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, pkCols: Seq[String]): DataFrame = {
    val payload = newSnap.columns.filterNot(pkCols.contains).toSeq
    require(payload.nonEmpty, "diff needs at least one non-key column")
    val o = oldSnap.select((pkCols.map(col) :+ struct(payload.map(col): _*).as("__o")): _*)
    val n = newSnap.select((pkCols.map(col) :+ struct(payload.map(col): _*).as("__n")): _*)
    o.join(n, pkCols, "full_outer")
      .where(!(col("__o") <=> col("__n")))
      .select((pkCols.map(col)
        ++ payload.map(c =>
          when(col("__n").isNull, col(s"__o.$c")).otherwise(col(s"__n.$c")).as(c))
        :+ when(col("__o").isNull, lit("INSERT"))
            .when(col("__n").isNull, lit("DELETE"))
            .otherwise(lit("UPDATE")).as(OpCol)): _*)
  }
}
