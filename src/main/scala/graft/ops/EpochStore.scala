package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, lit}

/** The single-writer EPOCH-ASSET protocol shared by the pipeline's small
  * persisted state tables — the `monitor:` quantile sketches
  * ([[graft.pipeline.QuantileMonitor]], ledger columns `__mon_*`), the
  * `curate:` budget histograms ([[Sampling.appendBudgetHistogram]],
  * `__tb_*`) and the PCA sufficient statistics ([[Pca.appendStats]],
  * `__pca_*`). [[fold]] is the whole write protocol and [[read]] the read;
  * an asset supplies only its merge function.
  *
  * Layout: numbered `epoch_N` dirs resolved by LISTING through the Hadoop
  * FileSystem API (hdfs://, s3a://, local all behave the same) — the live
  * epoch is the highest dir carrying the parquet job-commit `_SUCCESS`, so
  * a crash mid-write leaves an uncommitted dir the next writer simply
  * overwrites; no marker file, no non-atomic rename window. Writers keep
  * ONE grace epoch (every dir below N−1 reclaimed, committed or
  * crash-leftover — gapped sequences never leak) so a reader that resolved
  * the previous epoch right before a write still scans its files — the
  * bounded-staleness trade of a single-writer asset.
  *
  * Delivery: a streaming foreachBatch replays its LAST batch after a
  * crash, and an asset folded at-least-once would double-count it. Each
  * committed epoch therefore carries a replay ledger — the micro-batch id
  * it folded plus the route legs of that batch folded so far — as two
  * constant metadata columns of the asset's own rows, committed
  * ATOMICALLY with the data (same parquet job, same `_SUCCESS`). A
  * crash-replayed batch re-offers the same (batchId, leg) pair and is
  * skipped: EFFECTIVELY-ONCE with zero coupling to the sink's commit.
  * Folds without a batch context (the batch composer's one-shot run, the
  * hybrid snapshot phase) PRESERVE the live ledger — an interleaved
  * ctx-less fold must not erase the replay protection of an in-flight
  * streaming batch on the same path — and are themselves at-least-once by
  * design. Known residual: after an in-place checkpoint RESET (batch ids
  * restart at 0) on a KEPT asset path, a first batch that re-offers the
  * exact (0, leg) pair still in the stale ledger is indistinguishable from
  * a replay and is skipped once; rotating the asset path together with the
  * checkpoint avoids it, and no query-lineage id is reliably available
  * inside `foreachBatch` at batch 0 to disambiguate it mechanically.
  *
  * Unlike the multi-writer [[IndexMaintenance]] lease/marker/swap
  * protocol (built for the large persisted index families whose appends
  * and compactions race across jobs), this one assumes the pipeline is
  * the only maintainer of its own assets: concurrency within one driver
  * serializes on a PER-PATH lock, keyed on the filesystem-QUALIFIED,
  * URI-normalized path so two configs spelling one directory differently
  * (trailing slash, dot segments, relative vs absolute, bare vs
  * scheme-qualified) share a lock instead of racing their epoch writes.
  */
object EpochStore {

  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]

  /** The per-asset write lock for `path` (see class doc for the keying). */
  def lockFor(spark: SparkSession, path: String): Object = {
    // URI-normalize after qualification (Hadoop Path strips trailing
    // slashes but keeps `.` segments), then rebuild scheme://authority/path
    // by hand: makeQualified returns an ALREADY scheme-qualified input
    // as-is with a null authority while a freshly qualified bare path
    // carries the filesystem's empty authority — `file:/x` vs `file:///x`
    // — and the two spellings must not split the lock
    val u = fs(spark, path)
      .makeQualified(new org.apache.hadoop.fs.Path(path))
      .toUri.normalize()
    val key = s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
    locks.getOrElseUpdate(key, new Object)
  }

  /** Fold one contribution into the asset at `path`. Under the path's lock:
    * resolve the live committed epoch, skip an exact (batchId, leg) replay
    * of `ctx`, else commit `next(live)` — `live` with the ledger columns
    * dropped, None on a virgin asset — stamped with the advanced ledger as
    * `epoch_{live+1 | 0}`, then reclaim below the grace epoch. A `next`
    * that throws writes nothing.
    */
  def fold(spark: SparkSession, path: String, ledgerCols: (String, String),
           ctx: Option[graft.sinks.BatchCtx])(next: Option[DataFrame] => DataFrame): Unit =
    lockFor(spark, path).synchronized {
      val (batchCol, legsCol) = ledgerCols
      val f = fs(spark, path)
      // ONE listing serves the live-epoch resolution and the GC sweep (the
      // lock makes it race-free; the new epoch is above the grace bar)
      val epochs = epochStatuses(f, path)
      val live = committedOf(f, epochs).lastOption
        .map(n => (n, spark.read.parquet(s"$path/epoch_$n")))
      val ctxPair = ctx.map(c => (c.batchId, c.origin))
      val ledger = live.flatMap { case (_, df) => readLedger(df, batchCol, legsCol) }
      if (!isReplay(ctxPair, ledger)) {
        val epochN = live.map(_._1 + 1).getOrElse(0L)
        stampLedger(next(live.map(_._2.drop(batchCol, legsCol))),
            advanceLedger(ctxPair, ledger), batchCol, legsCol)
          .write.mode("overwrite").parquet(s"$path/epoch_$epochN")
        gcBelowGrace(f, epochs, epochN)
      }
    }

  /** The live epoch of the asset at `path`; refuses loudly if never folded. */
  def read(spark: SparkSession, path: String, what: String): DataFrame =
    spark.read.parquet(currentEpoch(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no $what at $path")))

  /** The live asset epoch dir under `path`, if any. */
  def currentEpoch(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    committedOf(f, epochStatuses(f, path)).lastOption.map(n => s"$path/epoch_$n")
  }

  private val EpochName = "epoch_(\\d+)".r

  private[ops] def fs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    IndexMaintenance.fsOf(path, spark)

  /** One listing of `path`: every `epoch_N` dir as (N, status), ascending.
    * A fold shares this listing between live-epoch resolution and the GC
    * sweep — on an object store LIST is a slow, billed RPC paid per asset
    * per batch, so it is issued once, not twice.
    */
  private[ops] def epochStatuses(f: org.apache.hadoop.fs.FileSystem, path: String):
      Seq[(Long, org.apache.hadoop.fs.FileStatus)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case EpochName(n) => Some((n.toLong, st))
          case _ => None
        }
    }.flatten.sortBy(_._1)
  }

  /** COMMITTED epoch numbers among `statuses`: dirs whose parquet job
    * finished (the `_SUCCESS` commit file) — a crash mid-write is invisible.
    */
  private[ops] def committedOf(f: org.apache.hadoop.fs.FileSystem,
                               statuses: Seq[(Long, org.apache.hadoop.fs.FileStatus)]): Seq[Long] =
    statuses.collect {
      case (n, st)
        if f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")) => n
    }

  /** Reclaim EVERY epoch dir below the grace epoch `newEpoch - 1`,
    * committed or crash-leftover — a gapped sequence must not leak dirs
    * forever. `statuses` is the pre-write listing (the caller holds the
    * lock, so it is race-free; the epoch just written is above the grace
    * bar by construction and absent from the listing).
    */
  private[ops] def gcBelowGrace(f: org.apache.hadoop.fs.FileSystem,
                                statuses: Seq[(Long, org.apache.hadoop.fs.FileStatus)],
                                newEpoch: Long): Unit =
    statuses.foreach { case (n, st) =>
      if (n < newEpoch - 1) { f.delete(st.getPath, true); () }
    }

  // ---------------- replay ledger (see the object doc) ----------------

  /** The recorded ledger of a live asset: the last folded batch id and the
    * route legs folded under it.
    */
  private[ops] final case class Ledger(batchId: Long, legs: Set[String])

  /** Parse the ledger off a live epoch's DataFrame — ONE bounded limit(1)
    * read. Pre-ledger epochs (no such column) and ctx-less-only histories
    * (null ledger) parse to None.
    */
  private[ops] def readLedger(df: DataFrame, batchCol: String, legsCol: String): Option[Ledger] =
    if (!df.columns.contains(batchCol)) None
    else df.select(col(batchCol), col(legsCol))
      .where(col(batchCol).isNotNull).limit(1).collect().headOption
      .map(r => Ledger(r.getLong(0), r.getSeq[String](1).toSet))

  /** Is this fold a crash replay? Exact (batchId, leg) match ONLY:
    * foreachBatch replays re-offer the SAME id (never an older one — ids
    * advance only after the batch function returns), and a looser
    * `batchId < ledger` rule would freeze folds forever if a user reset
    * the checkpoint (ids restart at 0) while keeping the asset path.
    * `ctx` is the (batchId, origin leg) of the incoming fold, if any.
    */
  private[ops] def isReplay(ctx: Option[(Long, String)], ledger: Option[Ledger]): Boolean =
    (ctx, ledger) match {
      case (Some((b, leg)), Some(l)) => b == l.batchId && l.legs.contains(leg)
      case _ => false
    }

  /** The ledger to commit with this fold: a ctx fold advances it (the same
    * batch id accumulates legs); a ctx-less fold PRESERVES it.
    */
  private[ops] def advanceLedger(ctx: Option[(Long, String)],
                                 ledger: Option[Ledger]): Option[(Long, Seq[String])] =
    ctx match {
      case Some((b, leg)) => ledger match {
        case Some(l) if b == l.batchId => Some((b, (l.legs + leg).toSeq.sorted))
        case _ => Some((b, Seq(leg)))
      }
      case None => ledger.map(l => (l.batchId, l.legs.toSeq.sorted))
    }

  /** Stamp the fold's output rows with the ledger columns (constant across
    * the epoch's rows; null when no ledger has ever been recorded).
    */
  private[ops] def stampLedger(df: DataFrame, next: Option[(Long, Seq[String])],
                               batchCol: String, legsCol: String): DataFrame = df
    .withColumn(batchCol,
      next.map(l => lit(l._1)).getOrElse(lit(null).cast("bigint")))
    .withColumn(legsCol,
      next.map(l => array(l._2.map(lit): _*))
        .getOrElse(lit(null).cast("array<string>")))
}
