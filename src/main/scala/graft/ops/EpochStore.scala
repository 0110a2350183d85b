package graft.ops

import graft.VersionedDir
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The single-writer EPOCH-ASSET protocol shared by the pipeline's small
  * persisted state tables — the `monitor:` quantile sketches
  * ([[graft.pipeline.QuantileMonitor]]), the `curate:` budget histograms
  * ([[Sampling.appendBudgetHistogram]]) and the PCA sufficient statistics
  * ([[Pca.appendStats]]). [[fold]] is the whole write protocol and [[read]]
  * the read; an asset supplies only its merge function.
  *
  * Layout: one [[graft.VersionedDir]] whose manifest body names the live
  * `epoch_N` data dir and carries the replay ledger. A fold writes
  * `epoch_{N+1}`, publishes manifest N+1 and sweeps everything else but
  * ONE grace epoch, the previous manifest's dir, so a reader that resolved
  * the previous epoch right before a write still scans its files — the
  * bounded-staleness trade of a single-writer asset. A crash mid-fold
  * leaves an unnamed dir the next fold overwrites or sweeps.
  *
  * Delivery: a streaming foreachBatch replays its LAST batch after a
  * crash, and an asset folded at-least-once would double-count it. Each
  * manifest therefore carries a replay ledger — the micro-batch id it
  * folded plus the route legs of that batch folded so far — published
  * ATOMICALLY with the data it names. A crash-replayed batch re-offers the
  * same (batchId, leg) pair and is skipped: EFFECTIVELY-ONCE with zero
  * coupling to the sink's commit. Folds without a batch context (the batch
  * composer's one-shot run, the hybrid snapshot phase) PRESERVE the live
  * ledger — an interleaved ctx-less fold must not erase the replay
  * protection of an in-flight streaming batch on the same path — and are
  * themselves at-least-once by design. Known residual: after an in-place
  * checkpoint RESET (batch ids restart at 0) on a KEPT asset path, a first
  * batch that re-offers the exact (0, leg) pair still in the stale ledger
  * is indistinguishable from a replay and is skipped once; rotating the
  * asset path together with the checkpoint avoids it, and no query-lineage
  * id is reliably available inside `foreachBatch` at batch 0 to
  * disambiguate it mechanically.
  *
  * The pipeline is the only maintainer of its own assets: a fold holds the
  * store's lock from its read of the live epoch to its sweep.
  */
object EpochStore {

  /** The recorded ledger of a live asset: the last folded batch id and the
    * route legs folded under it.
    */
  private[ops] final case class Ledger(batchId: Long, legs: Set[String])

  /** One manifest body: the live data dir, the grace dir (the previous
    * manifest's) and the ledger, if any fold so far had a batch context.
    */
  private final case class Epoch(version: Long, data: String, grace: Option[String], ledger: Option[Ledger]) {
    def dirs: Seq[String] = data +: grace.toSeq
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def current(vd: VersionedDir): Option[Epoch] = vd.current.map { case (v, bytes) =>
    val root = mapper.readTree(bytes)
    val ledger = Option(root.get("batchId")).map { b =>
      import scala.jdk.CollectionConverters._
      Ledger(b.asLong, root.get("legs").elements.asScala.map(_.asText).toSet)
    }
    Epoch(v, root.get("data").asText, Option(root.get("grace")).map(_.asText), ledger)
  }

  private def encode(data: String, grace: Option[String], ledger: Option[(Long, Seq[String])]): Array[Byte] = {
    val root = mapper.createObjectNode().put("data", data)
    grace.foreach(root.put("grace", _))
    ledger.foreach { case (b, legs) =>
      root.put("batchId", b)
      val arr = root.putArray("legs")
      legs.foreach(l => arr.add(l))
    }
    mapper.writeValueAsBytes(root)
  }

  /** Fold one contribution into the asset at `path`. Under the store's
    * lock: resolve the live epoch, skip an exact (batchId, leg) replay of
    * `ctx`, else write `next(live)` — None on a virgin asset — as
    * `epoch_{N+1 | 0}`, publish it with the advanced ledger, and sweep all
    * but it and the grace epoch. A skipped replay still sweeps, to finish
    * the deletes of a fold that crashed after its publish. A `next` that
    * throws publishes nothing.
    */
  def fold(spark: SparkSession, path: String, ctx: Option[graft.sinks.BatchCtx])
          (next: Option[DataFrame] => DataFrame): Unit = {
    val vd = VersionedDir(spark, path)
    vd.locked {
      val live = current(vd)
      val ctxPair = ctx.map(c => (c.batchId, c.origin))
      val ledger = live.flatMap(_.ledger)
      if (isReplay(ctxPair, ledger)) live.foreach(e => vd.sweep(e.version, e.dirs))
      else {
        val version = live.fold(0L)(_.version + 1)
        if (live.isEmpty) vd.begin()
        val data = s"epoch_$version"
        // overwrite: an unpublished fold that crashed left this dir
        next(live.map(e => spark.read.parquet(s"$path/${e.data}")))
          .write.mode("overwrite").parquet(s"$path/$data")
        val grace = live.map(_.data)
        if (!vd.publish(version, encode(data, grace, advanceLedger(ctxPair, ledger)), data +: grace.toSeq))
          throw new IllegalStateException(s"epoch asset at $path: another writer published version $version")
      }
    }
  }

  /** The live epoch of the asset at `path`; refuses loudly if never folded. */
  def read(spark: SparkSession, path: String, what: String): DataFrame =
    spark.read.parquet(currentEpoch(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no $what at $path")))

  /** The live asset epoch dir under `path`, if any. */
  def currentEpoch(spark: SparkSession, path: String): Option[String] =
    current(VersionedDir(spark, path)).map(e => s"$path/${e.data}")

  /** The ledger the asset at `path` last published, if any. */
  private[graft] def ledgerOf(spark: SparkSession, path: String): Option[Ledger] =
    current(VersionedDir(spark, path)).flatMap(_.ledger)

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
}
