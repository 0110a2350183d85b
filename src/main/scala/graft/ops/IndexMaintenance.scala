package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared maintenance protocol for persisted on-disk indexes (the MinHash-LSH
  * dedup index in [[Dedup]] and the IVF/IVF-SQ8 ANN index in [[Ivf]]): a
  * single-maintainer lease for compaction-style rewrites, an append-epoch
  * marker protocol that makes the append/compact race DETECTABLE, and the
  * crash-repair of a displace-then-swap that died between its two renames.
  *
  * Why a protocol and not a transaction: a plain filesystem (and most object
  * stores) has no atomic multi-file commit. The index layouts here are
  * append-friendly (new parquet files land beside old ones), so the only
  * dangerous writer is a REWRITER (compaction). The protocol makes the three
  * races explicit:
  *
  *  1. two concurrent compactors — excluded by `_maintenance.lock`
  *     (create-if-absent is the atomic primitive; a stale lock from a dead
  *     maintainer is broken atomically via rename-aside);
  *  2. an append racing a compaction — the compactor's rebuild cannot see
  *     rows appended after its read, and its swap would silently drop them.
  *     Appends REFUSE while a lease is live; for the remaining window (the
  *     append's lease check passes just before the compactor acquires), the
  *     append publishes an epoch marker BEFORE its first write and removes
  *     it after its last, and the compactor re-checks markers + the source
  *     listing after its rebuild, retrying while anything moved — see
  *     [[beginAppend]] / [[quiescedSince]];
  *  3. two concurrent crash-repairers — both rename `old → live`; exactly
  *     one rename wins, and the loser must treat "someone else repaired it"
  *     as success — [[repairCrashedSwap]].
  */
object IndexMaintenance {

  /** Default maintenance-lease duration: a lease file older than this is
    * presumed orphaned by a dead maintainer (a JVM crash can't delete its
    * own lock).
    */
  val DefaultLeaseMs: Long = 30 * 60 * 1000L

  /** The filesystem that OWNS `path` — `Path.getFileSystem`, not
    * `FileSystem.get(URI, conf)`: for a scheme-less path the latter returns
    * the DEFAULT filesystem (HDFS when `fs.defaultFS` points there), which
    * is not necessarily where the index lives.
    */
  def fsOf(path: String, spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The single-maintainer lease file guarding index rewrites. */
  private[graft] def maintenanceLock(path: String): Path =
    new Path(s"$path/_maintenance.lock")

  /** Is a live (younger than `leaseMs`) maintenance lease present? */
  def liveLease(fs: FileSystem, path: String, leaseMs: Long): Boolean =
    try System.currentTimeMillis() - fs.getFileStatus(maintenanceLock(path))
      .getModificationTime < leaseMs
    catch { case _: java.io.FileNotFoundException => false }

  /** Break an orphaned lease ATOMICALLY: rename it aside (exactly one of N
    * concurrent breakers wins the rename; the losers see false and must
    * re-examine). A plain delete-then-create would let breaker B delete the
    * fresh lock breaker A just created. After winning, the captured file's
    * own mtime is re-verified: if it turned out live (its owner refreshed
    * between our staleness check and the rename), it is restored and the
    * break reports failure.
    */
  private def breakStaleLease(fs: FileSystem, path: String, leaseMs: Long): Boolean = {
    val lock = maintenanceLock(path)
    val aside = new Path(
      s"${lock.toString}.broken.${ProcessHandle.current().pid()}.${System.nanoTime()}")
    val won = try fs.rename(lock, aside) catch { case _: java.io.IOException => false }
    won && {
      val stillStale =
        try System.currentTimeMillis() - fs.getFileStatus(aside).getModificationTime >= leaseMs
        catch { case _: java.io.FileNotFoundException => false }
      if (stillStale) fs.delete(aside, false)
      else if (!fs.rename(aside, lock)) fs.delete(aside, false) // owner re-created: drop ours
      stillStale
    }
  }

  /** Acquire the index-maintenance lease, or fail loudly: a second
    * concurrent maintainer would corrupt the displace-then-swap rename
    * sequence, so it must refuse — not proceed — while a live lease exists.
    * An orphaned (stale) lease is broken atomically; losing any race on the
    * way also fails loudly rather than proceeding.
    */
  def acquireMaintenanceLock(fs: FileSystem, path: String, leaseMs: Long): Path = {
    val lock = maintenanceLock(path)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false) // atomic create-if-absent
        out.writeBytes(s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}\n")
        out.close(); true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      if (liveLease(fs, path, leaseMs)) throw new IllegalStateException(
        s"another maintainer holds $lock (lease $leaseMs ms); a concurrent index rewrite " +
        "would corrupt the swap — wait for it, or delete the lock if its owner died")
      // stale: exactly one breaker wins the atomic rename; a loser's lock
      // may now belong to the winner, so it must NOT delete — just retry
      // the create once and fail loudly if someone else got there first
      if (!breakStaleLease(fs, path, leaseMs) || !tryCreate()) throw new IllegalStateException(
        s"lost the race re-acquiring $lock after a stale lease break")
    }
    lock
  }

  /** Directory of in-flight append markers under an index root. */
  private[graft] def appendMarkerDir(path: String): Path = new Path(s"$path/_appends")

  // ---------- partition-count layout meta (r20) ----------
  //
  // The disk-partition count of a bucketed index is a LAYOUT property of the
  // index, not of the caller: a probe hashing its keys with a different
  // modulus than the build prunes the wrong partitions and silently loses
  // recall. The count is therefore persisted at build time in `_layout`
  // under the index root and every probe/append/compaction resolves it from
  // there; the caller's parameter is only the fallback for pre-meta indexes.
  // Compaction restores the bucket cap, never the layout, but a full
  // rebuild overwrites `_layout` — possibly from another JVM — so the meta
  // is read on every call, never cached: a cached count would keep probing
  // with the pre-rebuild modulus. The price is one small-file open per probe.

  private[graft] val LayoutFile = "_layout"

  /** Persist the index's partition-count layout (build-time; overwrites —
    * a full index rebuild may re-derive).
    */
  def writeLayout(fs: FileSystem, path: String, numPartitions: Int): Unit = {
    val out = fs.create(new Path(s"$path/$LayoutFile"), true)
    try out.write(numPartitions.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The index's persisted partition count, else `fallback` (a pre-meta
    * index laid out by the caller's own constant).
    */
  def resolveLayout(fs: FileSystem, path: String, fallback: => Int): Int = {
    val lp = new Path(s"$path/$LayoutFile")
    if (!fs.exists(lp)) fallback
    else {
      val in = fs.open(lp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt finally in.close()
    }
  }

  /** Scale-adaptive partition count from the materialized source bytes of
    * the index (driver-side listing, no job), clamped to [1, 4096]: one
    * disk partition per `bytesPerPartition` of source once the index is
    * big, BUT floored at the session parallelism while the data exceeds
    * ~1 MB/partition — a mid-size index written as ONE dir lands as one
    * parquet file with 1-2 row groups, and every later PROBE then scans it
    * at parallelism 1-2 (measured at sf1: q_fuzzy_join_probe +40%,
    * q_dedup_incremental +21% under the floor-less first cut — r20). Small
    * corpora still drop from the constant 64-way small-file fan-out to a
    * handful of dirs; a 100 TB corpus gets the size-derived thousands for
    * listing-level pruning (guide §6 file sizing). `expansion` scales the
    * proxy when the partitioned relation is a blow-up of the source (the
    * fuzzy index's gram-prefix relation ≈ 10× its string store).
    */
  def derivePartitions(spark: SparkSession, fs: FileSystem, sourceDir: Path,
                       bytesPerPartition: Long = 64L * 1024 * 1024,
                       expansion: Long = 1L): Int = {
    val bytes = expansion * (try fs.getContentSummary(sourceDir).getLength
                             catch { case _: java.io.FileNotFoundException => 0L })
    val bySize = (bytes + bytesPerPartition - 1) / bytesPerPartition
    val parFloor = math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes + (1L << 20) - 1) / (1L << 20))
    math.max(1L, math.min(4096L, math.max(bySize, parFloor))).toInt
  }

  /** Publish an append-epoch marker, THEN check the maintainer lease —
    * in that order, so that by the time any append data hits the disk its
    * marker is already visible to a compactor's quiescence check. The
    * narrower ordering (check lease, then write) is check-then-act: a
    * maintainer acquiring the lock right after the check would rebuild
    * without our rows and silently drop them at its swap. With the marker
    * first, one of two things is true for every append that writes at all:
    * its marker is still present at the compactor's pre-swap check (append
    * in flight → compactor retries), or the append completed and the
    * compactor's source re-listing sees its files (→ compactor retries).
    *
    * Refuses (deleting the marker) while a maintainer lease is LIVE; a
    * stale lease is a dead maintainer, not a running one — blocking ingest
    * on it forever would turn one crashed compaction into an outage.
    * Returns the marker path; callers MUST [[endAppend]] it when done.
    */
  def beginAppend(fs: FileSystem, path: String, leaseMs: Long): Path = {
    val marker = new Path(appendMarkerDir(path),
      s"append.${ProcessHandle.current().pid()}.${System.nanoTime()}")
    val out = fs.create(marker, false)
    out.writeBytes(s"ts=${System.currentTimeMillis()}\n")
    out.close()
    if (liveLease(fs, path, leaseMs)) {
      fs.delete(marker, false)
      throw new IllegalStateException(
        s"index append refused: a maintainer holds ${maintenanceLock(path)} — appends during " +
        "compaction are silently dropped by the swap; quiesce ingest while compacting")
    }
    marker
  }

  /** Retire an append-epoch marker (the append's writes are all committed). */
  def endAppend(fs: FileSystem, marker: Path): Unit = fs.delete(marker, false)

  /** A stable fingerprint of a directory's committed files (name, length,
    * mtime) — the compactor's source snapshot. Missing dir → empty.
    * `recursive` for layouts whose files live under partition subdirs
    * (e.g. `lists/centroid_id=N/part-*.parquet`); names are then
    * root-relative so the fingerprint is position-independent.
    */
  def listingFingerprint(fs: FileSystem, dir: Path,
                         recursive: Boolean = false): Set[(String, Long, Long)] =
    if (!fs.exists(dir)) Set.empty
    else if (!recursive) fs.listStatus(dir).filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
    else {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.Set.empty[(String, Long, Long)]
      val prefix = fs.makeQualified(dir).toString
      while (it.hasNext) {
        val s = it.next()
        buf += ((s.getPath.toString.stripPrefix(prefix), s.getLen, s.getModificationTime))
      }
      buf.toSet
    }

  /** Pre-swap quiescence check for a compactor holding the lease: true iff
    * no append markers are in flight AND `sourceDir`'s listing still equals
    * the `snapshot` taken before the rebuild read it. Markers older than
    * `leaseMs` are orphans of a crashed appender (its uncommitted Spark
    * write published nothing) and are cleaned here rather than wedging
    * compaction forever.
    */
  def quiescedSince(fs: FileSystem, path: String, sourceDir: Path,
                    snapshot: Set[(String, Long, Long)], leaseMs: Long,
                    recursive: Boolean = false): Boolean = {
    val markers =
      try fs.listStatus(appendMarkerDir(path)).filter(_.isFile).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val (stale, live) = markers.partition(
      m => System.currentTimeMillis() - m.getModificationTime >= leaseMs)
    stale.foreach(m => fs.delete(m.getPath, false))
    live.isEmpty && listingFingerprint(fs, sourceDir, recursive) == snapshot
  }

  /** The whole compaction shape shared by every persisted index: acquire
    * the lease, repair a previously crashed swap, then loop — snapshot the
    * source listing, run `rebuild` (read source, write `next`), and swap
    * `next` into place ONLY if nothing moved during the rebuild
    * ([[quiescedSince]]); anything moved → rebuild again (the in-flight
    * set only shrinks: new appends refuse under this live lease). Aborts
    * loudly after `maxRebuilds`, leaving the live dir untouched.
    *
    * `sourceDir` may BE `live` (an index that compacts from its own files,
    * e.g. small-file coalescing): the rebuild's read happens before the
    * displace rename, and a retry re-reads whatever landed since.
    */
  def runCompaction(fs: FileSystem, path: String, live: Path, old: Path, next: Path,
                    sourceDir: Path, leaseMs: Long, maxRebuilds: Int,
                    recursiveListing: Boolean = false)(rebuild: () => Unit): Unit = {
    val lock = acquireMaintenanceLock(fs, path, leaseMs)
    try {
      // repair a swap that died between its two renames in a prior run
      repairCrashedSwap(fs, live, old)
      fs.delete(old, true)
      var attempt = 0
      var swapped = false
      while (!swapped) {
        attempt += 1
        fs.delete(next, true)
        val snapshot = listingFingerprint(fs, sourceDir, recursiveListing)
        rebuild()
        if (quiescedSince(fs, path, sourceDir, snapshot, leaseMs, recursiveListing)) {
          require(fs.rename(live, old), s"compaction displace failed for $live")
          require(fs.rename(next, live), s"compaction swap failed for $live")
          fs.delete(old, true)
          swapped = true
        } else if (attempt >= maxRebuilds) {
          fs.delete(next, true)
          throw new IllegalStateException(
            s"compaction of $path aborted after $maxRebuilds rebuilds: appends kept landing " +
            "during the rebuild (in-flight markers or new source files) — quiesce ingest " +
            "and retry")
        } else Thread.sleep(200L * attempt) // racing appends predate our lease; they drain
      }
    } finally fs.delete(lock, false)
  }

  /** Probe-side guard shared by every persisted index's read path: if the
    * live dir is missing because a compaction died between its two swap
    * renames, repair it in-line when no maintainer is LIVE; under a live
    * lease the swap is in flight — surface WHAT is happening rather than a
    * bare missing-path error.
    */
  def ensureLiveDir(fs: FileSystem, path: String, live: Path, old: Path,
                    leaseMs: Long): Unit =
    if (!fs.exists(live) && fs.exists(old)) {
      if (liveLease(fs, path, leaseMs)) throw new IllegalStateException(
        s"$live is mid-swap under ${maintenanceLock(path)} — a compaction is running; " +
        "retry after it completes, or rerun the index compaction")
      // two concurrent probes both repairing: one rename wins, the loser
      // proceeds on seeing the healthy dir (repairCrashedSwap re-checks)
      repairCrashedSwap(fs, live, old)
    }

  /** Repair a displace-then-swap that died between its two renames (the
    * `old` dir exists, `live` does not): rename `old → live`. Two
    * concurrent repairers both attempt the rename; exactly one wins — the
    * loser re-checks for the live dir and treats another repairer's win as
    * success, throwing only when the dir is still missing. Returns true if
    * `live` exists on exit (repaired, or was never broken).
    */
  def repairCrashedSwap(fs: FileSystem, live: Path, old: Path): Boolean =
    fs.exists(live) || (fs.exists(old) && {
      val won = try fs.rename(old, live) catch { case _: java.io.IOException => false }
      won || fs.exists(live) || sys.error(s"crash repair failed for $live")
      true
    })
}
