package graft.ops

import graft.VersionedDir
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The publish protocol of the persisted index families — the MinHash-LSH
  * dedup index ([[Dedup]]), the IVF/IVF-SQ8 ANN index ([[Ivf]]), the
  * fuzzy-join blocking index ([[FuzzyJoin]]) and the BM25 postings
  * ([[Bm25]]) — each one [[graft.VersionedDir]]. Its manifest
  * ([[IndexMaintenance.Index]]) names the build, the disk-partition count
  * and, per relation, the data dirs; each data dir keeps its `pbucket=` /
  * `centroid_id=` / `bucket=` subdirs, so a probe still prunes at the file
  * listing.
  *
  *  - A build writes fresh dirs, publishes a manifest naming only them and
  *    sweeps everything else under the root.
  *  - An append writes fresh dirs and publishes N+1, naming them beside the
  *    newest manifest's.
  *  - A compaction publishes N+1 replacing exactly the dirs it read. Every
  *    family's compaction rewrites each relation that appends grow into one
  *    dir, so a probe's file listing is bounded again after it.
  *
  * Appends and compactions may run at once, in one JVM or several: data is
  * written outside the lock, and their publish deletes only the dirs the
  * superseded manifests named, never another writer's unpublished ones
  * ([[graft.VersionedDir.publishRetiring]]). A writer that loses its
  * publish re-bases onto the newest
  * manifest: an append carries its dirs forward, a compaction carries
  * forward the dirs added since its read. Nothing is rebuilt and there is
  * no retry cap. A compaction whose input another compaction already
  * replaced has nothing left to publish; a writer whose index was rebuilt
  * under it (a new build) fails loudly, its data derived from the old one.
  */
object IndexMaintenance {

  /** One published version of an index: a build id (new per full build),
    * the disk-partition count the probe hashes with (0 for a family that
    * partitions by another key), and the data dirs of each relation,
    * relative to the index root.
    */
  final case class Index(version: Long, build: String, partitions: Int, dirs: Map[String, Seq[String]]) {
    def apply(rel: String): Seq[String] = dirs.getOrElse(rel, Nil)
  }

  /** Per relation, the dirs an edit removes and the dirs it adds. */
  type Edit = Map[String, (Seq[String], Seq[String])]

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def encode(i: Index): Array[Byte] = mapper.writeValueAsBytes(Map[String, Any](
    "build" -> i.build, "partitions" -> i.partitions,
    "dirs" -> i.dirs.map { case (r, ds) => r -> ds.asJava }.asJava).asJava)

  private def decode(version: Long, bytes: Array[Byte]): Index = {
    val root = mapper.readTree(bytes)
    Index(version, root.get("build").asText, root.get("partitions").asInt,
      root.get("dirs").properties.asScala.map(e => e.getKey -> e.getValue.elements.asScala.map(_.asText).toSeq).toMap)
  }

  private def newest(vd: VersionedDir): Option[Index] = vd.current.map { case (v, b) => decode(v, b) }

  /** The newest manifest of the index at `path`; refuses a path without one. */
  def current(spark: SparkSession, path: String, what: String): Index =
    newest(VersionedDir(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no $what at $path — build it first"))

  /** Relation `rel` of `idx`: every data dir it names, read as one relation. */
  def read(spark: SparkSession, path: String, idx: Index, rel: String): DataFrame =
    readDirs(spark, path, rel, idx(rel))

  /** A relation's data dirs are named `<rel>/__dir=<uuid>`: Spark discovers
    * partitions across several roots only below ONE base path, so each dir
    * reads as a value of a partition column under `<rel>`, dropped here —
    * its own `pbucket=` / `centroid_id=` / `bucket=` subdirs still prune at
    * the listing.
    */
  private val DirCol = "__dir"

  def readDirs(spark: SparkSession, path: String, rel: String, dirs: Seq[String]): DataFrame =
    spark.read.option("basePath", s"$path/$rel").parquet(dirs.map(d => s"$path/$d"): _*).drop(DirCol)

  /** The fresh data dirs of one writer. `apply(rel)` names a new dir of
    * relation `rel`, relative to the index root.
    */
  final class Fresh private[IndexMaintenance] () {
    private var names = Map.empty[String, Seq[String]]
    def apply(rel: String): String = synchronized {
      val n = s"$rel/$DirCol=${java.util.UUID.randomUUID()}"
      names = names.updated(rel, names.getOrElse(rel, Nil) :+ n)
      n
    }
    def dirs: Map[String, Seq[String]] = synchronized(names)
  }

  /** A full build: `write` writes every relation through fresh dirs and
    * returns the partition count. The manifest published names only those
    * dirs and everything else under the root is swept: the earlier build,
    * and what crashed writers left.
    */
  def build(spark: SparkSession, path: String)(write: Fresh => Int): Unit = {
    val vd = VersionedDir(spark, path)
    if (newest(vd).isEmpty) vd.begin()
    val fresh = new Fresh
    val partitions = write(fresh)
    val id = java.util.UUID.randomUUID().toString
    var published = false
    while (!published) {
      val next = Index(newest(vd).fold(0L)(_.version + 1), id, partitions, fresh.dirs)
      published = vd.publish(next.version, encode(next), next.dirs.values.flatten)
    }
  }

  /** One append or compaction: `write(base, fresh)` writes its data through
    * `fresh` and returns the edit that publishes it on top of a manifest —
    * the base itself, or, after a lost publish, the newest one (the
    * re-base; it may write more data). An edit of None publishes nothing.
    * The publish deletes only the dirs the superseded manifests named, so a
    * concurrent writer's fresh dirs survive it; a writer left with nothing
    * to publish deletes its own.
    */
  def commit(spark: SparkSession, path: String, what: String)
            (write: (Index, Fresh) => Index => Option[Edit]): Unit = {
    val vd = VersionedDir(spark, path)
    val base = current(spark, path, what)
    val fresh = new Fresh
    val edit = write(base, fresh)
    var cur = Option(base)
    while (cur.isDefined) {
      val on = cur.get
      if (on.build != base.build) throw new IllegalStateException(
        s"$what at $path was rebuilt while this write ran; re-run it on the new index")
      cur = edit(on) match {
        case None =>
          fresh.dirs.values.flatten.foreach(d => vd.fs.delete(new Path(vd.root, d), true))
          None
        case Some(e) =>
          val next = on.copy(version = on.version + 1, dirs = e.foldLeft(on.dirs) {
            case (ds, (rel, (removed, added))) => ds.updated(rel, ds.getOrElse(rel, Nil).filterNot(removed.contains) ++ added)
          })
          Option.unless(vd.publishRetiring(next.version, encode(next), decode(next.version, _).dirs.values.flatten))(
            current(spark, path, what))
      }
    }
  }

  /** An append: `write`'s fresh dirs published beside the newest manifest's. */
  def append(spark: SparkSession, path: String, what: String)(write: (Index, Fresh) => Unit): Unit =
    commit(spark, path, what) { (base, fresh) =>
      write(base, fresh)
      _ => Some(fresh.dirs.map { case (rel, ds) => rel -> ((Nil, ds)) })
    }

  /** A compaction of relations `rels`: `write`'s fresh dirs replace exactly
    * the dirs of `rels` it read, and nothing once another compaction has
    * replaced them.
    */
  def compact(spark: SparkSession, path: String, what: String, rels: Seq[String])
             (write: (Index, Fresh) => Unit): Unit =
    commit(spark, path, what) { (base, fresh) =>
      write(base, fresh)
      cur => Option.when(rels.forall(r => base(r).forall(cur(r).contains)))(
        rels.map(r => r -> ((base(r), fresh.dirs.getOrElse(r, Nil)))).toMap)
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
  def derivePartitions(spark: SparkSession, sourceDir: String,
                       bytesPerPartition: Long = 64L * 1024 * 1024,
                       expansion: Long = 1L): Int = {
    val dir = new Path(sourceDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = expansion * (try fs.getContentSummary(dir).getLength
                             catch { case _: java.io.FileNotFoundException => 0L })
    val bySize = (bytes + bytesPerPartition - 1) / bytesPerPartition
    val parFloor = math.min(spark.sparkContext.defaultParallelism.toLong,
      (bytes + (1L << 20) - 1) / (1L << 20))
    math.max(1L, math.min(4096L, math.max(bySize, parFloor))).toInt
  }
}
