package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one publish protocol of every persisted store: the upsert sink's
  * tables, the epoch assets and the persisted indexes. A store is a root dir
  * holding `_manifest/<N>` files and immutable data dirs, and it is whatever
  * its highest-numbered manifest says. Each client owns only its manifest
  * body (bytes here); this class owns the names, the publish and the sweep.
  *
  *  - [[current]] reads the newest manifest, without the lock.
  *  - [[publish]] lists `_manifest`, refuses a version that is not above
  *    every manifest there, writes the body aside under a unique name and
  *    renames it in as `_manifest/<N>`: the one step that changes what a
  *    reader sees. A writer whose publish is refused re-reads [[current]]
  *    and re-bases.
  *  - After a publish, a store with one maintainer ([[publish]]) deletes
  *    every file and dir the manifest does not name: older manifests,
  *    superseded data dirs, and what a crashed or refused writer left. A
  *    store that concurrent writers add to ([[publishRetiring]]) deletes
  *    only the dirs the superseded manifests named, then those manifests, so
  *    the unpublished dirs of a writer in flight survive; what a crashed
  *    writer left there goes at the next [[publish]].
  *
  * A crash leaves manifest N or N+1 plus at most files a later sweep
  * deletes: nothing is ever recovered.
  *
  * In one JVM, publishes serialize on one lock per store, keyed on the
  * filesystem-qualified, URI-normalized path, so two spellings of one dir
  * (trailing slash, dot segments, relative vs absolute, bare vs
  * scheme-qualified) share it. Across JVMs a publish is exactly as strong as
  * a `create(overwrite = false)` lease, and no stronger: between its listing
  * and its rename it relies on the rename refusing an existing target, as
  * HDFS does, while on a local FS a rename can replace its target.
  */
final class VersionedDir private (val fs: FileSystem, val path: String) {
  import VersionedDir.{ManifestDir, isVersion}

  val root = new Path(path)
  private val manifests = new Path(root, ManifestDir)
  private val lock: Object = VersionedDir.lockOf(fs, path)

  /** Runs `body` under the store's lock (reentrant). */
  def locked[T](body: => T): T = lock.synchronized(body)

  /** The newest manifest as (version, body); None for a store never
    * published or deleted. A root that holds anything but no `_manifest` is
    * state of an earlier format: refused, naming its dir.
    */
  def current: Option[(Long, Array[Byte])] = {
    val versions = try fs.listStatus(manifests).map(_.getPath.getName).filter(isVersion).map(_.toLong)
    catch { case _: java.io.FileNotFoundException => refuseOlderFormat(); Array.empty[Long] }
    versions.maxOption.flatMap { v =>
      try {
        val in = fs.open(new Path(manifests, v.toString))
        try Some((v, in.readAllBytes())) finally in.close()
      } catch { case _: java.io.FileNotFoundException => current } // a newer publish swept it
    }
  }

  private def refuseOlderFormat(): Unit = {
    val entries = children("")
    require(entries.isEmpty, s"$path predates the manifest format (${entries.mkString(", ")} " +
      s"without $ManifestDir): it is neither read nor converted; rebuild it at a new path")
  }

  /** Marks the root as this format before a first version's data is
    * written, so a crash mid-write leaves a store the next writer sweeps
    * rather than refuses.
    */
  def begin(): Unit = { fs.mkdirs(manifests); () }

  /** Publishes `body` as `version`, then deletes everything under the root
    * but that manifest, newer ones and `named` (data dirs relative to the
    * root). False, with nothing changed, if a manifest at or above
    * `version` exists; any other failed rename throws.
    */
  def publish(version: Long, body: Array[Byte], named: Iterable[String]): Boolean = locked {
    put(version, body).exists { listed => sweepUnnamed(version, named, listed); true }
  }

  /** Publishes `body` as `version`, then deletes the dirs that the older
    * manifests name (`dirsOf` reads them from a body) and `body` does not,
    * then those manifests and the bodies written aside for versions up to
    * `version` (a writer still holding one would publish below the newest:
    * its rename now fails loudly). False, with nothing changed, if a
    * manifest at or above `version` exists; any other failed rename throws.
    */
  def publishRetiring(version: Long, body: Array[Byte], dirsOf: Array[Byte] => Iterable[String]): Boolean =
    locked {
      put(version, body).exists { listed =>
        val older = listed.filter(n => isVersion(n) && n.toLong < version)
        val named = older.flatMap { m =>
          try { val in = fs.open(new Path(manifests, m)); try dirsOf(in.readAllBytes()) finally in.close() }
          catch { case _: java.io.FileNotFoundException => Nil } // another writer retired it
        }
        (named.toSet -- dirsOf(body)).foreach(d => fs.delete(new Path(root, d), true))
        val aside = listed.filter(_.split('.') match {
          case Array("", v, _, "tmp") => isVersion(v) && v.toLong <= version
          case _ => false
        })
        (older ++ aside).foreach(n => fs.delete(new Path(manifests, n), false))
        true
      }
    }

  /** Writes `body` aside and renames it in as `version`: the `_manifest`
    * listing taken before the rename, or None if a manifest at or above
    * `version` was there or the rename found one.
    */
  private def put(version: Long, body: Array[Byte]): Option[Seq[String]] = {
    val listed = children(ManifestDir)
    if (listed.exists(n => isVersion(n) && n.toLong >= version)) None
    else {
      val aside = new Path(manifests, s".$version.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(aside, true)
      try out.write(body) finally out.close()
      val target = new Path(manifests, version.toString)
      // a source that is gone was deleted by a newer publish: lost
      if (try fs.rename(aside, target) catch { case _: java.io.FileNotFoundException => false }) Some(listed)
      else if (fs.exists(target)) { fs.delete(aside, false); None }
      else throw new java.io.IOException(s"commit failed: rename $aside into $manifests " +
        "(state preserved; check permissions / cross-filesystem paths)")
    }
  }

  /** Deletes every file and dir under the root that `named` and manifest
    * `version` leave unnamed, except newer manifests.
    */
  def sweep(version: Long, named: Iterable[String]): Unit =
    locked(sweepUnnamed(version, named, children(ManifestDir)))

  /** [[sweep]], with `manifestNames` the listing of `_manifest`. */
  private def sweepUnnamed(version: Long, named: Iterable[String], manifestNames: Seq[String]): Unit = {
    manifestNames.filterNot(n => isVersion(n) && n.toLong >= version)
      .foreach(n => fs.delete(new Path(manifests, n), true))
    val keep = named.toSet
    val ancestors = keep.flatMap(k => k.split('/').inits.drop(1).filter(_.nonEmpty).map(_.mkString("/")))
    def under(rel: String): Unit = children(rel).foreach { c =>
      val r = if (rel.isEmpty) c else s"$rel/$c"
      if (ancestors(r)) under(r)
      else if (r != ManifestDir && !keep(r)) fs.delete(new Path(root, r), true)
    }
    under("")
  }

  private def children(rel: String): Seq[String] =
    try fs.listStatus(if (rel.isEmpty) root else new Path(root, rel)).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Deletes the whole store. */
  def drop(): Unit = locked { fs.delete(root, true); () }
}

object VersionedDir {
  private val ManifestDir = "_manifest"

  private def isVersion(name: String): Boolean = name.nonEmpty && name.forall(_.isDigit)

  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]

  private def lockOf(fs: FileSystem, path: String): Object = {
    // URI-normalize after qualification (Hadoop Path strips trailing
    // slashes but keeps `.` segments), then rebuild scheme://authority/path
    // by hand: makeQualified returns an ALREADY scheme-qualified input
    // as-is with a null authority while a freshly qualified bare path
    // carries the filesystem's empty authority — `file:/x` vs `file:///x`
    // — and the two spellings must not split the lock
    val u = fs.makeQualified(new Path(path)).toUri.normalize()
    locks.getOrElseUpdate(s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}", new Object)
  }

  def apply(fs: FileSystem, path: String): VersionedDir = new VersionedDir(fs, path)

  /** The store at `path`, on the filesystem that owns it: `Path.getFileSystem`,
    * not `FileSystem.get(URI, conf)`, which returns the DEFAULT filesystem for
    * a scheme-less path.
    */
  def apply(spark: SparkSession, path: String): VersionedDir =
    apply(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration), path)

  /** The store's lock, shared by every spelling of `path`. */
  private[graft] def lockFor(spark: SparkSession, path: String): Object = apply(spark, path).lock
}
