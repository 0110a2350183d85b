package graft.ops

import graft.{CrashFs, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

/** The persisted-index publish protocol ([[IndexMaintenance]]) over every
  * family: a crash anywhere in an append or a compaction leaves the index
  * as before or as after, a replay converges, and a compaction that loses
  * its publish to an append re-bases without dropping the appended rows.
  */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val seed = "unrelated seed document about shuffle partitions and stages ok then"
  private val near = "the quick brown fox jumps over the lazy dog again and again every day"
  private val corpus = Seq((1L, seed), (2L, near))
  private val flood = "identical boilerplate paragraph repeated across the whole web forever"

  /** The index as its partition count and, per relation, its distinct rows
    * and (for a compaction, which replays idempotently) its dir count.
    */
  private def stateOf(root: String, dirCounts: Boolean) = {
    val idx = IndexMaintenance.current(spark, root, "index")
    (idx.partitions, idx.dirs.map { case (rel, ds) =>
      rel -> ((if (dirCounts) ds.size else 0, IndexMaintenance.read(spark, root, idx, rel).toJSON.collect().toSet))
    })
  }

  /** Only the newest manifest and the dirs it names are left. */
  private def swept(root: String): Unit = {
    val idx = IndexMaintenance.current(spark, root, "index")
    CrashFs.assertOnly(spark, root, Some(idx.dirs.values.flatten.toSet + s"_manifest/${idx.version}"))
  }

  private def dirsOf(root: String): Set[String] =
    IndexMaintenance.current(spark, root, "index").dirs.values.flatten.toSet

  /** What an append or a compaction leaves: the newest manifest alone, every
    * dir it names, and none of the dirs named `before` it that it no longer
    * names. A crashed writer's unpublished data dirs may be left; the next
    * build sweeps them.
    */
  private def retired(before: collection.Map[String, Set[String]])(root: String): Unit = {
    val idx = IndexMaintenance.current(spark, root, "index")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(root, "_manifest")).map(_.getPath.getName).toSeq === Seq(s"${idx.version}"))
    dirsOf(root).foreach(d => assert(fs.exists(new Path(root, d)), s"$d is named but missing"))
    (before(root) -- dirsOf(root)).foreach(d => assert(!fs.exists(new Path(root, d)), s"$d was retired but is left"))
  }

  private def crashEdit(setup: String => Unit, change: String => Unit, dirCounts: Boolean): Unit = {
    val before = scala.collection.mutable.Map.empty[String, Set[String]]
    CrashFs.crashAtEveryCall(spark, { root => setup(root); before(root) = dirsOf(root) }, change,
      stateOf(_, dirCounts), retired(before))
  }

  private def crashAppend(setup: String => Unit, change: String => Unit): Unit =
    crashEdit(setup, change, dirCounts = false)

  private def crashCompaction(setup: String => Unit, change: String => Unit): Unit =
    crashEdit(setup, change, dirCounts = true)

  private def vectors(ids: Seq[Long]) =
    ids.map(i => (i, Seq(i % 5, i % 3, i % 7, 1L).map(_.toFloat))).toDF("vec_id", "embedding")
  private lazy val model = Ivf.train(vectors(10L to 40L), "vec_id", "embedding", k = 3, iters = 1)

  private val strings = Seq((1L, "kitten sitting"), (2L, "graft spark cdc"), (3L, "manifest publish"))
  private val wave = Seq((10L, "kitten sittinx"), (11L, "manifest publisx"))

  test("a crash anywhere in an index append recovers to the old or the grown index") {
    crashAppend(Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", _, numPartitions = 4),
      Dedup.appendToMinhashIndex(Seq((7L, flood)).toDF("id", "text"), "id", "text", _))
    crashAppend(Ivf.writeIndexSq8(vectors(10L to 40L), "vec_id", "embedding", model, _),
      Ivf.appendToIndexSq8(vectors(1L to 5L), "vec_id", "embedding", _))
    crashAppend(FuzzyJoin.writeIndex(strings.toDF("id", "s"), "id", "s", _, numPartitions = 4),
      FuzzyJoin.appendToIndex(wave.toDF("id", "s"), "id", "s", _))
    crashAppend(Bm25.writePostings(corpus.toDF("doc_id", "text"), "doc_id", "text", _, termBuckets = 8),
      Bm25.appendToPostings(Seq((9L, flood)).toDF("doc_id", "text"), "doc_id", "text", _))
  }

  test("a crash anywhere in an index compaction recovers to the old or the compacted index") {
    crashCompaction({ root =>
      Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", root, numPartitions = 4)
      // two waves of 40 identical docs: the 80-member bucket is degenerate
      Seq(100L, 200L).foreach(w => Dedup.appendToMinhashIndex(
        (w until w + 40).map((_, flood)).toDF("id", "text"), "id", "text", root))
    }, Dedup.compactMinhashIndex(spark, "id", _))
    crashCompaction({ root =>
      Ivf.writeIndexSq8(vectors(10L to 40L), "vec_id", "embedding", model, root)
      Ivf.appendToIndexSq8(vectors(1L to 5L), "vec_id", "embedding", root)
    }, Ivf.compactIndexSq8(spark, _))
    crashCompaction({ root =>
      FuzzyJoin.writeIndex(strings.toDF("id", "s"), "id", "s", root, numPartitions = 4)
      FuzzyJoin.appendToIndex(wave.toDF("id", "s"), "id", "s", root)
    }, FuzzyJoin.compactIndex(spark, _))
    crashCompaction({ root =>
      Bm25.writePostings(corpus.toDF("doc_id", "text"), "doc_id", "text", root, termBuckets = 8)
      Bm25.appendToPostings(Seq((9L, flood)).toDF("doc_id", "text"), "doc_id", "text", root)
    }, Bm25.compactPostings(spark, _))
  }

  test("the next build sweeps what a crashed append left") {
    val root = CrashFs.root(spark, "graft-crash-build")
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", root, numPartitions = 4)
    // the append dies at its publish, after writing its data
    CrashFs.crashAt = CrashFs.calls.get() + 1
    try intercept[CrashFs.Crash](Dedup.appendToMinhashIndex(Seq((7L, flood)).toDF("id", "text"), "id", "text", root))
    finally CrashFs.crashAt = -1
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(rel: String) = fs.listStatus(new Path(root, rel)).map(_.getPath.getName).toSet
    assert(entries("sigs").size === 2 && entries("buckets").size === 2) // the append's, unpublished
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", root, numPartitions = 4)
    swept(root)
  }

  test("every compaction leaves one dir per relation that appends grow, with probes unchanged") {
    def sizes(root: String) = IndexMaintenance.current(spark, root, "index").dirs.map { case (r, ds) => r -> ds.size }

    val mh = tempDir("graft-compact-mh")
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", mh, numPartitions = 4)
    (1 to 3).foreach(w => Dedup.appendToMinhashIndex(Seq((10L + w, s"$near $w")).toDF("id", "text"), "id", "text", mh))
    val mhProbe = Seq((99L, s"$near 2")).toDF("id", "text")
    def mhHits = Dedup.incrementalCandidates(mhProbe, "id", "text", mh).select("id", "dup_of").as[(Long, Long)]
      .collect().toSet
    val mhBefore = mhHits
    assert(sizes(mh) === Map("sigs" -> 4, "buckets" -> 4) && mhBefore.contains((99L, 12L)))
    Dedup.compactMinhashIndex(spark, "id", mh)
    assert(sizes(mh) === Map("sigs" -> 1, "buckets" -> 1) && mhHits === mhBefore)
    swept(mh)

    val fz = tempDir("graft-compact-fz")
    FuzzyJoin.writeIndex(strings.toDF("id", "s"), "id", "s", fz, numPartitions = 4)
    (1 to 3).foreach(w => FuzzyJoin.appendToIndex(Seq((10L + w, s"kitten sittin$w")).toDF("id", "s"), "id", "s", fz))
    val fzProbe = Seq((20L, "kitten sittinz")).toDF("id", "s")
    def fzHits = FuzzyJoin.indexProbe(fzProbe, "id", "s", fz).select("id", "match_id").as[(Long, Long)]
      .collect().toSet
    val fzBefore = fzHits
    assert(sizes(fz) === Map("strings" -> 4, "gramdf" -> 1, "prefix" -> 4) && fzBefore.contains((20L, 13L)))
    FuzzyJoin.compactIndex(spark, fz)
    assert(sizes(fz) === Map("strings" -> 1, "gramdf" -> 1, "prefix" -> 1) && fzHits === fzBefore)
    swept(fz)

    val bm = tempDir("graft-compact-bm")
    Bm25.writePostings(corpus.toDF("doc_id", "text"), "doc_id", "text", bm, termBuckets = 8)
    (1 to 3).foreach(w => Bm25.appendToPostings(Seq((10L + w, s"$flood fox $w")).toDF("doc_id", "text"), "doc_id", "text", bm))
    def bmTop = Bm25.topKIndexed(spark, bm, "fox boilerplate", k = 5).collect().map(_.toSeq).toSeq
    val bmBefore = bmTop
    assert(sizes(bm) === Map("postings" -> 4, "doclens" -> 4, "stats" -> 4) && bmBefore.size === 4)
    Bm25.compactPostings(spark, bm)
    assert(sizes(bm) === Map("postings" -> 1, "doclens" -> 1, "stats" -> 1) && bmTop === bmBefore)
    swept(bm)
  }

  test("a writer in another JVM keeps its unpublished dirs and re-bases onto versions published meanwhile") {
    // the second writer reaches the same dir through the `file:` scheme: a
    // lock of its own, as in another JVM
    val root = CrashFs.root(spark, "graft-xjvm")
    val dir = root.stripPrefix("crash://")
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", root, numPartitions = 4)
    // the append is held inside its publish, after writing its data and
    // before listing the manifests (its first listing read its base)
    CrashFs.pauseAt(_.endsWith("/_manifest"), nth = 2)(
      Dedup.appendToMinhashIndex(Seq((7L, flood)).toDF("id", "text"), "id", "text", root)) {
      Dedup.compactMinhashIndex(spark, "id", dir)
      Dedup.appendToMinhashIndex(Seq((8L, s"$near 8")).toDF("id", "text"), "id", "text", dir)
    }
    val idx = IndexMaintenance.current(spark, root, "index")
    assert(idx.version === 3, idx.toString) // compaction 1, append 2, the re-based append 3
    assert(Dedup.indexProbe(Seq((99L, flood)).toDF("id", "text"), "id", "text", root)
      .as[(Long, Long)].collect().toSet === Set((99L, 7L)))
    assert(Dedup.indexProbe(Seq((98L, near)).toDF("id", "text"), "id", "text", root)
      .as[(Long, Long)].collect().toSet === Set((98L, 2L), (98L, 8L)))
  }

  test("a compaction that loses its publish to an append re-bases and keeps the appended doc") {
    val root = CrashFs.root(spark, "graft-race")
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", root, numPartitions = 4)
    val base = IndexMaintenance.current(spark, root, "index")
    // the compaction is held at its read of the sigs; the append publishes first
    CrashFs.pauseAt(_.contains("/sigs/"))(Dedup.compactMinhashIndex(spark, "id", root)) {
      Dedup.appendToMinhashIndex(Seq((7L, flood)).toDF("id", "text"), "id", "text", root)
    }
    val idx = IndexMaintenance.current(spark, root, "index")
    val appended = idx("buckets").filterNot(base("buckets").contains)
    assert(idx.version === 2 && appended.size === 2, idx.toString) // the append's and the compaction's
    assert(idx("sigs").size === 2)
    assert(Dedup.indexProbe(Seq((99L, flood)).toDF("id", "text"), "id", "text", root)
      .as[(Long, Long)].collect().toSet === Set((99L, 7L)))
    assert(Dedup.indexProbe(Seq((98L, near)).toDF("id", "text"), "id", "text", root)
      .as[(Long, Long)].collect().toSet === Set((98L, 2L)))
    swept(root)
  }

  test("a fuzzy compaction that loses its publish re-prefixes the appended strings under its order") {
    val root = CrashFs.root(spark, "graft-fzrace")
    FuzzyJoin.writeIndex(strings.toDF("id", "s"), "id", "s", root, numPartitions = 4)
    CrashFs.pauseAt(_.contains("/strings/"))(FuzzyJoin.compactIndex(spark, root)) {
      FuzzyJoin.appendToIndex(wave.toDF("id", "s"), "id", "s", root)
    }
    val idx = IndexMaintenance.current(spark, root, "index")
    assert(idx.version === 2 && idx("gramdf").size === 1 && idx("prefix").size === 2, idx.toString)
    val got = FuzzyJoin.indexProbe(Seq((20L, "kitten sittinz"), (21L, "manifest publist")).toDF("id", "s"),
      "id", "s", root).select("id", "match_id").as[(Long, Long)].collect().toSet
    assert(got === Set((20L, 1L), (20L, 10L), (21L, 3L), (21L, 11L)))
  }

  test("IVF-SQ8 lifecycle: append with existing centroids is probe-visible; compact coalesces waves") {
    val dir = tempDir("graft-maint")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.where(col("vec_id") >= 100)
    val batch = emb.where(col("vec_id") < 100)
    val model = Ivf.train(base, "vec_id", "embedding", k = 4, iters = 1)
    Ivf.writeIndexSq8(base, "vec_id", "embedding", model, dir)
    val query = emb.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    // before the append, vec 0 is not in the index — it cannot be found
    val before = Ivf.topKSq8(spark, dir, emb, "vec_id", "embedding", query, k = 5)
      .as[Long].collect()
    assert(!before.contains(0L))
    Ivf.appendToIndexSq8(batch, "vec_id", "embedding", dir)
    // the appended vector IS its own exact-cosine nearest neighbor
    val after = Ivf.topKSq8(spark, dir, emb, "vec_id", "embedding", query, k = 5)
      .as[Long].collect()
    assert(after.head === 0L)
    // compaction coalesces the two write waves; probe result is unchanged
    def files = {
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      IndexMaintenance.current(spark, dir, "index")("lists").map { d =>
        val it = fs.listFiles(new Path(s"$dir/$d"), true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).count(_.getPath.getName.endsWith(".parquet"))
      }.sum
    }
    val filesBefore = files
    Ivf.compactIndexSq8(spark, dir)
    assert(files < filesBefore, s"compaction should shrink the file count ($filesBefore -> $files)")
    val compacted = Ivf.topKSq8(spark, dir, emb, "vec_id", "embedding", query, k = 5)
      .as[Long].collect()
    assert(compacted.toSeq === after.toSeq)
  }

  test("every probe reads the partition count of the newest build") {
    val dir = tempDir("graft-rebuild")
    val probe = Seq((9L, near)).toDF("id", "text")
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", dir, numPartitions = 4)
    assert(IndexMaintenance.current(spark, dir, "index").partitions === 4)
    assert(Dedup.indexProbe(probe, "id", "text", dir).as[(Long, Long)].collect().toSet === Set((9L, 2L)))
    // a rebuild at another modulus: the next probe hashes with it
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", dir, numPartitions = 8)
    val idx = IndexMaintenance.current(spark, dir, "index")
    assert(idx.partitions === 8 && idx("buckets").size === 1 && idx("sigs").size === 1)
    assert(Dedup.indexProbe(probe, "id", "text", dir).as[(Long, Long)].collect().toSet === Set((9L, 2L)))
    swept(dir)
  }

  test("an index builds beside an unrelated path that shares its name's prefix") {
    val dir = tempDir("graft-idx-sibling")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/idx.bak"), "kept")
    Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", s"$dir/idx", numPartitions = 4)
    assert(Dedup.indexProbe(Seq((9L, near)).toDF("id", "text"), "id", "text", s"$dir/idx")
      .as[(Long, Long)].collect().toSet === Set((9L, 2L)))
  }

  test("an index of the earlier format is refused, naming its dir") {
    val dir = tempDir("graft-oldidx")
    Seq((1L, Seq(1L))).toDF("id", "sig").write.parquet(s"$dir/sigs")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_layout"), "4")
    Seq[() => Any](
      () => Dedup.writeMinhashIndex(corpus.toDF("id", "text"), "id", "text", dir),
      () => Dedup.appendToMinhashIndex(corpus.toDF("id", "text"), "id", "text", dir),
      () => Dedup.indexProbe(corpus.toDF("id", "text"), "id", "text", dir)).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(s"$dir predates the manifest format"), e.getMessage)
    }
  }
}
