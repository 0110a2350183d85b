package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}

/** The shared index-maintenance protocol ([[IndexMaintenance]]): the
  * append-epoch markers that make the append/compact race DETECTABLE, the
  * compactor's pre-swap quiescence check, and the idempotent crash repair.
  * The lease-exclusion behaviors (second maintainer refused, stale lease
  * broken, append refused under a live lease) are covered in OpsSpec
  * through the MinHash index's public surface; this spec pins the protocol
  * primitives themselves.
  */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def localFs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def withDir(f: (String, FileSystem) => Unit): Unit = {
    val dir = tempDir("graft-maint")
    val fs = localFs
    try f(dir, fs)
    finally { val _ = fs.delete(new Path(dir), true) }
  }

  test("beginAppend under a live lease refuses AND leaves no marker behind") {
    withDir { (dir, fs) =>
      val out = fs.create(IndexMaintenance.maintenanceLock(dir), false)
      out.writeBytes("pid=fake\n"); out.close()
      val e = intercept[IllegalStateException] {
        IndexMaintenance.beginAppend(fs, dir, leaseMs = 60000)
      }
      assert(e.getMessage.contains("append refused"))
      // the refused append must not leave a marker that would wedge the
      // running compactor's quiescence check until the orphan timeout
      val markers =
        try fs.listStatus(IndexMaintenance.appendMarkerDir(dir)).filter(_.isFile)
        catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
      assert(markers.isEmpty)
    }
  }

  test("quiescedSince: live marker or a changed source listing → not quiesced") {
    withDir { (dir, fs) =>
      val src = new Path(s"$dir/sigs")
      fs.mkdirs(src)
      val w = fs.create(new Path(src, "part-0.parquet"), false)
      w.writeBytes("x"); w.close()
      val snap = IndexMaintenance.listingFingerprint(fs, src)
      assert(IndexMaintenance.quiescedSince(fs, dir, src, snap, leaseMs = 60000))
      // an in-flight append marker blocks the swap
      val marker = IndexMaintenance.beginAppend(fs, dir, leaseMs = 60000)
      assert(!IndexMaintenance.quiescedSince(fs, dir, src, snap, leaseMs = 60000))
      IndexMaintenance.endAppend(fs, marker)
      assert(IndexMaintenance.quiescedSince(fs, dir, src, snap, leaseMs = 60000))
      // a file that landed after the snapshot blocks it too (the completed
      // append whose marker is already gone — its rows must be re-read)
      val w2 = fs.create(new Path(src, "part-1.parquet"), false)
      w2.writeBytes("y"); w2.close()
      assert(!IndexMaintenance.quiescedSince(fs, dir, src, snap, leaseMs = 60000))
      // ...until a NEW snapshot covers it
      val snap2 = IndexMaintenance.listingFingerprint(fs, src)
      assert(IndexMaintenance.quiescedSince(fs, dir, src, snap2, leaseMs = 60000))
    }
  }

  test("an orphaned append marker is cleaned, not allowed to wedge compaction") {
    withDir { (dir, fs) =>
      val src = new Path(s"$dir/sigs")
      fs.mkdirs(src)
      val snap = IndexMaintenance.listingFingerprint(fs, src)
      val marker = IndexMaintenance.beginAppend(fs, dir, leaseMs = 60000)
      // a crashed appender can't endAppend; age the marker past the lease
      fs.setTimes(marker, System.currentTimeMillis() - 120000, -1)
      assert(IndexMaintenance.quiescedSince(fs, dir, src, snap, leaseMs = 60000))
      assert(!fs.exists(marker)) // cleaned as an orphan
    }
  }

  test("compaction retries while an append is in flight and aborts past maxRebuilds") {
    withDir { (dir, fs) =>
      Dedup.writeMinhashIndex(
        Seq((1L, "some indexed document about spark plans and shuffles ok"))
          .toDF("id", "text"), "id", "text", dir)
      // an append whose lease check passed JUST before the compactor
      // acquired: its marker is live for the whole compaction
      val marker = IndexMaintenance.beginAppend(fs, dir, leaseMs = 600000)
      try {
        val e = intercept[IllegalStateException] {
          Dedup.compactMinhashIndex(spark, "id", dir, maxRebuilds = 2)
        }
        assert(e.getMessage.contains("appends kept landing"))
        // the abort must leave the live index intact and release the lease
        assert(fs.exists(new Path(s"$dir/buckets")))
        assert(!fs.exists(IndexMaintenance.maintenanceLock(dir)))
      } finally IndexMaintenance.endAppend(fs, marker)
      // with the append drained, the same compaction succeeds
      Dedup.compactMinhashIndex(spark, "id", dir, maxRebuilds = 2)
      assert(Dedup.indexProbe(
        Seq((2L, "some indexed document about spark plans and shuffles ok"))
          .toDF("id", "text"), "id", "text", dir).count() === 1)
    }
  }

  test("a sig file landing mid-rebuild forces a second rebuild that includes it") {
    withDir { (dir, fs) =>
      val text = "some indexed document about spark plans and shuffles ok"
      Dedup.writeMinhashIndex(Seq((1L, text)).toDF("id", "text"), "id", "text", dir)
      // complete an append AFTER taking the compactor's snapshot but with
      // no marker left (the completed-append half of the race): simulate by
      // snapshotting, appending, then checking quiescence — the changed
      // listing must be detected, and a compaction run now must emit a
      // bucket set that probes find the appended doc in
      val src = new Path(s"$dir/sigs")
      val snap = IndexMaintenance.listingFingerprint(fs, src)
      Dedup.appendToMinhashIndex(Seq((7L, text)).toDF("id", "text"), "id", "text", dir)
      assert(!IndexMaintenance.quiescedSince(fs, dir, src, snap, leaseMs = 60000))
      Dedup.compactMinhashIndex(spark, "id", dir)
      val hits = Dedup.indexProbe(Seq((9L, text)).toDF("id", "text"), "id", "text", dir)
      assert(hits.as[(Long, Long)].collect().map(_._2).toSet === Set(1L, 7L))
    }
  }

  test("IVF-SQ8 lifecycle: append with existing centroids is probe-visible; compact coalesces waves") {
    withDir { (dir, fs) =>
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val base = emb.where(org.apache.spark.sql.functions.col("vec_id") >= 100)
      val batch = emb.where(org.apache.spark.sql.functions.col("vec_id") < 100)
      val model = Ivf.train(base, "vec_id", "embedding", k = 4, iters = 1)
      Ivf.writeIndexSq8(base, "vec_id", "embedding", model, dir)
      val query = emb.where(org.apache.spark.sql.functions.col("vec_id") === 0)
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
      val filesBefore = IndexMaintenance
        .listingFingerprint(fs, new Path(s"$dir/lists"), recursive = true).size
      Ivf.compactIndexSq8(spark, dir)
      val filesAfter = IndexMaintenance
        .listingFingerprint(fs, new Path(s"$dir/lists"), recursive = true).size
      assert(filesAfter < filesBefore,
        s"compaction should shrink the file count ($filesBefore -> $filesAfter)")
      val compacted = Ivf.topKSq8(spark, dir, emb, "vec_id", "embedding", query, k = 5)
        .as[Long].collect()
      assert(compacted.toSeq === after.toSeq)
    }
  }

  test("IVF-SQ8 append refuses under a live lease; probe repairs a crashed list swap") {
    withDir { (dir, fs) =>
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      val model = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1)
      Ivf.writeIndexSq8(emb, "vec_id", "embedding", model, dir)
      val out = fs.create(IndexMaintenance.maintenanceLock(dir), false)
      out.writeBytes("pid=fake\n"); out.close()
      val e = intercept[IllegalStateException] {
        Ivf.appendToIndexSq8(emb.limit(5), "vec_id", "embedding", dir)
      }
      assert(e.getMessage.contains("append refused"))
      fs.delete(IndexMaintenance.maintenanceLock(dir), false)
      // a compaction that died between its two renames: probe repairs in-line
      assert(fs.rename(new Path(s"$dir/lists"), new Path(s"$dir/lists.old")))
      val query = emb.select("embedding").head().getSeq[Float](0).toArray
      assert(Ivf.topKSq8(spark, dir, emb, "vec_id", "embedding", query, k = 3)
        .as[Long].collect().length === 3)
      assert(fs.exists(new Path(s"$dir/lists")) && !fs.exists(new Path(s"$dir/lists.old")))
    }
  }

  test("repairCrashedSwap: loser of the rename race treats the winner's repair as success") {
    withDir { (dir, fs) =>
      val live = new Path(s"$dir/buckets")
      val old = new Path(s"$dir/buckets.old")
      fs.mkdirs(old)
      assert(IndexMaintenance.repairCrashedSwap(fs, live, old)) // winner path
      assert(fs.exists(live) && !fs.exists(old))
      // second repairer arrives after the winner: nothing to rename, live
      // exists → success, no exception
      assert(IndexMaintenance.repairCrashedSwap(fs, live, old))
      // neither dir exists → the index is genuinely gone; returns false
      // (nothing repaired, nothing to repair) rather than erroring
      fs.delete(live, true)
      assert(!IndexMaintenance.repairCrashedSwap(fs, live, old))
    }
  }

  test("resolveLayout sees a _layout rewritten by a rebuild in another JVM") {
    withDir { (dir, fs) =>
      IndexMaintenance.writeLayout(fs, dir, 4)
      assert(IndexMaintenance.resolveLayout(fs, dir, 1) === 4)
      // the other JVM's rebuild rewrites the meta; nothing in this one hears of it
      val out = fs.create(new Path(s"$dir/${IndexMaintenance.LayoutFile}"), true)
      try out.write("8".getBytes("UTF-8")) finally out.close()
      assert(IndexMaintenance.resolveLayout(fs, dir, 1) === 8)
    }
  }
}
