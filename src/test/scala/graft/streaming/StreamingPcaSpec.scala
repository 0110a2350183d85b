package graft.streaming

import graft.SparkSpec
import graft.ops.Pca
import org.apache.spark.sql.streaming.Trigger

/** The PCA suffstats asset as a STREAMING asset: a real `readStream` +
  * `foreachBatch` loop folds each micro-batch's sufficient statistics
  * into the persisted epoch table (`Pca.appendStats` — the
  * commutative-monoid fold under the shared EpochStore protocol), and
  * the model re-fit from the asset must match a one-shot batch fit.
  * Each batch pays one scan of ITSELF; the fit never re-reads the
  * corpus — the shape a deployment runs per micro-batch at 100 TB.
  */
class StreamingPcaSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch maintains the suffstats asset across micro-batches") {
    val base = tempDir("graft-spca")
    val in = s"$base/in"
    val stats = s"$base/stats"
    val rnd = new scala.util.Random(43)
    val d = 6
    val sds = Array(8.0, 2.0) ++ Array.fill(d - 2)(0.4)
    val all = (0 until 900).map { i =>
      (i.toLong, (0 until d).map(j => (rnd.nextGaussian() * sds(j)).toFloat).toSeq)
    }
    // three input files -> maxFilesPerTrigger=1 forces three micro-batches
    all.grouped(300).zipWithIndex.foreach { case (wave, i) =>
      wave.toDF("id", "vec").coalesce(1).write.parquet(s"$in/w$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))))
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Pca.appendStats(batch, "vec", stats)
        batches += 1
        ()
      }
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    assert(batches === 3) // one fold per micro-batch
    // live + one grace epoch only: the folds GC'd below the grace bar
    assert(graft.ops.EpochStore.currentEpoch(spark, stats)
      .exists(_.endsWith("epoch_2")))
    val streamed = Pca.fitFromStats(spark, stats, k = d)
    val oneShot = Pca.fit(all.toDF("id", "vec"), "vec", k = d)
    streamed.mean.zip(oneShot.mean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"mean $a vs $b")
    }
    streamed.eigenvalues.zip(oneShot.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)), s"ev $a vs $b")
    }
  }

  private def assetN(path: String): Long =
    spark.read.parquet(graft.ops.EpochStore.currentEpoch(spark, path).get)
      .head().getAs[Long]("n")

  test("ctx appends are effectively-once under crash replay") {
    val stats = tempDir("graft-spca-replay")
    val batch = (0 until 100).map(i => (i.toLong, Seq(i.toFloat, -i.toFloat)))
      .toDF("id", "vec")
    val ctx7 = Some(graft.sinks.BatchCtx(7L, "db.events"))
    Pca.appendStats(batch, "vec", stats, ctx7)
    assert(assetN(stats) === 100)
    // the crash replay: foreachBatch re-offers the SAME (batchId, leg) —
    // the ledger identifies it and the suffstats must not double-fold
    Pca.appendStats(batch, "vec", stats, ctx7)
    assert(assetN(stats) === 100, "replayed batch double-folded")
    // a DIFFERENT route leg of the same batch id is new work, not a replay
    Pca.appendStats(batch, "vec", stats,
      Some(graft.sinks.BatchCtx(7L, "db.other")))
    assert(assetN(stats) === 200)
    // the next batch id folds and rolls the ledger forward
    Pca.appendStats(batch, "vec", stats,
      Some(graft.sinks.BatchCtx(8L, "db.events")))
    assert(assetN(stats) === 300)
    // ...so the old (7, db.events) pair no longer matches: exact-match
    // ledger semantics, never `batchId <=` (checkpoint resets restart at 0)
    Pca.appendStats(batch, "vec", stats, ctx7)
    assert(assetN(stats) === 400)
  }

  test("ctx-less appends preserve the recorded ledger") {
    val stats = tempDir("graft-spca-ctxless")
    val batch = (0 until 50).map(i => (i.toLong, Seq(i.toFloat, 2f * i)))
      .toDF("id", "vec")
    val ctx = Some(graft.sinks.BatchCtx(3L, "db.events"))
    Pca.appendStats(batch, "vec", stats, ctx)
    // an interleaved BATCH-composer append (no ctx) folds at-least-once
    // but must carry the streaming ledger forward, not null it out...
    Pca.appendStats(batch, "vec", stats)
    assert(assetN(stats) === 100)
    // ...so the in-flight streaming batch's replay is STILL skipped
    Pca.appendStats(batch, "vec", stats, ctx)
    assert(assetN(stats) === 100, "ctx-less fold erased the replay ledger")
  }
}
