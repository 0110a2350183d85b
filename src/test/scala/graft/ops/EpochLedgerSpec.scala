package graft.ops

import graft.{CrashFs, SparkSpec}
import graft.ops.EpochStore.Ledger
import graft.sinks.BatchCtx

/** Unit tests for the shared epoch-asset protocol three assets (monitor
  * sketches, PCA suffstats, budget histograms) ride: each replay-ledger
  * primitive's edges, [[EpochStore.fold]]'s all-or-nothing publish, and a
  * crash at every publish step; the asset e2es prove the composition.
  */
class EpochLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("isReplay: exact (batchId, leg) match only") {
    val led = Some(Ledger(7L, Set("a", "b")))
    assert(EpochStore.isReplay(Some((7L, "a")), led))
    assert(EpochStore.isReplay(Some((7L, "b")), led))
    assert(!EpochStore.isReplay(Some((7L, "c")), led)) // new leg, same batch
    assert(!EpochStore.isReplay(Some((6L, "a")), led)) // older id is NOT <= matched
    assert(!EpochStore.isReplay(Some((8L, "a")), led))
    assert(!EpochStore.isReplay(None, led)) // ctx-less folds never skip
    assert(!EpochStore.isReplay(Some((7L, "a")), None)) // virgin asset
  }

  test("advanceLedger: accumulate legs within a batch, roll on a new id, preserve without ctx") {
    val led = Some(Ledger(7L, Set("b", "a")))
    assert(EpochStore.advanceLedger(Some((7L, "c")), led)
      === Some((7L, Seq("a", "b", "c")))) // sorted, deterministic
    assert(EpochStore.advanceLedger(Some((8L, "z")), led) === Some((8L, Seq("z"))))
    assert(EpochStore.advanceLedger(Some((0L, "z")), None) === Some((0L, Seq("z"))))
    assert(EpochStore.advanceLedger(None, led) === Some((7L, Seq("a", "b"))))
    assert(EpochStore.advanceLedger(None, None).isEmpty)
  }

  test("fold: a merge that throws commits nothing; the next good fold advances") {
    // Pca's width check and the histogram's pinned declaration refuse
    // inside `next` — the refusal must leave the asset exactly as it was
    val path = tempDir("graft-epoch-fold") + "/asset"
    def listing = new java.io.File(path).list().toSet
    def ledger = EpochStore.ledgerOf(spark, path)
    EpochStore.fold(spark, path, Some(BatchCtx(0L, "a"))) { live =>
      assert(live.isEmpty)
      Seq((1L, "x")).toDF("n", "s")
    }
    val (epoch0, ledger0, listing0) =
      (EpochStore.currentEpoch(spark, path), ledger, listing)
    assert(epoch0.exists(_.endsWith("epoch_0")))
    assert(ledger0 === Some(Ledger(0L, Set("a"))))
    val e = intercept[IllegalArgumentException] {
      EpochStore.fold(spark, path, Some(BatchCtx(1L, "a"))) { _ =>
        throw new IllegalArgumentException("width mismatch")
      }
    }
    assert(e.getMessage === "width mismatch")
    assert(EpochStore.currentEpoch(spark, path) === epoch0)
    assert(ledger === ledger0)
    assert(listing === listing0)
    // the good fold sees the live rows, which carry no ledger columns
    EpochStore.fold(spark, path, Some(BatchCtx(1L, "a"))) { live =>
      assert(live.map(_.columns.toSeq) === Some(Seq("n", "s")))
      live.get.unionByName(Seq((2L, "y")).toDF("n", "s"))
    }
    assert(EpochStore.currentEpoch(spark, path).exists(_.endsWith("epoch_1")))
    assert(ledger === Some(Ledger(1L, Set("a"))))
    assert(EpochStore.read(spark, path, "asset").select("n").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L))
  }

  /** Asset rows and ledger; the named dirs are the live and grace epochs. */
  private def stateOf(path: String) =
    (EpochStore.read(spark, path, "asset").toJSON.collect().toSet, EpochStore.ledgerOf(spark, path))

  private def swept(path: String): Unit = {
    val version = EpochStore.currentEpoch(spark, path).get.split('/').last.stripPrefix("epoch_").toLong
    CrashFs.assertOnly(spark, path,
      Some(Set(s"_manifest/$version", s"epoch_$version") ++ Option.when(version > 0)(s"epoch_${version - 1}")))
  }

  test("a crash anywhere in a ctx fold recovers to the old or the folded asset; its replay is skipped") {
    val emb = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 1.0f)).toDF("v")
    CrashFs.crashAtEveryCall(spark,
      path => (0L to 1L).foreach(b => Pca.appendStats(emb, "v", path, Some(BatchCtx(b, "a→t")))),
      path => Pca.appendStats(emb, "v", path, Some(BatchCtx(2L, "a→t"))),
      stateOf, swept)
  }

  test("a crash anywhere in a ctx-less fold recovers to the old or the rebuilt asset; the ledger stays") {
    val docs = Seq((1L, 2.0, 10L), (2L, 5.0, 20L)).toDF("id", "score", "tok")
    def rebuild(rows: org.apache.spark.sql.DataFrame, path: String) =
      Sampling.rebuildBudgetHistogram(rows, org.apache.spark.sql.functions.col("score"),
        org.apache.spark.sql.functions.col("tok"), path, lo = 0.0, hi = 8.0, bins = 8)
    CrashFs.crashAtEveryCall(spark,
      { path =>
        Sampling.appendBudgetHistogram(docs, org.apache.spark.sql.functions.col("score"),
          org.apache.spark.sql.functions.col("tok"), path, lo = 0.0, hi = 8.0, bins = 8,
          ctx = Some(BatchCtx(4L, "a→t")))
        rebuild(docs, path)
      },
      path => rebuild(docs.where("id = 1"), path),
      stateOf, swept)
  }

  test("an epoch asset of the earlier format is refused, naming its dir") {
    val path = tempDir("graft-epoch-old") + "/asset"
    Seq((1L, "x")).toDF("n", "s").write.parquet(s"$path/epoch_0")
    Seq[() => Any](() => EpochStore.read(spark, path, "asset"),
      () => EpochStore.fold(spark, path, None)(_ => Seq((2L, "y")).toDF("n", "s"))).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(s"$path predates the manifest format"), e.getMessage)
    }
  }
}
