package graft.ops

import graft.SparkSpec
import graft.ops.EpochStore.Ledger
import graft.sinks.BatchCtx
import org.apache.spark.sql.functions.col

/** Unit tests for the shared epoch-asset protocol three assets (monitor
  * sketches, PCA suffstats, budget histograms) ride: each replay-ledger
  * primitive's edges, plus [[EpochStore.fold]]'s all-or-nothing commit;
  * the asset e2es prove the composition.
  */
class EpochLedgerSpec extends SparkSpec {
  import spark.implicits._

  private val B = "__x_batch"
  private val L = "__x_legs"

  test("readLedger: pre-ledger tables and null ledgers parse to None") {
    val pre = Seq((1, "a")).toDF("n", "s")
    assert(EpochStore.readLedger(pre, B, L).isEmpty)
    val stampedNull = EpochStore.stampLedger(pre, None, B, L)
    assert(EpochStore.readLedger(stampedNull, B, L).isEmpty)
    val stamped = EpochStore.stampLedger(pre, Some((7L, Seq("l1", "l2"))), B, L)
    assert(EpochStore.readLedger(stamped, B, L)
      === Some(Ledger(7L, Set("l1", "l2"))))
  }

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

  test("stampLedger: constant metadata columns, typed nulls when no ledger") {
    val df = Seq((1, "x"), (2, "y")).toDF("n", "s")
    val st = EpochStore.stampLedger(df, Some((3L, Seq("p", "q"))), B, L)
    val rows = st.select(col(B), col(L)).distinct().collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 3L)
    assert(rows.head.getSeq[String](1) === Seq("p", "q"))
    val nulls = EpochStore.stampLedger(df, None, B, L)
    assert(nulls.schema(B).dataType.typeName === "long")
    assert(nulls.schema(L).dataType.typeName === "array")
    assert(nulls.where(col(B).isNotNull).count() === 0)
  }

  test("fold: a merge that throws commits nothing; the next good fold advances") {
    // Pca's width check and the histogram's pinned declaration refuse
    // inside `next` — the refusal must leave the asset exactly as it was
    val path = tempDir("graft-epoch-fold") + "/asset"
    def listing = new java.io.File(path).list().toSet
    def ledger = EpochStore.readLedger(EpochStore.read(spark, path, "asset"), B, L)
    EpochStore.fold(spark, path, (B, L), Some(BatchCtx(0L, "a"))) { live =>
      assert(live.isEmpty)
      Seq((1L, "x")).toDF("n", "s")
    }
    val (epoch0, ledger0, listing0) =
      (EpochStore.currentEpoch(spark, path), ledger, listing)
    assert(epoch0.exists(_.endsWith("epoch_0")))
    assert(ledger0 === Some(Ledger(0L, Set("a"))))
    val e = intercept[IllegalArgumentException] {
      EpochStore.fold(spark, path, (B, L), Some(BatchCtx(1L, "a"))) { _ =>
        throw new IllegalArgumentException("width mismatch")
      }
    }
    assert(e.getMessage === "width mismatch")
    assert(EpochStore.currentEpoch(spark, path) === epoch0)
    assert(ledger === ledger0)
    assert(listing === listing0)
    // the good fold sees the live rows WITHOUT the ledger columns
    EpochStore.fold(spark, path, (B, L), Some(BatchCtx(1L, "a"))) { live =>
      assert(live.map(_.columns.toSeq) === Some(Seq("n", "s")))
      live.get.unionByName(Seq((2L, "y")).toDF("n", "s"))
    }
    assert(EpochStore.currentEpoch(spark, path).exists(_.endsWith("epoch_1")))
    assert(ledger === Some(Ledger(1L, Set("a"))))
    assert(EpochStore.read(spark, path, "asset").select("n").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L))
  }
}
