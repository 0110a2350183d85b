package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Sampling.tokenBudgetSelect]] vs the naive global-window prefix (the
  * RepetitionPropertySpec pattern): the histogram-fold + bin-local-window
  * plan must equal the obviously-correct single-window form bit-for-bit,
  * on every input shape the bin boundaries could mishandle.
  */
class TokenBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** The naive form: one global (score desc, id) running sum, prefix by
    * cum <= budget.
    */
  private def naive(rows: Seq[(Long, Double, Long)], budget: Long): Set[Long] = {
    var cum = 0L
    rows.sortBy { case (id, s, _) => (-s, id) }
      .iterator.map { case (id, _, t) => cum += t; (id, cum) }
      .takeWhile(_._2 <= budget).map(_._1).toSet
  }

  private def got(rows: Seq[(Long, Double, Long)], budget: Long,
                  bins: Int = 16): Set[Long] =
    Sampling.tokenBudgetSelect(
        rows.toDF("id", "score", "tok").repartition(5),
        "id", col("score"), col("tok"), budget, bins)
      .select("id").as[Long].collect().toSet

  test("equals the naive global-window prefix on random corpora") {
    val rng = new scala.util.Random(14L)
    for (trial <- 0 until 8) {
      // coarse score grid forces ties (id tie-break) and bin-edge pileups
      val rows = (0 until 400).map(i => (i.toLong,
        (rng.nextInt(20) / 4.0) + (if (trial % 2 == 0) rng.nextDouble() * 1e-3 else 0.0),
        1L + rng.nextInt(50)))
      val budget = 1L + rng.nextInt(rows.map(_._3).sum.toInt)
      assert(got(rows, budget) === naive(rows, budget), s"trial $trial budget $budget")
    }
  }

  test("budget edges: zero, one-doc, everything, straddling a tie group") {
    val rows = Seq((1L, 2.0, 10L), (2L, 2.0, 10L), (3L, 2.0, 10L), (4L, 1.0, 5L))
    assert(got(rows, 0L) === Set.empty)
    assert(got(rows, 10L) === Set(1L))
    assert(got(rows, 25L) === Set(1L, 2L)) // doc 3 overflows, doc 4 NOT pulled in: prefix, not knapsack
    assert(got(rows, 35L) === Set(1L, 2L, 3L, 4L))
    assert(got(rows, 1000L) === Set(1L, 2L, 3L, 4L))
  }

  test("degenerate shapes: constant score, single bin, null score/tokens excluded") {
    val const = Seq((1L, 5.0, 3L), (2L, 5.0, 3L), (3L, 5.0, 3L))
    assert(got(const, 6L) === Set(1L, 2L)) // id order inside the one bin
    assert(got(const, 6L, bins = 1) === Set(1L, 2L))
    val withNulls = Seq((1L, Some(2.0), Some(4L)), (2L, None, Some(4L)),
      (3L, Some(1.0), None)).toDF("id", "score", "tok")
    val sel = Sampling.tokenBudgetSelect(withNulls, "id", col("score"),
      col("tok"), 100L).select("id").as[Long].collect().toSet
    assert(sel === Set(1L))
  }

  test("incremental histogram folds equal the one-shot selection exactly") {
    val rng = new scala.util.Random(21L)
    val rows = (0 until 300).map(i =>
      (i.toLong, rng.nextDouble() * 10, 1L + rng.nextInt(30)))
    val df = rows.toDF("id", "score", "tok")
    val path = tempDir("tb-incr")
    // three appends (uneven split), declared range [0, 10], coarse bins
    for (m <- 0 until 3)
      Sampling.appendBudgetHistogram(df.where(col("id") % 3 === m),
        col("score"), col("tok"), path, lo = 0.0, hi = 10.0, bins = 8)
    for (budget <- Seq(0L, 500L, 2000L, 100000L)) {
      val inc = Sampling.tokenBudgetSelectFromStats(df, "id", col("score"),
        col("tok"), path, budget).select("id").as[Long].collect().toSet
      assert(inc === naive(rows, budget), s"budget $budget")
    }
    // live + one grace epoch only (the shared EpochStore protocol)
    assert(graft.ops.EpochStore.currentEpoch(spark, path)
      .exists(_.endsWith("epoch_2")))
  }

  test("out-of-declared-range scores stay exact (clamped top bin, negative bins)") {
    val rows = Seq((1L, -5.0, 10L), (2L, 0.5, 10L), (3L, 99.0, 10L),
      (4L, 98.0, 10L), (5L, 0.6, 10L))
    val df = rows.toDF("id", "score", "tok")
    val path = tempDir("tb-oor")
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 1.0, bins = 4)
    for (budget <- Seq(10L, 20L, 30L, 45L)) {
      val inc = Sampling.tokenBudgetSelectFromStats(df, "id", col("score"),
        col("tok"), path, budget).select("id").as[Long].collect().toSet
      assert(inc === naive(rows, budget), s"budget $budget")
    }
  }

  test("asset declaration is pinned; replayed ctx folds are skipped") {
    val df = Seq((1L, 1.0, 5L), (2L, 2.0, 7L)).toDF("id", "score", "tok")
    val path = tempDir("tb-ledger")
    val ctx = Some(graft.sinks.BatchCtx(4L, "db.docs"))
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4, ctx = ctx)
    def totalToks = spark.read
      .parquet(graft.ops.EpochStore.currentEpoch(spark, path).get)
      .agg(sum("toks")).head().getLong(0)
    assert(totalToks === 12L)
    // crash replay: same (batchId, leg) must not double-fold
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4, ctx = ctx)
    assert(totalToks === 12L, "replayed fold double-counted")
    // a ctx-less fold is at-least-once but preserves the ledger...
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    assert(totalToks === 24L)
    // ...so the in-flight batch's replay is STILL skipped
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4, ctx = ctx)
    assert(totalToks === 24L)
    // a mismatched declaration refuses instead of silently re-binning
    val err = intercept[IllegalArgumentException] {
      Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
        path, lo = 0.0, hi = 20.0, bins = 4)
    }
    assert(err.getMessage.contains("declared"))
  }

  /** Run a selection with the window-input probe armed; returns
    * (selected ids, window input row counts in invocation order).
    */
  private def gotProbed(rows: Seq[(Long, Double, Long)], budget: Long,
                        bins: Int): (Set[Long], Seq[Long]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    Sampling.probeWindowInput = Some(buf)
    try {
      val ids = Sampling.tokenBudgetSelect(
          rows.toDF("id", "score", "tok").repartition(5),
          "id", col("score"), col("tok"), budget, bins)
        .select("id").as[Long].collect().toSet
      (ids, buf.toSeq)
    } finally Sampling.probeWindowInput = None
  }

  test("skew-fat cutoff bin is re-binned: window input bounded, result unchanged") {
    // the drifted-declared-range shape: 95% of scores sit in a band 1e-5
    // wide while outliers stretch the observed range to ~100, so
    // equal-width outer bins pile the mass into ONE bin. The two-level
    // refinement must re-bin that slice and window only the straddling
    // SUB-bin (~slice/bins), never the whole fat bin.
    val rng = new scala.util.Random(33L)
    val rows = (0 until 2000).map { i =>
      val s = if (i < 1900) rng.nextDouble() * 1e-5 else 10.0 + rng.nextDouble() * 90.0
      (i.toLong, s, 1L + rng.nextInt(20))
    }
    val bins = 16
    val budgets = Seq(4000L, 9000L, 15000L) // inside the fat low-score mass
    for (budget <- budgets) {
      val (ids, windowInputs) = gotProbed(rows, budget, bins)
      assert(ids === naive(rows, budget), s"budget $budget")
      assert(windowInputs.size === 1, s"budget $budget: one straddling window")
      // bounded by the refined sub-slice, with slack for uneven sub-bins —
      // the UNREFINED fat bin is 1900 rows, the refined window must be
      // an order of magnitude under it
      assert(windowInputs.head <= 1900 / bins * 4,
        s"budget $budget: window input ${windowInputs.head} not re-binned")
    }
  }

  test("refined plan keeps ONE window and no global sort") {
    val rng = new scala.util.Random(34L)
    val rows = (0 until 2000).map { i =>
      val s = if (i < 1900) rng.nextDouble() * 1e-5 else 10.0 + rng.nextDouble() * 90.0
      (i.toLong, s, 1L + rng.nextInt(20))
    }
    val df = Sampling.tokenBudgetSelect(rows.toDF("id", "score", "tok"),
      "id", col("score"), col("tok"), 9000L, 16)
    val p = df.queryExecution.executedPlan.toString
    assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isEmpty,
      s"global sort in the refined plan:\n${p.take(3000)}")
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(3000))
  }

  test("constant-score cutoff bin is unrefinable and still exact") {
    // every row ties: the naive form pays the same full window, so paying
    // it here is not a regression — but the result must stay the exact
    // id-ordered prefix and the probe must show the refinement declined
    val rows = (0 until 500).map(i => (i.toLong, 7.0, 3L))
    val (ids, windowInputs) = gotProbed(rows, 99L, 16)
    assert(ids === naive(rows, 99L))
    assert(ids === (0L until 33L).toSet) // 33 * 3 = 99: id-order prefix
    assert(windowInputs === Seq(500L)) // the whole (tied) bin, by design
  }

  test("zipf scores: refinement engages and the selection stays exact") {
    val rows = (0 until 1500).map(i =>
      (i.toLong, 100.0 / (i + 1), 1L + (i % 7)))
    for (budget <- Seq(100L, 1200L, 4000L)) {
      val (ids, _) = gotProbed(rows, budget, 16)
      assert(ids === naive(rows, budget), s"budget $budget")
    }
  }

  test("rebuild replaces the asset (batch semantics): re-runs idempotent, appends merge") {
    val df = Seq((1L, 1.0, 5L), (2L, 2.0, 7L)).toDF("id", "score", "tok")
    val path = tempDir("tb-rebuild")
    def totalToks = spark.read
      .parquet(graft.ops.EpochStore.currentEpoch(spark, path).get)
      .agg(sum("toks")).head().getLong(0)
    // two rebuilds of the same table = one table's histogram (a batch
    // pipeline re-run must not double the asset like an append would)
    Sampling.rebuildBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    assert(totalToks === 12L)
    Sampling.rebuildBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    assert(totalToks === 12L, "batch rebuild accumulated instead of replacing")
    // an append on top merges (the streaming semantics)...
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    assert(totalToks === 24L)
    // ...and the next rebuild replaces the accumulated state again
    Sampling.rebuildBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    assert(totalToks === 12L)
    // declaration stays pinned across rebuilds too
    val err = intercept[IllegalArgumentException] {
      Sampling.rebuildBudgetHistogram(df, col("score"), col("tok"),
        path, lo = 0.0, hi = 99.0, bins = 4)
    }
    assert(err.getMessage.contains("declared"))
    // a rebuild preserves a recorded streaming ledger (mixed maintainers
    // on one path are operator error, but replay protection must survive)
    val ctx = Some(graft.sinks.BatchCtx(7L, "db.docs"))
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4, ctx = ctx)
    assert(totalToks === 24L)
    Sampling.rebuildBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    Sampling.appendBudgetHistogram(df, col("score"), col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4, ctx = ctx)
    assert(totalToks === 12L, "replayed streaming fold applied after rebuild")
  }

  test("signed deltas retract exactly: histogram tracks the surviving rows") {
    // per-bin sums are a commutative GROUP: folding a delete as the
    // negation of its insert leaves the histogram equal to the survivors'
    // one-shot histogram, so selection off the asset stays exact
    val rng = new scala.util.Random(41L)
    val rows = (0 until 200).map(i =>
      (i.toLong, rng.nextDouble() * 10, 1L + rng.nextInt(30)))
    val deleted = rows.filter(_._1 % 5 == 0)
    val survivors = rows.filterNot(_._1 % 5 == 0)
    val path = tempDir("tb-retract")
    Sampling.appendBudgetHistogram(rows.toDF("id", "score", "tok"),
      col("score"), col("tok"), path, lo = 0.0, hi = 10.0, bins = 8)
    Sampling.appendBudgetDeltas(deleted.toDF("id", "score", "tok"),
      col("score"), -col("tok"), path, lo = 0.0, hi = 10.0, bins = 8)
    for (budget <- Seq(0L, 300L, 1500L, 100000L)) {
      val sel = Sampling.tokenBudgetSelectFromStats(
          survivors.toDF("id", "score", "tok"), "id", col("score"),
          col("tok"), path, budget).select("id").as[Long].collect().toSet
      assert(sel === naive(survivors, budget), s"budget $budget")
    }
    // full retraction nets the histogram to the empty corpus's
    Sampling.appendBudgetDeltas(survivors.toDF("id", "score", "tok"),
      col("score"), -col("tok"), path, lo = 0.0, hi = 10.0, bins = 8)
    val total = spark.read
      .parquet(graft.ops.EpochStore.currentEpoch(spark, path).get)
      .agg(sum("toks")).head().getLong(0)
    assert(total === 0L)
  }

  test("selection is partitioning-invariant") {
    val rng = new scala.util.Random(7L)
    val rows = (0 until 300).map(i =>
      (i.toLong, rng.nextDouble() * 10, 1L + rng.nextInt(30)))
    val budget = 900L
    val a = got(rows, budget)
    val b = Sampling.tokenBudgetSelect(rows.toDF("id", "score", "tok").repartition(1),
        "id", col("score"), col("tok"), budget, 16)
      .select("id").as[Long].collect().toSet
    assert(a === b)
  }
}
