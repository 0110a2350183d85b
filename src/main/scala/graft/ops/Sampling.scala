package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling — the reproducible subset stage of a
  * training-data pipeline (prompt-mandated extension; absent from the
  * reference).
  *
  * `df.sample()` is seed-dependent per partitioning and not reproducible
  * across engines or re-runs over re-partitioned data; hashing the KEY is:
  * a row's fate depends only on its key, so samples are stable under
  * re-partitioning, resumable, and consistent between engines. The hash is
  * an md5 hex prefix compared lexicographically — exactly replicable in any
  * engine with md5 (rate granularity 1/65536), and a narrow codegen'd
  * projection: no shuffle, scan-bound at 100 TB.
  */
object Sampling {

  /** Keep predicate: 4-hex-char md5 prefix under the rate threshold.
    * Equal-width lowercase hex compares lexicographically == numerically,
    * in any engine; rate granularity 1/65536.
    */
  def keep(key: Column, rate: Double): Column = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1]: $rate")
    val t = math.round(rate * 65536)
    if (t >= 65536) lit(true)
    else if (t <= 0) lit(false)
    else substring(md5(key.cast("string")), 1, 4) < lit(f"$t%04x")
  }

  /** Uniform deterministic sample at `rate`. */
  def hashSample(df: DataFrame, key: Column, rate: Double): DataFrame =
    df.where(keep(key, rate))

  /** Per-ROW-rate keep predicate: like [[keep]] but the rate is a column
    * (clamped to [0,1]) — quality-weighted sampling, where a document's
    * keep probability is proportional to its quality score. Deterministic
    * like [[keep]] (a row's fate depends only on its key and its own
    * score), nested (a row kept at score s is kept at any s' ≥ s), and a
    * narrow codegen'd projection: no shuffle, scan-bound at 100 TB.
    *
    * A NULL rate yields a NULL predicate, so a null-scored row is DROPPED
    * by `where` — the same null stance as [[keep]]'s null key and
    * [[splitColumn]]'s null split. Callers wanting a different policy pass
    * `coalesce(rate, lit(default))` and choose the default explicitly; this
    * function does not invent one.
    */
  def keepWeighted(key: Column, rate: Column): Column = {
    val thr = round(least(greatest(rate, lit(0.0)), lit(1.0)) * 65536).cast("int")
    when(thr >= 65536, lit(true)).when(thr <= 0, lit(false))
      .otherwise(substring(md5(key.cast("string")), 1, 4) <
        format_string("%04x", thr))
  }

  /** Quality-weighted deterministic sample: keep each row with probability
    * `rate` (a per-row column, e.g. a quality score in [0,1]). Rows with a
    * NULL rate are dropped ([[keepWeighted]]'s documented null stance).
    */
  def weightedSample(df: DataFrame, key: Column, rate: Column): DataFrame =
    df.where(keepWeighted(key, rate))

  /** Stratified deterministic sample: per-stratum rates (e.g. downsample
    * over-represented languages), `defaultRate` for unlisted strata.
    */
  def stratified(df: DataFrame, key: Column, stratum: Column,
                 rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    val cond = rates.foldLeft(when(lit(false), lit(false))) {
      case (w, (s, r)) => w.when(stratum === s, keep(key, r))
    }.otherwise(keep(key, defaultRate))
    df.where(cond)
  }

  /** Source-mix rebalancing — the data-mixing stage of pretraining corpus
    * assembly: derive per-stratum keep rates so the SURVIVING mix matches
    * `targetWeights` (proportions over strata, summing to 1) while keeping
    * as much data as possible — the binding stratum (smallest n/w) is kept
    * whole and every other stratum is downsampled to its proportional
    * share. Strata not in `targetWeights` are dropped; target strata with
    * zero rows are excluded from the budget computation (their share
    * cannot be fabricated). Sampling itself is [[keep]]'s deterministic
    * md5 threshold, so the mix is stable under re-partitioning and re-runs.
    *
    * The stratum count table is a bounded driver collect (one row per
    * stratum — a mixing decision table, like an IVF centroid table), and
    * the applied filter is a narrow codegen'd projection: scan-bound at
    * 100 TB.
    */
  def rebalance(df: DataFrame, key: Column, stratum: Column,
                targetWeights: Map[String, Double]): DataFrame = {
    require(targetWeights.nonEmpty && targetWeights.values.forall(_ > 0) &&
      math.abs(targetWeights.values.sum - 1.0) < 1e-9,
      s"target weights must be positive and sum to 1: $targetWeights")
    val counts = df.groupBy(stratum.cast("string").as("__stratum")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = targetWeights.filter { case (s, _) => counts.getOrElse(s, 0L) > 0L }
    require(present.nonEmpty, "no target stratum present in the data")
    val budget = present.map { case (s, w) => counts(s) / w }.min
    val rates = present.map { case (s, w) => s -> math.min(1.0, w * budget / counts(s)) }
    stratified(df, key, stratum, rates, defaultRate = 0.0)
  }

  /** Disjoint deterministic train/val/test split: the key's md5-prefix
    * value falls into one of the cumulative-weight bands, so every row has
    * exactly one split, membership is stable under re-partitioning and
    * re-runs, and the assignment is replicable in any engine with md5.
    * Same 1/65536 rate granularity as [[keep]]. A NULL key yields a NULL
    * split (the caller decides the policy), matching [[keep]]'s null-drop
    * stance rather than silently dumping null-keyed rows into one band.
    */
  def splitColumn(key: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $weights")
    val prefix = substring(md5(key.cast("string")), 1, 4)
    val cum = weights.scanLeft(0.0)(_ + _._2).tail
    val bands = weights.map(_._1).zip(cum.map(c => math.round(c * 65536)))
    val banded = bands.init.foldLeft(when(lit(false), lit(""))) {
      // a band whose bound rounds to 65536 would format as 5-char "10000"
      // and break the 4-char lexicographic compare (keep() has the same
      // guard): such a band swallows everything remaining
      case (w, (name, hi)) =>
        if (hi >= 65536) w.when(lit(true), name)
        else w.when(prefix < lit(f"$hi%04x"), name)
    }.otherwise(bands.last._1)
    when(key.isNull, lit(null).cast("string")).otherwise(banded)
  }

  /** Temperature-scaled mixture rebalancing — the low-resource-upweighting
    * mixing rule of multilingual/multi-domain pretraining (mC4/mT5,
    * Xue et al. 2021): the surviving mix follows `q_d ∝ n_d^α` (α = 1/T;
    * α = 1 keeps the natural mix, α → 0 approaches uniform), instead of
    * [[rebalance]]'s externally-specified target weights. The target is
    * DERIVED from the observed counts, then applied with the same
    * keep-the-binding-stratum budget math and [[keep]]'s deterministic md5
    * thresholds. Rows with a NULL stratum are dropped and excluded from the
    * mix computation (no stratum, no mixing claim).
    *
    * Same scale shape as [[rebalance]]: one bounded driver collect (a row
    * per stratum) and a narrow codegen'd filter — scan-bound at 100 TB.
    */
  def temperatureRebalance(df: DataFrame, key: Column, stratum: Column,
                           alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    // stratum-sorted so the double sum for Z has one fixed order — the
    // decision table must not depend on hash-map iteration order. Sorted
    // by CODE POINTS ([[codePointOrder]]), not Scala's default UTF-16
    // code-unit order: the oracle replays the fold in DuckDB under binary
    // UTF-8 collation, and the two orders diverge for supplementary-plane
    // strata (surrogates sort above U+E000..U+FFFF code units), which
    // could shift the derived rates by an ULP and break the bit-exact
    // match
    val counts = df.where(stratum.isNotNull)
      .groupBy(stratum.cast("string").as("__stratum")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)(codePointOrder)
    require(counts.nonEmpty, "no non-null stratum present in the data")
    val z = counts.map { case (_, n) => math.pow(n.toDouble, alpha) }.sum
    val weights = counts.map { case (s, n) =>
      s -> math.pow(n.toDouble, alpha) / z }.toMap
    val budget = counts.map { case (s, n) => n / weights(s) }.min
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0, weights(s) * budget / n) }.toMap
    stratified(df, key, stratum, rates, defaultRate = 0.0)
  }

  /** Code-point string order — identical to binary UTF-8 order (UTF-8
    * byte order preserves code-point order), the collation engines like
    * DuckDB compare strings under. Java/Scala's default `String` order
    * compares UTF-16 CODE UNITS, where a supplementary-plane character's
    * surrogates (0xD800–0xDFFF) sort BELOW U+E000..U+FFFF despite having
    * larger code points — any fold whose result feeds a cross-engine
    * bit-exact oracle must sort with this ordering instead.
    */
  private[graft] val codePointOrder: Ordering[String] =
    (a: String, b: String) => {
      var i = 0
      var j = 0
      var r = 0
      while (r == 0 && i < a.length && j < b.length) {
        val ca = a.codePointAt(i)
        val cb = b.codePointAt(j)
        r = Integer.compare(ca, cb)
        i += Character.charCount(ca)
        j += Character.charCount(cb)
      }
      if (r != 0) r else Integer.compare(a.length - i, b.length - j)
    }

  /** Deterministic global shuffle — the epoch-shuffle stage of a training
    * pipeline: rows ordered by `xxhash64(key)`, with `shuffle_pos` the exact
    * 0-based rank in that order. Reproducible across runs, engines, and
    * partitionings (a row's position depends only on its key).
    *
    * Scale shape: the hash ordering lands via `repartitionByRange` +
    * within-partition sort (parallel range exchange, no global sort node),
    * and the rank comes from [[Pack.withOffsets]]'s two-phase prefix sum —
    * no single-partition window, O(partitions) bytes to the driver.
    */
  def deterministicShuffle(df: DataFrame, key: Column): DataFrame =
    // key as tie-break: hash collisions (certain at billions of rows) must
    // not make the order — and therefore positions — partition-dependent
    Pack.withOffsets(df.withColumn("__h", xxhash64(key))
        .withColumn("__k", key), "__h", lit(1L), tieBreak = Seq("__k"))
      .withColumnRenamed("__start", "shuffle_pos")
      .drop("__h", "__k", "__tok")

  /** Exactly-k-per-stratum deterministic sample — eval/holdout-set
    * construction: within each stratum, rank rows by `md5(key)` (total
    * order, key itself as the collision tie-break) and keep rank ≤ k.
    * Rank-based where [[stratified]] is rate-based: the output size per
    * stratum is exactly `min(k, |stratum|)` however skewed the strata, and
    * membership is stable under re-partitioning and re-runs.
    *
    * Scale shape: Spark rewrites the `row_number ≤ k` filter into
    * `WindowGroupLimit` per-partition top-k heaps BEFORE the stratum
    * exchange, so the shuffle carries at most k rows per (partition,
    * stratum) — never a full per-stratum sort.
    */
  def fixedPerStratum(df: DataFrame, key: Column, stratum: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(stratum)
      .orderBy(md5(key.cast("string")), key)
    df.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k).drop("__rank")
  }

  /** Token-budget corpus selection: the best-scored docs whose cumulative
    * token count fits `budget` — the curation step that turns "we can
    * afford B training tokens" into a document set. Semantics are the
    * maximal PREFIX of the (score desc, id asc) order with cumulative
    * tokens ≤ budget (id breaks score ties, so the set is a deterministic
    * pure function of the input — stable across runs, partitionings and
    * engines; a doc that overflows the budget ends the prefix even if a
    * later smaller doc would still fit: prefix, not knapsack). Returns
    * (id, score, n_tokens) for the selected docs. Null scores/tokens are
    * excluded (they have no place in a total order).
    *
    * Scale shape — the naive form is a GLOBAL sort plus a single-partition
    * running-sum window over the corpus; this does neither. Two bounded
    * aggregates and one bin-local window:
    *   1. one scan for the score range, one for a per-bin token histogram
    *      (`bins` order-aligned equal-width score bins — floor of a
    *      monotone affine map, so bin-desc order refines score order);
    *   2. the driver folds the ≤`bins`-row histogram from the top: bins
    *      strictly above the cutoff fit entirely (selected by FILTER, no
    *      sort, no window — the overwhelming share of the output);
    *   3. only the ONE cutoff bin (~1/bins of the corpus) pays a sorted
    *      running-sum window, seeded with the exact BIGINT token sum of
    *      the higher bins — integer arithmetic, so the result equals the
    *      naive global window bit-for-bit (property spec + SQL oracle).
    *      A skew-fat cutoff bin (> [[RefineFrac]] of the corpus's tokens —
    *      degenerate/Zipfian scores) is re-binned ONCE over its own
    *      observed sub-range first (two-level histogram), so the window
    *      input stays bounded even when equal-width binning piles mass
    *      into one bin; only a constant-score bin (pure ties — the naive
    *      form pays the same window) is unrefinable.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: Column,
                        tokensCol: Column, budget: Long, bins: Int = 4096): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    require(bins >= 1, s"bins must be positive: $bins")
    val base = budgetBase(df, idCol, scoreCol, tokensCol)
    val range = base.agg(min("score"), max("score")).head()
    if (range.isNullAt(0)) return base.limit(0) // empty corpus
    val (lo, hi) = (range.getDouble(0), range.getDouble(1))
    // equal-width bins over the observed range; a constant-score corpus
    // degenerates to one bin (= the naive window, still correct)
    val width = math.max((hi - lo) / bins, java.lang.Double.MIN_NORMAL)
    val binned = base.withColumn("__bin", budgetBin(col("score"), lo, width, bins))
    val hist = binned.groupBy("__bin").agg(sum("n_tokens").as("toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    selectByHistogram(binned, idCol, hist, budget, bins)
  }

  /** When the cutoff bin holds more than this fraction of the corpus's
    * tokens (a degenerate/Zipfian score distribution piling mass into few
    * bins — the documented soft spot of equal-width binning), the bin is
    * RE-BINNED once over its own observed score sub-range (a two-level
    * histogram) before paying the window, so the window input stays
    * bounded by ~max(corpus/bins, slice/bins) instead of growing toward
    * the naive global-window case. Semantics are unchanged — binning
    * affects only the plan ([[tokenBudgetSelect]]'s oracle covers both
    * routes); a constant-score cutoff bin cannot be refined (every row
    * ties) and pays the window as before, which is also unavoidable in
    * the naive form.
    */
  private[graft] val RefineFrac = 1.0 / 16

  /** Test hook (the StreamingNative probe pattern): when set, every
    * cutoff-bin window records its input row count here — the
    * skew-hardening contract is "the window input is bounded", which no
    * plan string can assert numerically.
    */
  private[graft] var probeWindowInput:
      Option[scala.collection.mutable.ArrayBuffer[Long]] = None

  private def budgetBase(df: DataFrame, idCol: String, scoreCol: Column,
                         tokensCol: Column, signed: Boolean = false): DataFrame = {
    val base = df.select(col(idCol), scoreCol.cast("double").as("score"),
        tokensCol.cast("long").as("n_tokens"))
      .where(col("score").isNotNull && col("n_tokens").isNotNull)
    if (signed) base else base.where(col("n_tokens") >= 0)
  }

  /** The order-aligned bin of a score under fixed (lo, width, bins) — a
    * monotone affine map + floor, so bin-desc order refines score order.
    * Scores above the top edge clamp into the last bin; scores BELOW `lo`
    * go negative (callers that declared a range treat that as a refusal).
    */
  private def budgetBin(score: Column, lo: Double, width: Double, bins: Int): Column =
    least(floor((score - lit(lo)) / lit(width)), lit(bins - 1L)).cast("long")

  /** Fold a per-bin token histogram from the best score down (exact
    * BIGINT arithmetic): returns the token sum of the bins that fit
    * entirely and the bin the budget line crosses — None = everything
    * fits. An Option, NOT a sentinel value: bin ids can be legitimately
    * negative when a declared-range asset sees below-lo scores.
    */
  private def foldCutoff(hist: Seq[(Long, Long)], budget: Long,
                         seed: Long): (Long, Option[Long]) = {
    val desc = hist.sortBy(-_._1)
    var above = seed
    var cutoff: Option[Long] = None
    var i = 0
    while (cutoff.isEmpty && i < desc.length) {
      val (b, t) = desc(i)
      if (above + t <= budget) above += t else cutoff = Some(b)
      i += 1
    }
    (above, cutoff)
  }

  /** The running-sum window over ONE straddling bin: bin-local sum in the
    * exact global (score desc, id) order, seeded with the exact BIGINT
    * token sum of everything ordered before the bin.
    */
  private def windowSelect(slice: DataFrame, idCol: String, seed: Long,
                           budget: Long): DataFrame = {
    probeWindowInput.foreach(buf => buf.synchronized { buf += slice.count() })
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    slice.withColumn("__cum", sum("n_tokens").over(w) + lit(seed))
      .where(col("__cum") <= budget)
      .drop("__cum")
  }

  /** The shared selection tail: fold the per-bin token histogram from the
    * best score down (exact BIGINT arithmetic), select bins above the
    * cutoff by pure filter, resolve the one straddling bin — re-binned
    * once over its own sub-range first when it is skew-fat (see
    * [[RefineFrac]]) — with a bin-local running-sum window. `binned` must
    * carry (idCol, score, n_tokens, __bin) with __bin produced by
    * [[budgetBin]] over the same binning the histogram used.
    */
  private def selectByHistogram(binned: DataFrame, idCol: String,
                                hist: Seq[(Long, Long)], budget: Long,
                                bins: Int): DataFrame = {
    val (above, cutoff) = foldCutoff(hist, budget, 0L)
    cutoff match {
      case None => binned.drop("__bin") // whole corpus within budget
      case Some(cut) =>
        val whole = binned.where(col("__bin") > cut).drop("__bin")
        val slice = binned.where(col("__bin") === cut).drop("__bin")
        val cutTokens = hist.collectFirst { case (b, t) if b == cut => t }.getOrElse(0L)
        val totalTokens = hist.iterator.map(_._2).sum
        val partial =
          if (cutTokens.toDouble <= RefineFrac * totalTokens)
            windowSelect(slice, idCol, above, budget)
          else refineCutoffBin(slice, idCol, above, budget, bins)
        whole.unionByName(partial)
    }
  }

  /** Two-level histogram: re-bin the skew-fat cutoff bin once over its own
    * observed [min, max] score sub-range, fold again seeded with the outer
    * bins' exact sum, select whole sub-bins by pure filter, and pay the
    * window only on the ONE straddling sub-bin. Costs two bounded
    * aggregates over the slice (min/max + sub-histogram) — aggregation
    * scans, never a sort — and no further recursion: a sub-bin that is
    * still fat is either constant-score (unrefinable — every row ties, the
    * naive form pays the same window) or pathological beyond what one
    * refinement level meaningfully helps.
    */
  private def refineCutoffBin(slice: DataFrame, idCol: String, above: Long,
                              budget: Long, bins: Int): DataFrame = {
    val r = slice.agg(min("score"), max("score")).head()
    // an empty slice (a FromStats asset whose histogram doesn't match the
    // offered corpus — contract misuse) must yield empty, not an NPE
    if (r.isNullAt(0)) return windowSelect(slice, idCol, above, budget)
    val (lo2, hi2) = (r.getDouble(0), r.getDouble(1))
    if (lo2 == hi2) return windowSelect(slice, idCol, above, budget)
    val width2 = math.max((hi2 - lo2) / bins, java.lang.Double.MIN_NORMAL)
    val sub = slice.withColumn("__subbin", budgetBin(col("score"), lo2, width2, bins))
    val subHist = sub.groupBy("__subbin").agg(sum("n_tokens").as("toks"))
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSeq
    val (above2, subCut) = foldCutoff(subHist, budget, above)
    subCut match {
      // defensive only: the outer fold chose this bin BECAUSE it overflows
      case None => slice
      case Some(sc) =>
        val whole2 = sub.where(col("__subbin") > sc).drop("__subbin")
        val slice2 = sub.where(col("__subbin") === sc).drop("__subbin")
        whole2.unionByName(windowSelect(slice2, idCol, above2, budget))
    }
  }

  // ------- persisted budget-histogram asset (incremental selection) -------

  /** Fold one batch's per-bin token histogram into the persisted asset at
    * `path` — the incremental-maintenance tier of [[tokenBudgetSelect]]:
    * per-bin token sums are a commutative integer monoid, so the folded
    * histogram equals the one-shot histogram EXACTLY, and re-selecting
    * after a corpus append costs one scan of the APPEND plus the bounded
    * histogram fold — never a re-scan of the accumulated corpus (the
    * selection itself is binning-independent: bins partition work, the
    * result is a pure function of (score, id, tokens, budget)).
    *
    * The binning (lo, hi, bins) is DECLARED at asset creation and pinned:
    * appends under a different declaration refuse (the PCA width-mismatch
    * stance). Out-of-range scores stay EXACT either way — the within-bin
    * resolution orders by true score, so a score above `hi` clamps into
    * the top bin (which merely fattens) and a score below `lo` extends
    * the histogram into negative bin ids (one row per occupied bin).
    * A drifting score model that fattens an edge bin no longer degrades
    * toward the naive window: a cutoff bin above [[RefineFrac]] of the
    * corpus's tokens is re-binned once over its own sub-range at
    * selection time (two extra bounded aggregates over the slice) —
    * declaring the range honestly remains the cheap path.
    * Persistence and replay handling are [[EpochStore.fold]]'s.
    */
  def appendBudgetHistogram(df: DataFrame, scoreCol: Column, tokensCol: Column,
                            path: String, lo: Double, hi: Double,
                            bins: Int = 4096,
                            ctx: Option[graft.sinks.BatchCtx] = None): Unit =
    writeBudgetEpoch(df, scoreCol, tokensCol, path, lo, hi, bins, ctx,
      merge = true)

  /** REPLACE the persisted asset with THIS df's histogram — the batch
    * composer's maintenance semantics: a one-shot pipeline run
    * re-materializes the COMPLETE sink table every run, so the asset must
    * describe exactly this run's output; accumulating ([[
    * appendBudgetHistogram]], the streaming micro-batch semantics, where
    * each batch IS new data) would double-count every prior run's rows and
    * silently corrupt the seed arithmetic of every later selection — worse
    * than the monitor's documented at-least-once (doubled digest weights
    * are visibly wrong; a drifted budget cutoff is not). The declared
    * binning stays pinned against the live asset (a different declaration
    * is a different asset — rotate the path), the rebuild is a ctx-less
    * [[EpochStore.fold]] (the streaming replay ledger is preserved, though
    * mixing the two maintainers on one path is operator error), and an
    * empty df is a no-op like the append (selection over an empty corpus
    * is empty regardless of the retained histogram).
    */
  def rebuildBudgetHistogram(df: DataFrame, scoreCol: Column, tokensCol: Column,
                             path: String, lo: Double, hi: Double,
                             bins: Int = 4096): Unit =
    writeBudgetEpoch(df, scoreCol, tokensCol, path, lo, hi, bins, ctx = None,
      merge = false)

  /** [[appendBudgetHistogram]] accepting SIGNED token deltas — the
    * retraction fold: per-bin sums are a commutative GROUP, not just a
    * monoid, so a CDC DELETE (whose before-image carries the row's
    * original columns) folds as the exact negation of the insert it
    * retracts, and the maintained histogram equals the SURVIVING table's
    * — takedown/GDPR flows keep `budget-select` exact instead of
    * grow-only-approximate. Null score/tokens excluded as ever. The
    * contract: each retraction must mirror a prior offer (score and
    * tokens recomputed off the same values the superseded image
    * contributed — true for CDC before-images, including in-place
    * updates when the caller folds their `(−before, +after)` pair as
    * [[graft.pipeline.BudgetCurator.fold]] does; a feed without
    * before-images drifts, and a net-negative bin is the loud symptom).
    * Same [[EpochStore.fold]] persistence as the unsigned append.
    */
  def appendBudgetDeltas(df: DataFrame, scoreCol: Column,
                         signedTokensCol: Column, path: String,
                         lo: Double, hi: Double, bins: Int = 4096,
                         ctx: Option[graft.sinks.BatchCtx] = None): Unit =
    writeBudgetEpoch(df, scoreCol, signedTokensCol, path, lo, hi, bins, ctx,
      merge = true, signed = true)

  private def writeBudgetEpoch(df: DataFrame, scoreCol: Column, tokensCol: Column,
                               path: String, lo: Double, hi: Double, bins: Int,
                               ctx: Option[graft.sinks.BatchCtx],
                               merge: Boolean, signed: Boolean = false): Unit = {
    require(bins >= 1, s"bins must be positive: $bins")
    require(hi > lo, s"need hi > lo: [$lo, $hi]")
    val spark = df.sparkSession
    val width = (hi - lo) / bins
    val batchHist = budgetBase(df.withColumn("__budget_id", lit(0L)), "__budget_id",
        scoreCol, tokensCol, signed)
      .withColumn("__bin", budgetBin(col("score"), lo, width, bins))
      .groupBy("__bin").agg(sum("n_tokens").as("toks"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (batchHist.nonEmpty) EpochStore.fold(spark, path, ctx) { live =>
      val merged = scala.collection.mutable.Map.empty[Long, Long]
      live.foreach { ldf =>
        ldf.select(col("lo"), col("hi"), col("bins")).limit(1).collect()
          .headOption.foreach { r =>
            require(r.getDouble(0) == lo && r.getDouble(1) == hi &&
                r.getInt(2) == bins,
              s"histogram asset at $path was declared (lo=${r.getDouble(0)}, " +
                s"hi=${r.getDouble(1)}, bins=${r.getInt(2)}) — appends must " +
                s"match, got (lo=$lo, hi=$hi, bins=$bins)")
          }
        if (merge) ldf.select(col("bin"), col("toks")).collect().foreach { r =>
          merged(r.getLong(0)) = merged.getOrElse(r.getLong(0), 0L) + r.getLong(1)
        }
      }
      batchHist.foreach { case (b, t) =>
        merged(b) = merged.getOrElse(b, 0L) + t
      }
      import spark.implicits._
      merged.toSeq.sorted.map { case (b, t) => (b, t, lo, hi, bins) }
        .toDF("bin", "toks", "lo", "hi", "bins")
    }
  }

  /** [[tokenBudgetSelect]] off the persisted histogram: the cutoff bin
    * comes from the asset's bounded fold (no range scan, no histogram
    * scan of the corpus), then the corpus pays one binned FILTER plus the
    * one bin-local window — `df` must be the union of the appended
    * batches (the maintained table the asset describes).
    */
  def tokenBudgetSelectFromStats(df: DataFrame, idCol: String, scoreCol: Column,
                                 tokensCol: Column, path: String,
                                 budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    val spark = df.sparkSession
    val asset = EpochStore.read(spark, path, "budget-histogram asset")
    val meta = asset.select(col("lo"), col("hi"), col("bins")).head()
    val (lo, hi, bins) = (meta.getDouble(0), meta.getDouble(1), meta.getInt(2))
    val hist = asset.select(col("bin"), col("toks")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val width = (hi - lo) / bins
    val binned = budgetBase(df, idCol, scoreCol, tokensCol)
      .withColumn("__bin", budgetBin(col("score"), lo, width, bins))
    selectByHistogram(binned, idCol, hist, budget, bins)
  }
}
