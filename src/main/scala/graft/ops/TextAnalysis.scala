package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting.
  *
  * Everything here is built from native Catalyst expressions (no UDFs), so it
  * stays inside WholeStageCodegen and runs as a pure narrow map over the scan —
  * at 100 TB these are I/O-bound single-pass operators with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text (empty text → 0). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: letter runs, digit runs, and single
    * non-space punctuation marks each count — the way byte-pair tokenizers
    * pre-tokenize. Expressed as `regexp_extract_all` (RE2-compatible pattern,
    * so the DuckDB oracle can run the identical regex).
    */
  val SubwordPattern = "[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]"

  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit(SubwordPattern), lit(0)))

  /** Punctuation characters count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Word-repetition ratio: 1 − distinct/total words (0 = all unique,
    * →1 = heavy repetition). A standard boilerplate/spam signal in corpus
    * quality filtering; narrow codegen'd expression.
    */
  def repetitionRatio(text: Column): Column =
    when(length(trim(text)) === 0, lit(0.0)).otherwise(
      round(lit(1.0) -
        size(array_distinct(split(lower(trim(text)), "\\s+"))).cast("double") /
        size(split(trim(text), "\\s+")), 4))

  /** The Gopher word/line-level quality rules (Rae et al. 2021 §A1.1) that
    * the repetition family does not cover: mean word length, symbol-to-word
    * ratio (# and … noise), bullet-start / ellipsis-end line fractions,
    * alphabetic-word fraction, stopword presence. Every metric is an
    * integer ratio (or an integer), so the doubles are bit-identical on
    * every engine and partitioning; everything is native Catalyst over one
    * scan — no UDF, no shuffle.
    */
  def gopherProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = graft.functions.CdcExpressions.regexTokens(trim(t), "\\s+", lowercase = false)
    val linesNonEmpty = filter(transform(split(t, "\n"), l => trim(l)), l => l =!= "")
    val nw = size(words)
    val nl = size(linesNonEmpty)
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / lit(3)
    val stop = array(GopherStopwords.map(lit): _*)
    df.select(
      col(idCol),
      when(nw === 0, lit(0.0)).otherwise(
        aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nw)
        .as("mean_word_len"),
      when(nw === 0, lit(0.0)).otherwise((hashes + ellipses).cast("double") / nw)
        .as("symbol_word_ratio"),
      when(nl === 0, lit(0.0)).otherwise(
        size(filter(linesNonEmpty, l =>
          l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))).cast("double") / nl)
        .as("bullet_line_frac"),
      when(nl === 0, lit(0.0)).otherwise(
        size(filter(linesNonEmpty, l =>
          l.endsWith("...") || l.endsWith("…"))).cast("double") / nl)
        .as("ellipsis_line_frac"),
      when(nw === 0, lit(0.0)).otherwise(
        size(filter(words, w => w.rlike("[\\p{L}]"))).cast("double") / nw)
        .as("alpha_word_frac"),
      size(filter(stop, sw => array_contains(transform(words, w => lower(w)), sw)))
        .as("stopword_hits"))
  }

  /** The classic 8 Gopher stopwords (presence-of-2 rule). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher word-level keep gate, composable with
    * [[graft.ops.Repetition.filter]] (which owns the repetition rules):
    * one boolean over the scan, same integer-ratio decisions as
    * [[gopherProfile]].
    */
  def gopherKeep(text: Column,
                 minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                 maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                 maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                 minStopwords: Int = 2): Column = {
    val words = graft.functions.CdcExpressions.regexTokens(trim(text), "\\s+", lowercase = false)
    val linesNonEmpty = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
    val nw = size(words)
    val nl = size(linesNonEmpty)
    // ANSI mode evaluates every conjunct of a filter predicate, so the
    // divisors are floor-guarded: when nw/nl is 0 the guarded conjuncts are
    // decided by the `nw > 0` / `nl === 0` terms, never the division
    val nwSafe = greatest(nw, lit(1))
    val nlSafe = greatest(nl, lit(1))
    val meanLen = aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nwSafe
    val symbols = ((length(text) - length(regexp_replace(text, "#", ""))) +
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)).cast("double") / nwSafe
    val bullets = size(filter(linesNonEmpty, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))).cast("double")
    val ellipsisEnds = size(filter(linesNonEmpty, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("double")
    val alphaWords = size(filter(words, w => w.rlike("[\\p{L}]"))).cast("double")
    val stopHits = size(filter(array(GopherStopwords.map(lit): _*),
      sw => array_contains(transform(words, w => lower(w)), sw)))
    nw > 0 &&
      meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
      symbols <= maxSymbolRatio &&
      (nl === 0 || bullets / nlSafe <= maxBulletFrac) &&
      (nl === 0 || ellipsisEnds / nlSafe <= maxEllipsisFrac) &&
      alphaWords / nwSafe >= minAlphaFrac &&
      stopHits >= minStopwords
  }

  /** Stopword tables for the language-ID heuristic. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht", "ist", "das", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "est", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "los", "las", "es", "una", "para", "por", "como"),
    "en" -> Seq("the", "is", "and", "of", "to", "in", "that", "with"))

  /** Language ID: character-range + stopword-count heuristic. One
    * `regexp_count` with a word-boundary alternation per language (4 regex
    * evaluations per row instead of 32 separate rlike ops — this stage is
    * regex-bound at corpus scale). Deterministic cascade, RE2-compatible
    * pattern, so the DuckDB oracle can run the identical regexes.
    */
  def langId(text: Column): Column = {
    def hits(words: Seq[String]): Column =
      regexp_count(text, lit(s"(?i)\\b(${words.mkString("|")})\\b"))
    val Seq(de, fr, es, en) = LangStopwords.map { case (_, ws) => hits(ws) }
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(de > fr && de > es && de > en, "de")
      .when(fr > es && fr > en, "fr")
      .when(es > en, "es")
      .when(en > 0, "en")
      .otherwise("und")
  }

  /** Canonical text cleaning (the CCNet/C4-style pre-dedup stage): Unicode
    * normalization (UAX #15 `form`, default NFC — composed characters get
    * one byte form so downstream hashing/dedup/tokenization see "café"
    * identically however it was typed), control/format character strip
    * (C0 controls + DEL, keeping tab/newline/CR for the collapse), then
    * whitespace-run collapse to single spaces and trim. The whitespace
    * class is the EXPLICIT `[ \t\n\r]` — Java's `\s` includes `\x0B` while
    * RE2's does not, so an engine-replicable clean never uses `\s`.
    * Entirely codegen (native [[graft.functions.UnicodeNormalize]] + Spark
    * regexp_replace): a narrow scan-bound projection at 100 TB.
    */
  def cleanText(text: Column, form: String = "NFC"): Column =
    trim(regexp_replace(
      regexp_replace(
        graft.functions.CdcExpressions.unicodeNormalize(text, form),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\n\\r]+", " "))

  /** Document fingerprint: md5 of case/whitespace-normalized text. The
    * canonical normalize-then-hash fingerprint used for exact-dup detection
    * across formatting variants.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** One row per (doc, DISTINCT token): the corpus-statistics base relation.
    * `array_distinct` runs per doc inside the scan, so the explode emits the
    * doc's vocabulary, not its token stream — no (doc, token) dedup shuffle.
    */
  def docTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      explode(array_distinct(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)"))).as("tok"))

  /** Per-doc term frequencies (one row per DISTINCT (doc, token), with the
    * token's in-doc count): the shared base relation of [[tfidfTopTerms]]
    * and [[rarityProfile]]. Shaped as an AGGREGATION (groupBy, not
    * array_distinct-in-scan) deliberately: a consumer that needs both the
    * per-pair rows AND a `tok`-level rollup derives the rollup from THIS
    * relation, and the two plan branches then share the
    * `(doc, tok)`-partitioned exchange (Spark's ReuseExchange — the
    * documents scan and its regex tokenization run ONCE). At 100 TB the
    * text scan + regex pass is the dominant cost of these operators; one
    * slim-pair shuffle (map-side combine collapses repeats before it) is
    * cheaper than a second pass over the corpus.
    */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      // tf > 0 is a tautology (a count is ≥ 1) the optimizer cannot prove,
      // and that is the point: it pins `tf` as CONSUMED in every branch
      // that reads this relation. Without it, a consumer that ignores `tf`
      // (the df rollup needs only distinctness) gets its count pruned to
      // `functions=[]`, its exchange subtree stops being canonically equal
      // to its sibling's, and AQE loses the stage reuse — the corpus would
      // be regex-tokenized twice. Cost: one integer compare per pair.
      .where(col("tf") > 0)

  /** Per-document RARITY profile — the corpus-statistics quality signal of
    * pretraining filters (a page of boilerplate scores high document
    * frequencies; a page of rare vocabulary scores low): per doc, its
    * distinct-token count, the SUM and MIN of those tokens' document
    * frequencies. Deliberately integer aggregates only — a floating mean
    * or log-idf would hash-differ across engines by summation order, while
    * BIGINT sums are exact and order-free; callers derive ratios.
    *
    * Scale shape: ONE tokenization pass. The df table is derived from the
    * same [[termFrequencies]] relation the per-doc side consumes (each row
    * is a distinct (doc, tok) pair, so `count per tok` IS the document
    * frequency), and the shared exchange is deduplicated by ReuseExchange —
    * the plan carries a single RegExpExtractAll-bearing scan
    * (PlanInvariantsSpec asserts it). Downstream: the slim df table joins
    * on (tok) (AQE broadcasts small vocabularies) and the per-doc
    * aggregation shuffles by id. No driver state, no collect.
    */
  def rarityProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    tf.join(tf.groupBy("tok").agg(count(lit(1)).as("df")), "tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("df").as("df_sum"), min("df").as("df_min"))
  }

  /** Split each document into overlapping token-window chunks — the
    * retrieval/embedding prep stage (chunk → embed → index): chunk `i`
    * covers tokens `[i·stride, i·stride + size)` with
    * `stride = size − overlap`, the last window is partial, and a doc
    * shorter than `size` yields one chunk. `(id, chunk_ix)` is the stable
    * chunk identity — deterministic, so re-chunking an updated corpus
    * yields identical ids for unchanged docs (incremental embedding
    * refresh). A narrow projection + explode: no shuffle, scan-bound at
    * 100 TB; integer chunk math only (ceil via floor-div — no
    * rounding-mode ambiguity across engines). Tokenization splits on the
    * EXPLICIT class `[ \t\n\r]+` (the [[cleanText]] stance): Java's `\s`
    * includes `\x0B` (vertical tab) and RE2's does not, so a `\s` split
    * chunks differently across engines on a document containing one.
    */
  def chunkText(df: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int = 0): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size: size=$size overlap=$overlap")
    val stride = size - overlap
    val toks = split(trim(col(textCol)), "[ \\t\\n\\r]+")
    val n = org.apache.spark.sql.functions.size(toks)
    val nChunks = when(n <= overlap, lit(1L))
      .otherwise(floor((n - lit(overlap) + lit(stride - 1)) / lit(stride)))
    df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_ix"))
      .select(col(idCol), col("chunk_ix"),
        array_join(slice(col("__toks"),
          (col("chunk_ix") * stride + 1).cast("int"), lit(size)), " ").as("chunk"))
  }

  /** Per-document top-k characteristic terms by tf·idf with RAW idf
    * (`score = tf·N/df`, no logarithm) — keyword extraction for topic
    * labeling / cluster naming / dedup explanation. The log-free idf is
    * deliberate: `tf·N` is an exact integer and one correctly-rounded
    * division is bit-identical in every IEEE engine, whereas `ln` is
    * correctly rounded in none — mathematically-equal scores computed via
    * different (tf, df) pairs (e.g. `1·ln100 = 2·ln10`) could rank
    * differently across engines. Equal scores break by term.
    *
    * Scale shape: ONE tokenization pass — token tf is one
    * map-side-combinable aggregation ([[termFrequencies]]), the df table is
    * a rollup of THAT relation (a tf row is a distinct (doc, tok) pair, so
    * `count per tok` is the document frequency) and ReuseExchange dedupes
    * the shared shuffle, so the documents scan + regex run once
    * (PlanInvariantsSpec asserts the single tokenizer scan); the df table
    * joins back on (tok) (AQE broadcasts small vocabularies); the per-doc
    * top-k window rewrites to `WindowGroupLimit` (per-partition group
    * heaps), so no doc's full term list is ever buffered or sorted
    * globally. Integer/ratio math only — no driver state.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int,
                    nDocs: Long = -1L): DataFrame = {
    val n = if (nDocs >= 0) nDocs else df.count()
    val tf = termFrequencies(df, idCol, textCol)
    val scored = tf.join(tf.groupBy("tok").agg(count(lit(1)).as("df")), "tok")
      .withColumn("score", (col("tf") * lit(n)).cast("double") / col("df").cast("double"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("tok"))))
      .where(col("rank") <= k)
      .select(col(idCol), col("tok").as("term"), col("rank").cast("long").as("rnk"))
  }
}
