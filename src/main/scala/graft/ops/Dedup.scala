package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (what survives 100 TB):
  *  - signatures are computed per-row (narrow map, no shuffle);
  *  - candidate generation shuffles ONLY (bucket-key, doc-id) pairs — bytes
  *    per doc = bands × 16, independent of document length;
  *  - buckets larger than `maxBucketSize` are dropped (and counted): a
  *    degenerate bucket of 1M near-identical docs would otherwise create
  *    5·10^11 pairs — the cap bounds the quadratic term while real near-dup
  *    clusters (which are small) are unaffected;
  *  - verification joins signatures back by id — two shuffles of slim rows,
  *    never the full text.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup: one survivor (min id) per identical value of `keyCol`.
    * A single hash aggregation — map-side partial agg collapses duplicates
    * before the shuffle.
    */
  def exact(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("__dup_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_cnt"))
      .drop("__dup_key")

  /** Exact duplicate PAIRS (a < b sharing a fingerprint) — the audit view
    * of exact dedup (which doc duplicates which), one aggregation like
    * [[exact]]. Clusters above `maxClusterSize` are dropped (same policy as
    * [[minhashCandidates]]'s bucket cap): one degenerate fingerprint (empty /
    * boilerplate text, guaranteed at web scale) would otherwise build an
    * uncapped per-group array and a quadratic pair explosion. Real duplicate
    * clusters are small; audits of degenerate keys go through [[exact]]'s
    * `dup_cnt` instead.
    */
  def exactPairs(df: DataFrame, idCol: String, keyCol: Column,
                 maxClusterSize: Int = 64): DataFrame = {
    // row_number BEFORE collect_list bounds per-group state: a degenerate
    // 1M-id fingerprint contributes at most maxClusterSize+1 rows to the
    // aggregation (then the whole truncated cluster is dropped by the size
    // filter), so neither the array buffer nor the pair explosion can blow up
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dup_key")).orderBy(col(idCol))
    df.select(keyCol.as("__dup_key"), col(idCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxClusterSize + 1)
      .groupBy("__dup_key").agg(collect_list(col(idCol)).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxClusterSize)
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
  }

  /** Exact dedup keeping the FULL surviving row (min id per fingerprint) —
    * one window shuffle, no self-join back to the input. Prefer this when
    * downstream needs the survivors' payload: at 100 TB it halves the scans
    * and drops the join `exact` + join would cost.
    */
  def exactSurvivors(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(col(idCol))))
      .where(col("__rn") === 1)
      .drop("__rn")

  /** Paragraph-level (C4-style span) dedup: split each document on `delim`,
    * keep only the globally FIRST occurrence (document order: min (id, pos))
    * of each normalized paragraph, and reassemble the survivors in original
    * order. Removes cross-document boilerplate (headers, footers, license
    * blocks) that near-dup doc-level passes cannot see. Documents whose every
    * paragraph was seen earlier disappear from the output.
    *
    * Scale shape: the explode is narrow; first-occurrence selection is ONE
    * window shuffle keyed by the paragraph fingerprint (the md5 collapses an
    * arbitrarily long paragraph to a 32-byte shuffle key, but the paragraph
    * text must ride along for reassembly — one full-corpus shuffle, which is
    * inherent to any global span dedup); reassembly is one groupBy(id) with
    * map-side-combinable collect_list (paragraphs of one doc land together).
    * No self-join, no driver collect.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     delim: String = "\n\n"): DataFrame = {
    val parts = df
      .select(col(idCol).cast("long").as(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__para")))
      .where(trim(col("__para")) =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.fingerprint(col("__para")))
      .orderBy(col(idCol), col("__pos"))
    parts
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          x => x("__para")), delim).as(textCol))
  }

  /** Cross-document duplicate-SPAN profile — the span-granular exact
    * substring dedup of Lee et al. 2021 ("Deduplicating Training Data
    * Makes Language Models Better"): for every document, the fraction of
    * its tokens covered by a k-token window that also occurs verbatim in
    * ANOTHER document. Catches templated/boilerplate spans embedded in
    * otherwise-unique pages — invisible to doc-level near-dup (signature
    * dominated by the unique part) and to [[Repetition]] (within-doc only).
    *
    * The reference algorithm builds one suffix array over the corpus; the
    * Spark-native shape is rolling k-token window HASHES (64-bit, so the
    * shuffle rows are slim constants, never text): like the suffix array
    * it is O(corpus tokens), but embarrassingly distributed. `stride > 1`
    * trades recall for a stride-fold row cut.
    *
    * Scale shape: window expansion is a narrow codegen transform (hashes
    * computed inside the row); the global stage shuffles (hash, doc,
    * start) 24-byte rows — once for the distinct-doc count (two-phase
    * partial aggregation collapses a degenerate boilerplate hash per map
    * task; the count itself caps the skew surface), once for the 1:1
    * stats join-back (AQE skew-splits hot hashes; each row matches
    * exactly one stats row, so no amplification). Coverage union is a
    * per-doc sorted-starts sweep (one fold over a doc-bounded array —
    * same stance as the LM per-doc fold).
    */
  def spanProfile(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 50, stride: Int = 1): DataFrame = {
    require(k >= 2 && stride >= 1)
    val toks = graft.functions.CdcExpressions.regexTokens(coalesce(col(textCol), lit("")))
    val base = df.select(col(idCol).cast("long").as(idCol), toks.as("__tk"))
      .select(col(idCol), col("__tk"), size(col("__tk")).as("n_tokens"))
    val wins = transform(
      sequence(lit(0), size(col("__tk")) - k, lit(stride)),
      i => struct(i.as("start"),
        graft.functions.CdcExpressions.hash64(
          array_join(slice(col("__tk"), i + lit(1), lit(k)), " ")).as("h")))
    val spans = base.where(col("n_tokens") >= k)
      .select(col(idCol), explode(wins).as("w"))
      .select(col(idCol), col("w.start").as("start"), col("w.h").as("h"))
    val dupHashes = spans.groupBy("h")
      .agg(countDistinct(col(idCol)).as("__docs"))
      .where(col("__docs") > 1)
    val covered = spans.join(dupHashes, "h")
      .groupBy(idCol)
      .agg(sort_array(collect_list("start")).as("__starts"))
      .select(col(idCol),
        aggregate(col("__starts"),
          struct(lit(0L).as("cnt"), lit(-1L).as("end")),
          (acc, s) => struct(
            (acc("cnt") + (s + lit(k.toLong) - greatest(acc("end"), s.cast("long")))).as("cnt"),
            (s.cast("long") + k).as("end")),
          acc => acc("cnt")).as("dup_tokens"))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            greatest(col("n_tokens"), lit(1))).as("dup_frac"))
  }

  // ---------- shingles / hashing primitives ----------

  /** splitmix64 finalizer — cheap avalanche for deriving k hash functions. */
  @inline def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit hash of a string (FNV-1a then mixed). */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Word n-gram shingle hashes of a text (deduplicated set). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (toks.length < n) {
      if (toks.isEmpty) Array.empty else Array(hash64(toks.mkString(" ")))
    } else {
      val set = new java.util.HashSet[Long]()
      var i = 0
      while (i + n <= toks.length) {
        set.add(hash64(toks.slice(i, i + n).mkString(" "))); i += 1
      }
      val out = new Array[Long](set.size)
      val it = set.iterator(); var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out
    }
  }

  /** MinHash signature via the 2-hash trick: g_i(x) = h(x) + i·mix(h(x)). */
  def minhashSignature(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var s = 0
    while (s < shingles.length) {
      val h1 = shingles(s)
      val h2 = mix64(h1) | 1L
      var i = 0
      var g = h1
      while (i < numHashes) {
        if (g < sig(i)) sig(i) = g
        g += h2; i += 1
      }
      s += 1
    }
    sig
  }

  /** Estimated Jaccard from two signatures = fraction of agreeing minhashes. */
  def estimatedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Exact Jaccard of two shingle-hash sets. */
  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.intersect(sb).size
    val uni = sa.size + sb.size - inter
    if (uni == 0) 1.0 else inter.toDouble / uni
  }

  // ---------- MinHash + LSH ----------

  /** (id, text) → (id, sig: Array[Long]) — narrow, no shuffle, and fully
    * inside WholeStageCodegen: the signature is a native Catalyst expression
    * ([[graft.functions.CdcExpressions.minhashSignature]]), not a Dataset
    * lambda, so rows never leave Tungsten format on this stage.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3, numHashes: Int = 128): DataFrame =
    df.select(col(idCol).cast("long").as(idCol),
      graft.functions.CdcExpressions.minhashSignature(
        coalesce(col(textCol), lit("")), shingleSize, numHashes).as("sig"))

  /** Text similarity SEARCH (the retrieval twin of near-dup detection):
    * top-`k` documents most similar to `queryText` by estimated Jaccard —
    * 128-slot MinHash agreement against the query's signature, computed
    * driver-side once and shipped as a literal.
    *
    * Scale note: one narrow codegen scan — per row a signature plus a
    * 128-slot agreement count against the broadcast literal — feeding
    * `TakeOrderedAndProject` (per-partition top-k heaps, k-row gather; no
    * full sort, no shuffle of anything but k rows per partition). At a
    * persisted-index deployment, probe the LSH index first
    * ([[indexProbe]]) and re-rank only bucket-mates; this full-scan path
    * is the exact fallback and the small-corpus shape.
    */
  def textTopK(df: DataFrame, idCol: String, textCol: String, queryText: String,
               k: Int, shingleSize: Int = 3, numHashes: Int = 128): DataFrame = {
    val qsig = minhashSignature(shingleHashes(queryText, shingleSize), numHashes)
    signatures(df, idCol, textCol, shingleSize, numHashes)
      .withColumn("est_jaccard",
        graft.functions.CdcExpressions.estJaccard(col("sig"), typedLit(qsig.toSeq)))
      .select(col(idCol), col("est_jaccard"))
      .orderBy(col("est_jaccard").desc, col(idCol))
      .limit(k)
  }

  /** LSH banding: candidate pairs (a < b) whose signatures collide in ≥1 band.
    * Returns (a, b, est_jaccard) with est ≥ `threshold`.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                        threshold: Double = 0.8, maxBucketSize: Int = 64): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    // sigs is referenced three times below (bucket stage + the two verify
    // joins) and deliberately NOT cached: the signature is a narrow codegen
    // map over (id, text), so a recompute costs two extra scans of two slim
    // columns — while a pinned signature cache is itself corpus-scale state
    // (numHashes × 8 bytes per doc ≈ 1 KB/doc → ~10 TB of executor memory at
    // 10^10 docs). Identical exchange subtrees are deduplicated by Spark's
    // ReuseExchange anyway; callers that consume the result more than once
    // should persist it themselves (every in-repo caller is single-use).
    // (r19 measured: spreading df here reads 1.08-1.43x SLOWER — the
    // round-robin exchange sits BELOW each of the three sigs consumers, so
    // it runs three times and parallelizes nothing that pays for it.)
    val sigs = signatures(df, idCol, textCol, shingleSize, numHashes)

    // band buckets: shuffle key = (band index, hash of the band slice) —
    // the band hashes come from a codegen'd expression + posexplode, never
    // a typed-Dataset encoder round-trip
    val buckets = sigs
      .select(col(idCol).as("id"),
        posexplode(graft.functions.CdcExpressions.minhashBands(col("sig"), bands))
          .as(Seq("band", "bucket")))
      .select("band", "bucket", "id")

    val pairs = buckets
      .groupBy("band", "bucket")
      .agg(collect_list("id").as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)
      .select(explode(pairsOfSorted(col("ids"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
      .distinct()

    // verify on estimated jaccard: join signatures back (slim rows only);
    // the agreement fraction is a codegen'd expression, not a UDF.
    // (r19 measured: spreading these legs too reads 1.10-1.35x slower —
    // same verdict as the spread-above-df experiment.)
    val verified = pairs
      .join(sigs.withColumnRenamed(idCol, "a").withColumnRenamed("sig", "sig_a"), "a")
      .join(sigs.withColumnRenamed(idCol, "b").withColumnRenamed("sig", "sig_b"), "b")
      .withColumn("est_jaccard",
        graft.functions.CdcExpressions.estJaccard(col("sig_a"), col("sig_b")))
      .where(col("est_jaccard") >= threshold)
      .select("a", "b", "est_jaccard")

    verified
  }

  // ---------- persisted MinHash-LSH index (incremental dedup) ----------

  /** `numPartitions` sentinel: derive the bucket layout's disk-partition
    * count from the materialized sigs size at build; every later append,
    * compaction and probe hashes with the count the index's manifest pins
    * (r20; guide §6).
    */
  val AutoPartitions: Int = 0

  private val What = "minhash index"

  /** The band-bucket rows of a signature relation, hash-partitioned by
    * `pbucket = pmod(xxhash64(band, bucket), p)`, degenerate buckets
    * (> `maxBucketSize` members) dropped: the one shape build, append and
    * compaction write.
    */
  private def bandBuckets(sigs: DataFrame, idCol: String, bands: Int, maxBucketSize: Int,
                          p: Int): DataFrame =
    sigs.select(col(idCol).as("id"),
        posexplode(graft.functions.CdcExpressions.minhashBands(col("sig"), bands))
          .as(Seq("band", "bucket")))
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .where(col("__bsz") <= maxBucketSize).drop("__bsz")
      .withColumn("pbucket", pmod(xxhash64(col("band"), col("bucket")), lit(p)))
      .repartition(col("pbucket")) // one writer wave per disk partition, no small files

  /** Persist a MinHash-LSH dedup index for incremental (streaming-ingest)
    * dedup ([[IndexMaintenance]] publishes it): relation `buckets` holds one
    * slim row per (band, bucket, id), hash-partitioned on disk by `pbucket`
    * so a new batch's candidate lookup prunes at the FILE LISTING — only
    * the partitions the batch's own band keys hash into are ever read;
    * relation `sigs` holds (id, signature) range-partitioned and sorted by
    * id, so the verify join's candidate-id filter prunes at parquet
    * row-group stats. Degenerate buckets (> `maxBucketSize` members — empty
    * or boilerplate text, guaranteed at web scale) are dropped at BUILD
    * time, so no future batch can quadratically explode against them;
    * singleton buckets stay (a new doc can match a so-far-unique one).
    */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String, path: String,
                        shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                        maxBucketSize: Int = 64, numPartitions: Int = AutoPartitions): Unit =
    IndexMaintenance.build(df.sparkSession, path) { fresh =>
      // (r19: pushing the range exchange BELOW the signature projection —
      // hash once, sample on raw text — measured neutral-to-slower here and
      // trades sig-bytes shuffle for text-bytes shuffle at scale; kept the
      // original shape.)
      // scale-adaptive layout, pinned in the manifest: derived from the
      // just-written sigs bytes (driver-side listing, no job) — a 5 MB local
      // corpus gets ONE bucket dir instead of a constant 64-way small-file
      // fan-out; a web corpus gets thousands for listing-level probe pruning
      writeSigsAndBuckets(signatures(df, idCol, textCol, shingleSize, numHashes), idCol, path,
        bands, maxBucketSize, fresh) { sigsDir =>
        if (numPartitions == AutoPartitions) IndexMaintenance.derivePartitions(df.sparkSession, sigsDir)
        else numPartitions
      }
    }

  /** Write `sigs` as one id-range-partitioned, id-sorted `sigs` dir, then
    * the band buckets under the partition count `partitions` picks from
    * that dir, into one `buckets` dir. The buckets are derived from the
    * JUST-WRITTEN sigs, not the lineage: the signature pass already ran
    * twice for the write (range-sample + output), and re-deriving from
    * lineage would hash the corpus a third time — reading back the slim
    * materialized (id, sig) table costs one parallel scan instead (r19;
    * guide §2.3/§8: decide on the materialized proxy, don't recompute the
    * heavy pass).
    */
  private def writeSigsAndBuckets(sigs: DataFrame, idCol: String, path: String, bands: Int,
                                  maxBucketSize: Int, fresh: IndexMaintenance.Fresh)
                                 (partitions: String => Int): Int = {
    val sigsDir = s"$path/${fresh("sigs")}"
    sigs.repartitionByRange(col(idCol)).sortWithinPartitions(idCol).write.parquet(sigsDir)
    val p = partitions(sigsDir)
    bandBuckets(sigs.sparkSession.read.parquet(sigsDir), idCol, bands, maxBucketSize, p)
      .write.partitionBy("pbucket").parquet(s"$path/${fresh("buckets")}")
    p
  }

  /** Append an (already admitted) batch to an existing index — the write
    * half of a streaming ingest loop: dedup the micro-batch against the
    * index, then append the survivors so later batches dedup against them
    * too. Same on-disk layout and per-wave `maxBucketSize` cap as
    * [[writeMinhashIndex]], written as fresh `sigs` and `buckets` dirs the
    * next manifest names; a bucket can still drift past the cap in
    * AGGREGATE across many waves — a perf (never correctness) concern,
    * since [[incrementalCandidates]] verifies every pair — and
    * [[compactMinhashIndex]] restores it. Appended sig files are each
    * id-sorted, so per-file row-group pruning holds even as batch
    * id-ranges interleave.
    */
  def appendToMinhashIndex(df: DataFrame, idCol: String, textCol: String, path: String,
                           shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                           maxBucketSize: Int = 64): Unit =
    IndexMaintenance.append(df.sparkSession, path, What) { (base, fresh) =>
      // the batch's signatures feed three passes (the range sample, the
      // sigs append, the bucket append) — persist them for the append's
      // duration: unlike the full-corpus build (where a signature cache
      // would be corpus-scale state), this is MICRO-BATCH-bounded
      val sigs = signatures(df, idCol, textCol, shingleSize, numHashes).persist()
      try {
        sigs.repartitionByRange(col(idCol)).sortWithinPartitions(idCol)
          .write.parquet(s"$path/${fresh("sigs")}")
        bandBuckets(sigs, idCol, bands, maxBucketSize, base.partitions)
          .write.partitionBy("pbucket").parquet(s"$path/${fresh("buckets")}")
      } finally { sigs.unpersist(); () }
    }

  /** Compact a persisted index: rewrite its signature store as one dir and
    * rebuild its `buckets` FROM IT (no corpus text needed), re-applying the
    * degenerate-bucket cap that per-wave appends let drift in aggregate — a
    * bucket fed 40+40 identical docs in two waves passes each wave's cap but
    * is degenerate combined, and every future batch pays for probing it
    * until compaction drops it. The new dirs replace exactly the `sigs` and
    * `buckets` dirs of the manifest the compaction read, so a probe again
    * lists one dir of each; an append that published meanwhile keeps its
    * dirs ([[IndexMaintenance.compact]]). The partition count is the
    * manifest's, never re-derived, so probes keep pruning with it.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession, idCol: String,
                          path: String, bands: Int = 32, maxBucketSize: Int = 64): Unit =
    IndexMaintenance.compact(spark, path, What, Seq("sigs", "buckets")) { (base, fresh) =>
      writeSigsAndBuckets(IndexMaintenance.read(spark, path, base, "sigs"), idCol, path,
        bands, maxBucketSize, fresh)(_ => base.partitions)
      ()
    }

  /** Raw band-collision probe of a new batch against the index: lazy
    * (id, dup_of) pairs, with the batch's own band-partition keys pushed as
    * the file-listing partition filter (the plan carries the pruned scan —
    * PlanInvariants-style specs assert on it here). Unverified:
    * [[incrementalCandidates]] wraps this with the est-jaccard check.
    */
  def indexProbe(newDf: DataFrame, idCol: String, textCol: String, path: String,
                 shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32): DataFrame =
    probeFromSigs(signatures(newDf, idCol, textCol, shingleSize, numHashes), idCol, path,
      IndexMaintenance.current(newDf.sparkSession, path, What), bands)

  private def probeFromSigs(newSigs: DataFrame, idCol: String, path: String,
                            idx: IndexMaintenance.Index, bands: Int): DataFrame = {
    val spark = newSigs.sparkSession
    val newBuckets = newSigs.select(col(idCol).as("id"),
        posexplode(graft.functions.CdcExpressions.minhashBands(col("sig"), bands))
          .as(Seq("band", "bucket")))
      .withColumn("pbucket", pmod(xxhash64(col("band"), col("bucket")), lit(idx.partitions)))
    val touched = newBuckets.select("pbucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val buckets = IndexMaintenance.read(spark, path, idx, "buckets")
      .where(col("pbucket").isin(touched: _*))
    newBuckets
      .join(buckets.withColumnRenamed("id", "dup_of"), Seq("band", "bucket"))
      .where(col("id") =!= col("dup_of")) // re-indexed batch: skip self-match
      .select("id", "dup_of").distinct()
  }

  /** Candidates of a NEW batch against a persisted index: (id, dup_of,
    * est_jaccard) where `id` is a new doc and `dup_of` an indexed one.
    *
    * Scale shape: the batch's band keys determine which `pbucket` disk
    * partitions can possibly hold a collision — that set (≤ the index's
    * partition count, a bounded driver collect) is pushed as a partition
    * filter, so a micro-batch reads a FRACTION of a 100 TB index's file
    * listing. The est-jaccard verify joins the new signatures with the
    * signature store; candidate ids up to `maxIdPushdown` are pushed as a
    * literal IN filter so the id-sorted store prunes at row-group stats,
    * beyond that it degrades to a plain shuffle join of slim rows. The
    * probe reads the index through ONE manifest, so its buckets and sigs
    * are of one version.
    */
  def incrementalCandidates(newDf: DataFrame, idCol: String, textCol: String, path: String,
                            shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                            threshold: Double = 0.8, maxIdPushdown: Int = 100000): DataFrame = {
    val spark = newDf.sparkSession
    val idx = IndexMaintenance.current(spark, path, What)
    // ONE signature pass per batch: pinned (batch-bounded) and shared by
    // the probe's bucket/touched stages and the verify join below
    val newSigs = signatures(newDf, idCol, textCol, shingleSize, numHashes)
      .localCheckpoint()
    // pinned: bounded by (bucket cap × batch size) slim rows, and consumed
    // twice below (candidate-id collect + final join) — without the pin the
    // pruned index probe would run twice
    val pairs = probeFromSigs(newSigs, idCol, path, idx, bands).localCheckpoint()
    val sigStore = IndexMaintenance.read(spark, path, idx, "sigs")
    val candIds = pairs.select("dup_of").distinct().limit(maxIdPushdown + 1)
      .collect().map(_.getLong(0))
    val idxSigs =
      if (candIds.length <= maxIdPushdown) sigStore.where(col(idCol).isin(candIds: _*))
      else sigStore
    pairs
      .join(newSigs.select(col(idCol).as("id"), col("sig").as("sig_new")), "id")
      .join(idxSigs.select(col(idCol).as("dup_of"), col("sig").as("sig_idx")), "dup_of")
      .withColumn("est_jaccard",
        graft.functions.CdcExpressions.estJaccard(col("sig_new"), col("sig_idx")))
      .where(col("est_jaccard") >= threshold)
      .select("id", "dup_of", "est_jaccard")
  }

  /** Admission filter for ingest: keep only new docs that near-dup NOTHING
    * already in the index (the standard grow-a-corpus dedup policy). The
    * result is EAGER (settled before return) so the admit → append loop
    * can publish a new index version immediately.
    */
  def incrementalDedup(newDf: DataFrame, idCol: String, textCol: String, path: String,
                       shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                       threshold: Double = 0.8, maxIdPushdown: Int = 100000): DataFrame = {
    val doomed = incrementalCandidates(newDf, idCol, textCol, path,
        shingleSize, numHashes, bands, threshold, maxIdPushdown)
      .select(col("id").as(idCol)).distinct()
    newDf.join(doomed, Seq(idCol), "left_anti").localCheckpoint()
  }

  /** All (x,y) pairs with x<y from a sorted array column. */
  private def pairsOfSorted(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)), y => struct(x.as("_1"), y.as("_2")))))
  }

  /** MinHash dedup: drop every doc that is the larger id of a verified
    * candidate pair (keep-first greedy — the standard web-dedup policy).
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.8): DataFrame = {
    val doomed = minhashCandidates(df, idCol, textCol, shingleSize, numHashes, bands, threshold)
      .select(col("b").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  // ---------- near-dup clustering (connected components) ----------

  /** Connected components over an undirected pair list (a, b) → (id, comp)
    * where `comp` is the MINIMUM id in the component — the transitive
    * closure of pairwise near-duplication, which keep-first greedy dedup
    * under-approximates (a~b, b~c does not drop c without it).
    *
    * Min-label propagation: each round every node takes the min of its own
    * and its neighbors' labels — exact after `diameter` rounds, and the loop
    * stops at the measured fixpoint, so the result is the true CC, not an
    * iteration-capped approximation (`maxIter` only guards a pathological
    * chain). Scale shape: rounds are O(diameter) — near-dup clusters are
    * bucket-cap-bounded cliques, so single digits in practice; each round is
    * one join + one min-aggregation of slim (id, label) rows, and
    * `localCheckpoint` truncates the otherwise-exponential lineage (the
    * superseded round's blocks are reclaimed by the ContextCleaner once the
    * driver drops the reference).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
                          maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("id")).agg(min("comp").as("ncomp"))
      // the changed-flag rides in the round's own pass (old comp and
      // neighbor min are side by side here), so convergence detection is a
      // narrow filter over the materialized round — not a second join of
      // the full label set
      val round = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (coalesce(col("ncomp"), col("comp")) < col("comp")).as("__changed"))
        .localCheckpoint()
      // (r20 measured dead end: fusing this isEmpty probe into the round's
      // materialization via persist()+changed-count-aggregate — one job per
      // round instead of two — ran 1.3x SLOWER in-JVM interleaved A/B
      // (0.94 vs 0.73 s on the sf0.1 minhash-cluster graph): the columnar
      // InMemoryRelation build costs more than localCheckpoint's block write
      // plus the limit-1 isEmpty scan of checkpointed blocks. Do not retry
      // without an RDD-level side-channel for the changed count.)
      converged = round.where(col("__changed")).isEmpty
      labels = round.drop("__changed")
      i += 1
    }
    // never return a silently-truncated fixpoint: a diameter beyond maxIter
    // means wrong cluster ids, which a downstream dedup would act on
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds (graph diameter too large)")
    labels
  }

  /** MinHash near-dup CLUSTERS: transitive closure of the verified candidate
    * pairs. Returns (doc_id, cluster_id = min doc_id of the cluster) for
    * every doc that belongs to a non-trivial cluster.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                      threshold: Double = 0.8): DataFrame =
    connectedComponents(
      minhashCandidates(df, idCol, textCol, shingleSize, numHashes, bands, threshold))
      .select(col("id").as(idCol), col("comp").as("cluster_id"))

  // ---------- SimHash ----------

  /** 64-bit SimHash over token hashes. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    for (tok <- (if (text == null) "" else text).toLowerCase.split("\\W+") if tok.nonEmpty) {
      val h = hash64(tok)
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash near-dup candidates with Hamming distance ≤ `maxHamming` (< 4):
    * pigeonhole over 4 16-bit blocks — any pair within distance 3 must agree
    * on ≥1 block, so blocks are the LSH bucket keys.
    */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, maxBucketSize: Int = 64): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole covers hamming <= 3")
    val hashes = df.select(col(idCol).cast("long").as("id"),
      graft.functions.CdcExpressions.simhash64(coalesce(col(textCol), lit("")))
        .as("simhash"))

    // 4 16-bit block keys as a native array + posexplode: stays inside
    // WholeStageCodegen end-to-end (no typed-Dataset encoder round-trip —
    // the same shape the MinHash path uses for its band keys)
    val blocks = hashes.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("block", "key")))

    blocks.groupBy("block", "key")
      .agg(collect_list(struct(col("id"), col("simhash"))).as("members"))
      .where(size(col("members")) > 1 && size(col("members")) <= maxBucketSize)
      .select(explode(col("members")).as("m"), col("members"))
      .select(col("m.id").as("a"), col("m.simhash").as("ha"), explode(col("members")).as("n"))
      .where(col("a") < col("n.id"))
      .select(col("a"), col("n.id").as("b"),
        bit_count(col("ha").bitwiseXOR(col("n.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---------- n-gram Jaccard (exact verification) ----------

  /** Exact n-gram Jaccard for given candidate pairs (a, b): joins the shingle
    * sets back by id and computes true set Jaccard — used to confirm MinHash/
    * SimHash candidates before destructive dedup.
    */
  def ngramJaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    // shingle sets via the native SHINGLE_HASHES expression; the exact set
    // Jaccard is array_intersect/array_union arithmetic — no Scala UDF, no
    // Dataset .map, the whole verify stage stays in codegen
    val sets = df.select(col(idCol).cast("long").as(idCol),
      graft.functions.CdcExpressions.shingleHashes(
        coalesce(col(textCol), lit("")), shingleSize).as("shingles"))
    pairs
      .join(sets.withColumnRenamed(idCol, "a").withColumnRenamed("shingles", "sh_a"), "a")
      .join(sets.withColumnRenamed(idCol, "b").withColumnRenamed("shingles", "sh_b"), "b")
      .withColumn("jaccard",
        // both-empty → 1.0, matching [[exactJaccard]]; arrays are distinct
        // sets already, so intersect/union sizes give the true set Jaccard
        when(size(col("sh_a")) === 0 && size(col("sh_b")) === 0, lit(1.0))
          .otherwise(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))))
      .where(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  // ---------- embedding cosine near-dup ----------

  /** Near-duplicates by embedding cosine ≥ threshold, bucketed by random-
    * hyperplane LSH (`planes` sign bits = bucket key) to avoid the full
    * quadratic comparison; multi-probe over single-bit flips widens recall.
    */
  def embeddingCandidates(df: DataFrame, idCol: String, vecCol: String,
                          numPlanes: Int = 16, threshold: Double = 0.95,
                          maxBucketSize: Int = 256, seed: Long = 42L): DataFrame = {
    val dim = df.select(col(vecCol)).head().getSeq[Float](0).length
    val planes = Similarity.randomPlanes(numPlanes, dim, seed)

    val buckets = df.select(
      graft.functions.CdcExpressions.hyperplaneSig(col(vecCol), planes).as("bucket"),
      col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))

    buckets.groupBy("bucket")
      .agg(collect_list(struct(col("id"), col("vec"))).as("members"))
      .where(size(col("members")) > 1 && size(col("members")) <= maxBucketSize)
      .select(explode(col("members")).as("m"), col("members"))
      .select(col("m.id").as("a"), col("m.vec").as("va"), explode(col("members")).as("n"))
      .where(col("a") < col("n.id"))
      // native codegen'd cosine (graft.functions.CosineSim), not a Scala UDF
      .withColumn("cosine", graft.functions.CdcExpressions.cosineSim(col("va"), col("n.vec")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("n.id").as("b"), col("cosine"))
      .distinct()
  }

  /** SemDeDup-shaped survivor selection (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * partition the embedding space into bounded buckets, drop every
    * document that has a smaller-id cosine-near-duplicate in its bucket —
    * the minimum id of each duplicate chain survives as the
    * representative. The curation pipeline consumes THIS set; the pair
    * list ([[embeddingCandidates]]) is the audit trail.
    *
    * Scale shape: the wide vectors stay inside the bounded per-bucket
    * pair stage; the anti-join back to the corpus carries bare ids (the
    * dropped set is a small fraction of the corpus, so AQE typically
    * broadcasts it).
    */
  def semanticSurvivors(df: DataFrame, idCol: String, vecCol: String,
                        numPlanes: Int = 16, threshold: Double = 0.95,
                        maxBucketSize: Int = 256, seed: Long = 42L): DataFrame =
    df.join(
      embeddingCandidates(df, idCol, vecCol, numPlanes, threshold, maxBucketSize, seed)
        .select(col("b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
}
