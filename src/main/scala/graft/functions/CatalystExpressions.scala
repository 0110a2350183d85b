package graft.functions

import graft.ops.Dedup
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup hot path.
  *
  * These replace Dataset-lambda maps: a custom `Expression` with `doGenCode`
  * stays inside WholeStageCodegen (no Row encode/decode per record, no
  * closure dispatch), the preference order the engine follows for operators
  * Spark lacks (custom Expression > Scala UDF). At 100 TB the signature
  * computation is the dominant narrow stage of MinHash dedup — keeping it in
  * codegen keeps the stage scan-bound.
  */
object CdcExprHelpers {
  /** Static entry the generated code calls: text → minhash signature. */
  def minhashData(s: UTF8String, shingleSize: Int, numHashes: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Dedup.minhashSignature(Dedup.shingleHashes(s.toString, shingleSize), numHashes))

  def simhash(s: UTF8String): Long = Dedup.simhash64(s.toString)

  /** 64-bucket character-presence bitmap (bit `codepoint % 64` per
    * distinct character) — the fuzzy-join blocking stage's content
    * prefilter constant: one edit flips ≤2 presence bits and bucket
    * collisions only shrink the xor, so
    * `bit_count(sig_a ^ sig_b) ≤ 2·d` is an exact Levenshtein lower
    * bound ([[graft.ops.FuzzyJoin]]). Counts by code points, matching
    * Spark's character semantics (`length`/`substring`/`ascii`).
    */
  def charBitmap64(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc |= 1L << (cp % 64)
      i += Character.charCount(cp)
    }
    acc
  }

  def hash64(s: UTF8String): Long = Dedup.hash64(s.toString)

  /** Top-level JSON integer-field extract + long cast in ONE byte scan —
    * the fused form of `get_json_object(record, '$.key').cast('long')`,
    * which runs a full Jackson parse of every record just to read one
    * envelope field ([[graft.sources.StartupOptions]]'s per-record offset
    * filter). Single pass over the UTF-8 bytes tracking depth and in-string
    * state; ASCII structural bytes never collide with UTF-8 continuation
    * bytes, so no decode is needed. The long cast delegates to
    * `UTF8String.toLong` — TRY_CAST semantics (null on a malformed token),
    * which is what a startup filter wants: under ANSI (the Spark 4 default)
    * the plain `.cast("long")` it replaces would CRASH the pipeline on one
    * malformed line, while those lines belong to the dead-letter path.
    *
    * Parity contract (vs get_json_object + try_cast): identical for records
    * whose top-level `key` value is an unescaped scalar — the debezium
    * envelope's `ts_ms`/offset fields are always plain integers (pinned by
    * CatalystExpressionsSpec). Documented divergences, all on inputs no
    * JSON serializer emits for these envelopes: escaped key spellings
    * (`"ts_ms"`) are not matched, and escaped content inside a quoted
    * value yields null.
    */
  def jsonLongField(s: UTF8String, key: Array[Byte]): java.lang.Long = {
    val n = s.numBytes
    var i = 0
    var depth = 0
    var inStr = false
    def ws(b: Byte): Boolean = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    def matchesKey(at: Int): Boolean = {
      if (at + key.length >= n || s.getByte(at + key.length) != '"') return false
      var k = 0
      while (k < key.length) {
        if (s.getByte(at + k) != key(k)) return false
        k += 1
      }
      true
    }
    // parse the scalar token at j as Spark's string->long cast would
    def tokenLong(j0: Int): java.lang.Long = {
      var j = j0
      if (j >= n) return null
      val quoted = s.getByte(j) == '"'
      if (quoted) j += 1
      val start = j
      if (quoted) {
        while (j < n && s.getByte(j) != '"') {
          if (s.getByte(j) == '\\') return null // escaped content: not an integer
          j += 1
        }
      } else {
        while (j < n && { val b = s.getByte(j)
          b != ',' && b != '}' && b != ']' && !ws(b) }) j += 1
      }
      if (j == start) return null
      val tok = new Array[Byte](j - start)
      var k = 0
      while (k < tok.length) {
        val b = s.getByte(start + k)
        // integer tokens only: UTF8String.toLong TRUNCATES "1.5" to 1 (the
        // Hive LazyLong lineage) where try_cast rejects it — pre-reject so
        // the parity with try_cast(... AS long) holds on non-integers too
        if (b == '.' || b == 'e' || b == 'E') return null
        tok(k) = b; k += 1
      }
      val w = new UTF8String.LongWrapper
      if (UTF8String.fromBytes(tok).toLong(w)) java.lang.Long.valueOf(w.value) else null
    }
    while (i < n) {
      val b = s.getByte(i)
      if (inStr) {
        if (b == '\\') i += 1
        else if (b == '"') inStr = false
        i += 1
      } else if (b == '{' || b == '[') { depth += 1; i += 1 }
      else if (b == '}' || b == ']') { depth -= 1; i += 1 }
      else if (b == '"') {
        if (depth == 1 && matchesKey(i + 1)) {
          var j = i + 1 + key.length + 1 // past the closing quote
          while (j < n && ws(s.getByte(j))) j += 1
          if (j < n && s.getByte(j) == ':') {
            j += 1
            while (j < n && ws(s.getByte(j))) j += 1
            return tokenLong(j) // first top-level occurrence wins, like Jackson
          }
        }
        inStr = true; i += 1 // an ordinary string (value, or a non-matching key)
      } else i += 1
    }
    null
  }

  /** Static entry the generated code calls: text → distinct shingle hashes. */
  def shingleData(s: UTF8String, shingleSize: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Dedup.shingleHashes(s.toString, shingleSize))

  /** Hashed word-n-gram feature buckets of a text: for every n in 1..maxN,
    * each n-gram's `Dedup.hash64` folded into `buckets` via pmod — the
    * hashed bag-of-n-grams featurization of DSIR-style importance
    * resampling (one array element PER OCCURRENCE, not a set: importance
    * weights need counts).
    */
  def ngramBuckets(s: UTF8String, maxN: Int, buckets: Int): ArrayData =
    ngramBuckets(s, 1, maxN, buckets)

  /** As above with a lower bound on n — `minN = maxN = 2` yields bigram-only
    * occurrence buckets (the pair side of [[graft.ops.LmScore]]'s hashed
    * conditional bigram LM). Buckets appear in (n, position) order, so the
    * n = k slice aligns positionally with the token sequence.
    */
  def ngramBuckets(s: UTF8String, minN: Int, maxN: Int, buckets: Int): ArrayData = {
    val toks = s.toString.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val nToks = toks.length
    var total = 0
    var n = minN
    while (n <= maxN) { total += math.max(0, nToks - n + 1); n += 1 }
    val out = new Array[Int](total)
    var j = 0
    n = minN
    while (n <= maxN) {
      var i = 0
      while (i + n <= nToks) {
        val gram = if (n == 1) toks(i) else toks.slice(i, i + n).mkString(" ")
        val h = Dedup.hash64(gram)
        out(j) = (((h % buckets) + buckets) % buckets).toInt
        j += 1; i += 1
      }
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** LSH band keys of a minhash signature: one mixed hash per band over its
    * signature slice (banding per Broder/LSH; `rows = sig.length / bands`).
    */
  def bandHashes(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val rows = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var i = b * rows
      while (i < (b + 1) * rows) { h = Dedup.mix64(h ^ sig.getLong(i)); i += 1 }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Estimated Jaccard of two minhash signatures: fraction of equal slots. */
  def estJaccard(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var eq = 0; var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Sum of `weights(b)` over the bucket array in array order (the caller
    * sorts for a pinned IEEE accumulation); out-of-range buckets fail loudly
    * — a bucket id past the weight table is a model/featurizer mismatch.
    */
  def bucketWeightSum(a: ArrayData, weights: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.numElements()) { s += weights(a.getInt(i)); i += 1 }
    s
  }

  private def hasNullElement(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Hyperplane LSH signature: sign bits of the vector against each plane.
    * Null on null elements (boxed so the generated code can propagate).
    */
  def planeSig(v: ArrayData, planes: Array[Array[Float]]): java.lang.Long =
    if (hasNullElement(v)) null
    else Long.box(graft.ops.Similarity.planeSignature(v.toFloatArray(), planes))

  /** One-tokenization bigram featurize for the hashed conditional LM
    * ([[graft.ops.LmScore]]): for each bigram occurrence, the context
    * unigram's bucket and the bigram's bucket PACKED as `b1<<32 | b12`
    * (buckets ≤ 65536 « 2^31, so both halves are exact) — a Column-level
    * `zip_with(slice(uni,…,size(bi)), bi, …)` would tokenize the text three
    * times per row (bi appears twice, uni once).
    */
  def bigramPairBuckets(s: UTF8String, buckets: Int): ArrayData = {
    val toks = s.toString.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val n = math.max(0, toks.length - 1)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val b1 = ((Dedup.hash64(toks(i)) % buckets) + buckets) % buckets
      val b12 = ((Dedup.hash64(toks(i) + " " + toks(i + 1)) % buckets) + buckets) % buckets
      out(i) = (b1 << 32) | b12
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ encode: per subspace, the argmin-L2 centroid index, packed 4 bits
    * per code (`Σ code_j << 4j`). Null on null elements.
    */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Float]]]): java.lang.Long = {
    if (hasNullElement(v)) return null
    val arr = v.toFloatArray()
    val m = books.length
    val ds = arr.length / m
    var packed = 0L
    var j = 0
    while (j < m) {
      val sub = java.util.Arrays.copyOfRange(arr, j * ds, (j + 1) * ds)
      packed |= graft.ops.Pq.argminL2(sub, books(j)).toLong << (4 * j)
      j += 1
    }
    Long.box(packed)
  }

  /** ADC approximate dot: `Σ_j table(j·k + code_j)` over the packed codes,
    * ascending j (pinned fold order).
    */
  def pqAdcDot(packed: Long, table: Array[Double], m: Int, k: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < m) {
      s += table(j * k + ((packed >>> (4 * j)) & 0xFL).toInt)
      j += 1
    }
    s
  }

  /** Mean-weight logit in one pass: `bias + (Σ weights(b)) / n` over the
    * bucket array in array order; null (boxed) on an empty array — no
    * features, no logit.
    */
  def bucketLogit(a: ArrayData, weights: Array[Double], bias: Double): java.lang.Double = {
    val n = a.numElements()
    if (n == 0) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += weights(a.getInt(i)); i += 1 }
    java.lang.Double.valueOf(bias + s / n)
  }

  /** Binary-search bucket index: the number of `bounds` ≤ v (bounds
    * ascending) — `width_bucket` over arbitrary quantile bounds, the
    * assignment half of [[graft.ops.Layout.rankBucket]].
    */
  def rangeBucket(v: Double, bounds: Array[Double]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Sign random projection: out(j) = Σ_i v(i)·m(j)(i) accumulated in
    * double ascending-i order, cast to float — cosine is scale-invariant,
    * so the JL 1/√k normalizer is deliberately omitted. Null on null
    * elements (boxed propagation like [[planeSig]]).
    */
  def projectVec(v: ArrayData, m: Array[Array[Float]]): ArrayData = {
    if (hasNullElement(v)) return null
    val arr = v.toFloatArray()
    val out = new Array[Float](m.length)
    var j = 0
    while (j < m.length) {
      val row = m(j)
      var dot = 0.0
      var i = 0
      val n = math.min(arr.length, row.length)
      while (i < n) { dot += arr(i).toDouble * row(i); i += 1 }
      out(j) = dot.toFloat
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Nearest-centroid id by cosine (ties → lowest index, matching the
    * stable-sort semantics of `Ivf.Model.nearest`); null on null elements.
    */
  def nearestCentroid(v: ArrayData, centroids: Array[Array[Float]]): java.lang.Integer = {
    if (hasNullElement(v)) return null
    val arr = v.toFloatArray()
    var best = 0; var bestCos = Double.NegativeInfinity; var i = 0
    while (i < centroids.length) {
      val c = graft.ops.Similarity.cosine(centroids(i), arr)
      if (c > bestCos) { bestCos = c; best = i }
      i += 1
    }
    Int.box(best)
  }

  /** Top-`nprobe` centroid ids by cosine (score DESC, id ASC on ties — the
    * lex order of the (−score, cid) struct sort this call replaces); null
    * on null elements, like [[cosineFF]]. Per-centroid scores reproduce
    * [[cosineFF]]'s exact arithmetic (same accumulation order, same
    * `dot / sqrt(na * nb)` shape, zero-norm → 0.0), so the selected probe
    * lists are bit-identical to the literal struct-array formulation.
    * Selection is one insertion pass over a bounded nprobe-sized buffer —
    * O(k · nprobe) with no per-row allocation beyond the output.
    */
  def nearestCentroids(v: ArrayData, centroids: Array[Array[Float]],
                       nprobe: Int): ArrayData = {
    if (hasNullElement(v)) return null
    val arr = v.toFloatArray()
    val n = math.min(nprobe, centroids.length)
    val ids = new Array[Int](n)
    val scores = new Array[Double](n)
    var filled = 0; var j = 0
    while (j < centroids.length) {
      val c = centroids(j)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val m = math.min(arr.length, c.length)
      while (i < m) {
        val x = arr(i).toDouble; val y = c(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val s = if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      // a later id displaces only on STRICTLY greater score (ties → lower id)
      if (filled < n) {
        var pos = filled
        while (pos > 0 && s > scores(pos - 1)) {
          scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        scores(pos) = s; ids(pos) = j; filled += 1
      } else if (s > scores(n - 1)) {
        var pos = n - 1
        while (pos > 0 && s > scores(pos - 1)) {
          scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
        }
        scores(pos) = s; ids(pos) = j
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(ids)
  }

  /** Unicode normalization (UAX #15) — the NFC/NFKC step of text cleaning;
    * `form` is validated at plan time by [[UnicodeNormalize]].
    */
  def unicodeNormalize(s: UTF8String, form: String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.valueOf(form)))

  private val WireFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** Render an instant (epoch micros) as the reference's zoned wire form:
    * the wall clock IN the row's zone plus the zone suffix verbatim. Pure
    * java.time keyed on the row's zone — no session-zone dependence, so a
    * wall clock landing in the SESSION zone's DST spring-forward gap cannot
    * shift the output (the reference's ZonedTimestampData renders the same
    * way, common/data/ZonedTimestampData.java).
    */
  def renderZoned(micros: Long, zone: UTF8String): UTF8String = {
    val zoneStr = zone.toString
    val instant = java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    UTF8String.fromString(
      java.time.LocalDateTime.ofInstant(instant, java.time.ZoneId.of(zoneStr))
        .format(WireFormatter) + zoneStr)
  }

  /** Cosine similarity of two float vectors; 0.0 on zero norms, NULL when
    * either vector has a null element (matching the null propagation of a
    * `zip_with`+`aggregate` formulation). Accumulates in ascending index
    * order so non-null results are bit-identical to that formulation.
    */
  def cosineFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (hasNullElement(a) || hasNullElement(b)) return null
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    Double.box(if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb))
  }

  /** Cosine similarity with PRECOMPUTED squared norms — the bulk-pair hot
    * loop of [[graft.ops.Ivf.knnJoin]]: the norms are per-ROW constants, so
    * evaluating them once per row instead of once per candidate PAIR cuts
    * the pair loop from three fused multiply-adds per element to one (the
    * dot), a ~3× arithmetic reduction on the |L|·|R|·nprobe/k candidate
    * volume. BIT-IDENTICAL to [[cosineFF]] for equal-length vectors: `na`
    * and `nb` are independent accumulators there, and the final expression
    * keeps the exact `dot / sqrt(na * nb)` shape (never
    * `sqrt(na) * sqrt(nb)`, which rounds differently). A MISMATCHED-length
    * pair (a short/corrupted vector in a ragged table) falls back to
    * [[cosineFF]] — its min-length truncation is the pre-hoist semantics,
    * so a ragged row's neighbor ranks cannot silently shift; the check is
    * one int compare per pair, paid only by genuinely ragged data.
    */
  def cosinePre(a: ArrayData, b: ArrayData, na: Double, nb: Double): java.lang.Double = {
    if (hasNullElement(a) || hasNullElement(b)) return null
    val n = a.numElements()
    if (n != b.numElements()) return cosineFF(a, b)
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
    }
    Double.box(if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb))
  }

  /** Squared L2 norm of a float vector (ascending-index accumulation —
    * bit-identical to [[cosineFF]]'s internal `na`/`nb`); NULL when the
    * vector has a null element, matching cosineFF's null propagation.
    */
  def normSqFF(a: ArrayData): java.lang.Double = {
    if (hasNullElement(a)) return null
    val n = a.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    Double.box(s)
  }

  /** Static entry: text → the five within-document repetition metrics
    * ([[graft.ops.Repetition.statsOf]]) as a primitive double array.
    */
  def repetitionStats(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(graft.ops.Repetition.statsOf(s.toString))

  /** Static entry: the fused keep/drop decision — same one-pass metric
    * computation, but nothing materialized.
    */
  def repetitionKeep(s: UTF8String, maxDupLine: Double, maxDupLineChar: Double,
                     maxDupPara: Double, maxDupParaChar: Double,
                     maxTopBigram: Double, maxDupNgram: Double): Boolean =
    graft.ops.Repetition.keepOf(s.toString, maxDupLine, maxDupLineChar,
      maxDupPara, maxDupParaChar, maxTopBigram, maxDupNgram)

  private val tokenPatterns =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]

  /** Static entry: the corpus tokenize idiom — optional lowercase, regex
    * split, drop empties — in ONE pass. Bit-compatible with the
    * `filter(split(lower(text), re), x -> x <> '')` Column pipeline it
    * replaces: lowercasing is `UTF8String.toLowerCase` (exactly what
    * Spark's `Lower` evaluates) and the split is `Pattern.split(str, -1)`
    * (exactly what Spark's `StringSplit` with the default limit runs), so
    * every DuckDB oracle built against the old idiom stays green.
    */
  def regexTokens(s: UTF8String, pattern: String, lowercase: Boolean): ArrayData = {
    val p = tokenPatterns.computeIfAbsent(pattern, java.util.regex.Pattern.compile(_))
    val str = (if (lowercase) s.toLowerCase else s).toString
    val parts = p.split(str, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[AnyRef](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(j) = UTF8String.fromString(parts(i)); j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Static entry: count-min point estimate of one token against the
    * collected sketch table ([[graft.ops.Sketch.heavyHitters]]'s prefilter
    * hot path). EXACTLY the build-side hash math — h1/h2 masked low bits,
    * bucket_i = (h1 + i·h2) & mask — so the estimate can only OVERCOUNT
    * the build-side cells, never miss them.
    */
  def cmsEstimate(tok: UTF8String, table: Array[Long], depth: Int, width: Int): Long = {
    val mask = (width - 1).toLong
    val h = Dedup.hash64(tok.toString)
    val h1 = h & mask
    val h2 = (Dedup.mix64(h) | 1L) & mask
    var est = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = table(i * width + ((h1 + i * h2) & mask).toInt)
      if (c < est) est = c
      i += 1
    }
    est
  }

  /** Static entry: apply an ordered BPE merge list to one symbol sequence
    * ([[graft.ops.Bpe]]). Each merge is one greedy left-to-right pass with a
    * write pointer — O(len) per merge in place, reproducing the reference
    * fold exactly: a freshly written merged symbol can match as the LEFT
    * side of a later comparison (cur(w-1) is re-read), and can never match
    * `a` itself (b is non-empty, so a+b ≠ a). Null elements pass through
    * unmerged, the same null-comparison fallthrough the higher-order
    * `aggregate` fold had.
    */
  def bpeMergePass(syms: ArrayData, as: Array[UTF8String], bs: Array[UTF8String],
                   abs: Array[UTF8String]): ArrayData = {
    var n = syms.numElements()
    val cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) { cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i); i += 1 }
    var m = 0
    while (m < as.length) {
      val a = as(m); val b = bs(m); val ab = abs(m)
      var w = 0; var r = 0
      while (r < n) {
        val s = cur(r)
        if (w > 0 && s != null && cur(w - 1) != null && a.equals(cur(w - 1)) && b.equals(s))
          cur(w - 1) = ab
        else { cur(w) = s; w += 1 }
        r += 1
      }
      n = w
      m += 1
    }
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) { out(i) = cur(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `MINHASH_SIGNATURE(text)` — 128×64-bit MinHash signature of the text's
  * word-3-gram shingle set (SURVEY training-data ops; MinHash per Broder '97).
  */
case class MinHashSignature(child: Expression, shingleSize: Int = 3, numHashes: Int = 128)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.minhashData(input.asInstanceOf[UTF8String], shingleSize, numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.minhashData($c, $shingleSize, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

/** `SHINGLE_HASHES(text)` — distinct word-n-gram shingle hash set of the
  * text, the exact-Jaccard verify input; as a codegen'd call the verify
  * stage's set computation never leaves Tungsten format.
  */
case class ShingleHashes(child: Expression, shingleSize: Int = 3)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.shingleData(input.asInstanceOf[UTF8String], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.shingleData($c, $shingleSize)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** `REGEX_TOKENS(text)` — the corpus tokenize idiom (optional lowercase →
  * regex split → drop empties) as ONE codegen'd call. The
  * `filter(split(lower(text), re), x -> x <> '')` pipeline it replaces
  * evaluates `ArrayFilter`, a higher-order function and therefore
  * CodegenFallback in Spark: every tokenizing corpus scan paid an
  * interpreted projection per document plus a discarded intermediate
  * array. Same values by construction (see
  * [[CdcExprHelpers.regexTokens]]), so the DuckDB oracles are untouched.
  */
case class RegexTokens(child: Expression, pattern: String = "\\W+",
                       lowercase: Boolean = true)
    extends UnaryExpression {
  java.util.regex.Pattern.compile(pattern) // fail at plan time, not per row
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.regexTokens(input.asInstanceOf[UTF8String], pattern, lowercase)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokPattern", pattern, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.regexTokens($c, $ref, $lowercase)")
  }
  override protected def withNewChildInternal(newChild: Expression): RegexTokens =
    copy(child = newChild)
  override def prettyName: String = "regex_tokens"
}

/** `JSON_LONG_FIELD(record)` — top-level `"field": <integer>` extract plus
  * long cast in ONE byte scan of the raw record: the fused form of
  * `get_json_object(record, '$.field').cast('long')`, whose Jackson parse
  * of the whole record per row dominated the startup-offset filter
  * ([[graft.sources.StartupOptions]], r20; guide §4's expensive-expression
  * stance — the envelope scan is the expression). Parity contract with the
  * fused pair is documented on [[CdcExprHelpers.jsonLongField]].
  */
case class JsonLongField(child: Expression, field: String)
    extends UnaryExpression {
  @transient private lazy val keyBytes = field.getBytes("UTF-8")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // absent field, or non-integer value
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.jsonLongField(input.asInstanceOf[UTF8String], keyBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonKey", keyBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("jlf")
      s"""java.lang.Long $boxed = graft.functions.CdcExprHelpers.jsonLongField($c, $ref);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): JsonLongField =
    copy(child = newChild)
  override def prettyName: String = "json_long_field"
}

/** `CMS_ESTIMATE(token)` with a bound sketch table — the count-min point
  * estimate as ONE codegen'd call over the scan ([[graft.ops.Sketch
  * .heavyHitters]]'s second pass runs it on EVERY token occurrence of the
  * corpus). Replaces a `transform(sequence(...))` + `element_at(lit(arr))`
  * + `array_min` pipeline: higher-order functions are CodegenFallback in
  * Spark, so that filter evaluated interpreted per token with a fresh
  * 4-struct array allocation per row. The table rides as a plan reference
  * object (depth × width longs, ≈ 256 KB — same object the old array
  * literal embedded).
  */
case class CmsEstimate(child: Expression, table: Array[Long], depth: Int, width: Int)
    extends UnaryExpression {
  require(depth >= 1 && width >= 2 && (width & (width - 1)) == 0 &&
    table.length == depth * width,
    s"CmsEstimate needs power-of-two width and a depth×width table: " +
      s"$depth × $width vs ${table.length}")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.cmsEstimate(input.asInstanceOf[UTF8String], table, depth, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cmsTable", table, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.cmsEstimate($c, $ref, $depth, $width)")
  }
  override protected def withNewChildInternal(newChild: Expression): CmsEstimate =
    copy(child = newChild)
  override def prettyName: String = "cms_estimate"
}

/** `BPE_MERGE_PASS(syms)` with a bound ordered merge list — one training
  * round's merges applied to each word's symbol sequence in ONE narrow
  * codegen'd projection ([[graft.ops.Bpe.trainMerges]]). Replaces a chain
  * of higher-order `aggregate` folds: those are CodegenFallback in Spark
  * (interpreted per row, per merge) and rebuild the accumulator array per
  * element (`concat(acc, array(s))` — O(len²) per word); this is an O(len)
  * write-pointer pass per merge. The merge list rides as plan reference
  * objects like [[HyperplaneSig]]'s planes (tiny: the round's batch).
  */
case class BpeMergePass(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  require(merges.nonEmpty && merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
    "BpeMergePass needs a non-empty merge list of non-empty symbols")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<STRING>, got $t")
  }
  override def dataType: DataType = child.dataType
  @transient private lazy val as = merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val bs = merges.map(m => UTF8String.fromString(m._2)).toArray
  @transient private lazy val abs = merges.map(m => UTF8String.fromString(m._1 + m._2)).toArray
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.bpeMergePass(input.asInstanceOf[ArrayData], as, bs, abs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = "org.apache.spark.unsafe.types.UTF8String[]"
    val ra = ctx.addReferenceObj("bpeAs", as, cls)
    val rb = ctx.addReferenceObj("bpeBs", bs, cls)
    val rab = ctx.addReferenceObj("bpeAbs", abs, cls)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.bpeMergePass($c, $ra, $rb, $rab)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeMergePass =
    copy(child = newChild)
  override def prettyName: String = "bpe_merge_pass"
}

/** `NGRAM_BUCKETS(text)` — hashed n-gram feature-bucket ids (one per n-gram
  * occurrence, n = 1..maxN), the DSIR featurization ([[graft.ops.Dsir]]).
  * Codegen'd: the featurize stage stays scan-bound inside WholeStageCodegen.
  */
case class NgramBuckets(child: Expression, maxN: Int = 2, buckets: Int = 4096,
                        minN: Int = 1)
    extends UnaryExpression {
  require(minN >= 1 && maxN >= minN && buckets >= 2,
    s"need 1 <= minN <= maxN and buckets >= 2: $minN, $maxN, $buckets")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.ngramBuckets(input.asInstanceOf[UTF8String], minN, maxN, buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.ngramBuckets($c, $minN, $maxN, $buckets)")
  override protected def withNewChildInternal(newChild: Expression): NgramBuckets =
    copy(child = newChild)
  override def prettyName: String = "ngram_buckets"
}

/** `UNICODE_NORMALIZE(text)` — UAX #15 normalization (NFC/NFKC/NFD/NFKD),
  * the first stage of corpus text cleaning ([[graft.ops.TextAnalysis
  * .cleanText]]): composed characters get one canonical byte form so
  * hashing/dedup/tokenization see "café" identically however it was typed.
  * Codegen'd static call; the form is validated at construction.
  */
case class UnicodeNormalize(child: Expression, form: String = "NFC")
    extends UnaryExpression {
  java.text.Normalizer.Form.valueOf(form) // fail at plan time, not per row
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.unicodeNormalize(input.asInstanceOf[UTF8String], form)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.CdcExprHelpers.unicodeNormalize($c, "$form")""")
  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
  override def prettyName: String = "unicode_normalize"
}

/** `SIMHASH64(text)` — 64-bit SimHash of the token set (Charikar '02). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.simhash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.simhash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** `CHAR_BITMAP64(text)` — 64-bucket character-presence bitmap
  * ([[CdcExprHelpers.charBitmap64]]), the fuzzy-join content prefilter's
  * per-row constant. A native codegen expression, NOT the
  * aggregate/transform higher-order-function formulation: HOF lambdas
  * are interpreted and evict the WHOLE projection stage from
  * WholeStageCodegen — measured 1.6× on the fuzzy-join prefix stage at
  * sf0.1, where the blocking relation is derived twice.
  */
case class CharBitmap64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.charBitmap64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.charBitmap64($c)")
  override protected def withNewChildInternal(newChild: Expression): CharBitmap64 =
    copy(child = newChild)
  override def prettyName: String = "char_bitmap64"
}

/** `HASH64(text)` — the engine's canonical 64-bit string hash
  * (FNV-1a + splitmix finalizer, [[graft.ops.Dedup.hash64]]) as a scalar
  * codegen expression: the building block sketches and partitioners share
  * with the minhash/shingle machinery (one hash family everywhere, one
  * SQL oracle replay).
  */
case class Hash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.hash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.hash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Hash64 =
    copy(child = newChild)
  override def prettyName: String = "hash64"
}

/** `MIX64(h)` — splitmix64 finalizer ([[graft.ops.Dedup.mix64]]): derives
  * independent hash rows from one base hash (the 2-hash trick minhash
  * already uses), codegen'd.
  */
case class Mix64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BIGINT, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Dedup.mix64(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Dedup.mix64($c)")
  override protected def withNewChildInternal(newChild: Expression): Mix64 =
    copy(child = newChild)
  override def prettyName: String = "mix64"
}

/** `COSINE_SIM(vec, vec)` over `ARRAY<FLOAT>` — the ANN scoring hot loop as
  * a single codegen'd call instead of a `zip_with`+`aggregate` lambda chain
  * (per-element Catalyst lambda dispatch); the narrow scored scan stays
  * scan-bound at 100 TB.
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(a: Any, b: Any): Any =
    CdcExprHelpers.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("cos")
      s"""java.lang.Double $boxed = graft.functions.CdcExprHelpers.cosineFF($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_sim"
}

/** `VEC_NORM_SQ(vec)` over `ARRAY<FLOAT>` — squared L2 norm, the per-row
  * half of the hoisted-norm cosine ([[CosinePre]]): evaluated once per
  * row, carried as one DOUBLE column through the candidate shuffle.
  */
case class VecNormSq(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.normSqFF(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("nsq")
      s"""java.lang.Double $boxed = graft.functions.CdcExprHelpers.normSqFF($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): VecNormSq =
    copy(child = newChild)
  override def prettyName: String = "vec_norm_sq"
}

/** `COSINE_PRE(a, b, na, nb)` — cosine similarity with the squared norms
  * hoisted to per-row columns ([[VecNormSq]]): the bulk k-NN pair loop pays
  * only the dot product. Bit-identical to [[CosineSim]] on fixed-dimension
  * vectors (`dot / sqrt(na * nb)`, same accumulation order).
  */
case class CosinePre(a: Expression, b: Expression, na: Expression, nb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = na
  override def fourth: Expression = nb
  private def vec(t: DataType): Boolean = t match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (vec(a.dataType) && vec(b.dataType) &&
        na.dataType == org.apache.spark.sql.types.DoubleType &&
        nb.dataType == org.apache.spark.sql.types.DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<FLOAT>, ARRAY<FLOAT>, DOUBLE, DOUBLE), got " +
        s"(${a.dataType}, ${b.dataType}, ${na.dataType}, ${nb.dataType})")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(av: Any, bv: Any, nav: Any, nbv: Any): Any =
    CdcExprHelpers.cosinePre(av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData],
      nav.asInstanceOf[Double], nbv.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (av, bv, nav, nbv) => {
      val boxed = ctx.freshName("cosp")
      s"""java.lang.Double $boxed =
         |  graft.functions.CdcExprHelpers.cosinePre($av, $bv, $nav, $nbv);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): CosinePre =
    copy(a = newFirst, b = newSecond, na = newThird, nb = newFourth)
  override def prettyName: String = "cosine_pre"
}

/** `HYPERPLANE_SIG(vec)` with bound planes — the LSH bucketing hot loop as a
  * codegen'd call directly over the columnar scan: no Dataset encoder
  * round-trip, no closure dispatch. Planes ship as a plan reference object
  * (tiny: numPlanes × dim floats).
  */
case class HyperplaneSig(child: Expression, planes: Array[Array[Float]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.planeSig(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("sig")
      s"""java.lang.Long $boxed = graft.functions.CdcExprHelpers.planeSig($c, $ref);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_sig"
}

/** `NEAREST_CENTROID(vec)` with bound centroids — the IVF assignment hot
  * loop as a codegen'd call over the columnar scan. The assignment stage
  * runs over the ENTIRE corpus at index-build time, so this is the
  * expression-over-typed-map rule applied to its own hottest path: no
  * `DeserializeToObject` encoder round-trip per vector. Centroids ship as a
  * plan reference object (tiny: k × dim floats), like [[HyperplaneSig]]'s
  * planes.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.nearestCentroid(input.asInstanceOf[ArrayData], centroids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("cid")
      s"""java.lang.Integer $boxed = graft.functions.CdcExprHelpers.nearestCentroid($c, $ref);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.intValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid"
}

/** `NEAREST_CENTROIDS(vec)` with bound centroids — the k-NN join's
  * probe-list selection as ONE codegen'd call returning the top-`nprobe`
  * centroid ids (cosine DESC, id ASC). The formulation it replaces — a
  * literal `array(struct(−cosine, cid), …)` per centroid fed through
  * `sort_array`/`slice` — builds an O(k_centroids) expression tree with
  * every centroid inlined as a plan literal: fine at k=16, but a deployment
  * sizes k_centroids with the corpus (constant-length lists ⇒ k ∝ N, 10⁴+
  * lists at 100 TB), where a per-centroid expression tree breaks codegen
  * long before the arithmetic matters. Centroids ride as a plan reference
  * object (like [[NearestCentroid]]); probe selection is O(k · nprobe) in
  * one tight loop; scores are bit-identical to the struct-sort path
  * ([[CdcExprHelpers.nearestCentroids]] reproduces [[CosineSim]]'s exact
  * arithmetic).
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]],
                            nprobe: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.nearestCentroids(input.asInstanceOf[ArrayData], centroids, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("probes")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.functions.CdcExprHelpers.nearestCentroids($c, $ref, $nprobe);
         |if ($out == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $out; }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroids"
}

/** `PQ_ENCODE(vec)` with bound codebooks — product-quantization encoding
  * as a codegen'd call over the columnar scan ([[graft.ops.Pq]]): m argmin-
  * L2 searches per vector, codes packed into one int64 (32× smaller than
  * the floats when persisted). Codebooks ride as a plan reference object
  * (m × k × ds floats).
  */
case class PqEncode(child: Expression, books: Array[Array[Array[Float]]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.pqEncode(input.asInstanceOf[ArrayData], books)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "float[][][]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("codes")
      s"""java.lang.Long $boxed = graft.functions.CdcExprHelpers.pqEncode($c, $ref);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** `PQ_ADC_DOT(codes)` with a bound query table — the asymmetric-distance
  * ranking loop: m table lookups per row, table as a plan reference
  * (m × k doubles).
  */
case class PqAdcDot(child: Expression, table: Array[Double], m: Int, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BIGINT, got ${child.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.pqAdcDot(input.asInstanceOf[Long], table, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("table", table, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.pqAdcDot($c, $ref, $m, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdcDot =
    copy(child = newChild)
  override def prettyName: String = "pq_adc_dot"
}

/** `BIGRAM_PAIR_BUCKETS(text)` — the LM featurizer as one codegen'd call:
  * packed (context-unigram bucket, bigram bucket) pairs, ONE tokenization
  * per row (see [[CdcExprHelpers.bigramPairBuckets]]).
  */
case class BigramPairBuckets(child: Expression, buckets: Int = 65536)
    extends UnaryExpression {
  require(buckets >= 2 && buckets <= 65536, s"buckets must be in [2, 65536]: $buckets")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.bigramPairBuckets(input.asInstanceOf[UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.bigramPairBuckets($c, $buckets)")
  override protected def withNewChildInternal(newChild: Expression): BigramPairBuckets =
    copy(child = newChild)
  override def prettyName: String = "bigram_pair_buckets"
}

/** `BUCKET_LOGIT(buckets)` — [[BucketWeightSum]] fused with the mean and
  * bias into ONE codegen'd call, so a filter predicate referencing the
  * logit evaluates the (expensive) featurize-and-sort child exactly once:
  * Catalyst's predicate pushdown textually duplicates a projected column
  * into filters, and `bias + sum(arr)/size(arr)` would otherwise evaluate
  * `arr` twice per row ([[graft.ops.QualityModel.filter]]'s hot path).
  * Null on an empty array (no features, no decision — the `>=` comparison
  * then yields null and the row drops).
  */
case class BucketLogit(child: Expression, weights: Array[Double], bias: Double)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<INT>, got $t")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true // null input, or empty array
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.bucketLogit(input.asInstanceOf[ArrayData], weights, bias)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refW = ctx.addReferenceObj("weights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("logit")
      s"""java.lang.Double $boxed = graft.functions.CdcExprHelpers.bucketLogit($c, $refW, $bias);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): BucketLogit =
    copy(child = newChild)
  override def prettyName: String = "bucket_logit"
}

/** `RANGE_BUCKET(v)` with bound quantile bounds — `width_bucket` over an
  * arbitrary ascending bounds table as a codegen'd binary search (the
  * assignment half of [[graft.ops.Layout.rankBucket]]; bounds ship as a
  * plan reference object, one double per bucket).
  */
case class RangeBucket(child: Expression, bounds: Array[Double])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires DOUBLE, got ${child.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.rangeBucket(input.asInstanceOf[Double], bounds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", bounds, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.rangeBucket($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): RangeBucket =
    copy(child = newChild)
  override def prettyName: String = "range_bucket"
}

/** `PROJECT_VEC(vec)` with a bound sign matrix — Johnson-Lindenstrauss
  * dimensionality reduction as a codegen'd call over the columnar scan
  * ([[graft.ops.Similarity.projectedTopK]]): `out_dim` signed dots per
  * vector, matrix as a plan reference object (out_dim × dim floats). The
  * projected column is 1/(dim/out_dim) the bytes of the original — persist
  * it and the ANN candidate scan reads a fraction of the embedding store.
  */
case class ProjectVec(child: Expression, matrix: Array[Array[Float]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
  override def nullable: Boolean = true // null input, or null vector elements
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.projectVec(input.asInstanceOf[ArrayData], matrix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matrix", matrix, "float[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val out = ctx.freshName("proj")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $out =
         |  graft.functions.CdcExprHelpers.projectVec($c, $ref);
         |if ($out == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $out; }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): ProjectVec =
    copy(child = newChild)
  override def prettyName: String = "project_vec"
}

/** `MINHASH_BANDS(sig, bands)` — LSH band keys as a codegen'd call; feeds
  * `posexplode` to produce (band, bucket) shuffle keys without a typed
  * Dataset encoder round-trip.
  */
case class MinHashBands(child: Expression, bands: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<BIGINT>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.bandHashes(input.asInstanceOf[ArrayData], bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.bandHashes($c, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
  override def prettyName: String = "minhash_bands"
}

/** `EST_JACCARD(sigA, sigB)` — minhash-signature agreement fraction as a
  * codegen'd call (the verify stage of MinHash dedup).
  */
case class EstJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<BIGINT> args, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    CdcExprHelpers.estJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CdcExprHelpers.estJaccard($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): EstJaccard =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "est_jaccard"
}

/** `BUCKET_WEIGHT_SUM(buckets)` with bound weights — the linear-model
  * scoring hot loop of [[graft.ops.QualityModel]] as a codegen'd call: sums
  * `weights(b)` over the bucket array IN ARRAY ORDER (callers pass a sorted
  * array so the IEEE accumulation order is partitioning-invariant and
  * oracle-replicable). Weights ship as a plan reference object (buckets
  * doubles), like [[NearestCentroid]]'s centroids; the whole score stays a
  * narrow scan-bound projection — no shuffle, no per-gram join.
  */
case class BucketWeightSum(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires ARRAY<INT>, got $t")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.bucketWeightSum(input.asInstanceOf[ArrayData], weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weights", weights, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.bucketWeightSum($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BucketWeightSum =
    copy(child = newChild)
  override def prettyName: String = "bucket_weight_sum"
}

/** `RENDER_ZONED(instant, zone)` — the zoned-timestamp wire renderer
  * ([[graft.model.ZonedTime.render]]): wall clock computed from the instant
  * under the ROW's zone via java.time, zone suffix appended verbatim.
  * Codegen'd static call; per-row zones, zero session-zone dependence.
  */
case class RenderZoned(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.TimestampType &&
        right.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (TIMESTAMP, STRING), got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any, b: Any): Any =
    CdcExprHelpers.renderZoned(a.asInstanceOf[Long], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CdcExprHelpers.renderZoned($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RenderZoned =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "render_zoned"
}

/** `REPETITION_STATS(text)` — the five within-document repetition metrics
  * of the Gopher rule family ([[graft.ops.Repetition]]) in one codegen'd
  * text pass: [dup_line_frac, dup_line_char_frac, dup_para_frac,
  * dup_para_char_frac, top_bigram_frac].
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcExprHelpers.repetitionStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

/** `REPETITION_KEEP(text)` — the fused repetition-filter decision: one
  * metric pass, one boolean, nothing materialized (the filter analogue of
  * [[BucketLogit]]'s single-evaluation stance).
  */
case class RepetitionKeep(child: Expression, maxDupLine: Double,
                          maxDupLineChar: Double, maxDupPara: Double,
                          maxDupParaChar: Double, maxTopBigram: Double,
                          maxDupNgram: Double)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires STRING, got ${child.dataType}")
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullSafeEval(input: Any): Any =
    CdcExprHelpers.repetitionKeep(input.asInstanceOf[UTF8String], maxDupLine,
      maxDupLineChar, maxDupPara, maxDupParaChar, maxTopBigram, maxDupNgram)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcExprHelpers.repetitionKeep($c, $maxDupLine, " +
        s"$maxDupLineChar, $maxDupPara, $maxDupParaChar, $maxTopBigram, $maxDupNgram)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionKeep =
    copy(child = newChild)
  override def prettyName: String = "repetition_keep"
}

object CdcExpressions {
  /** Column-API handles. */
  def minhashSignature(text: Column, shingleSize: Int = 3, numHashes: Int = 128): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(text), shingleSize, numHashes))
  def regexTokens(text: Column, pattern: String = "\\W+", lowercase: Boolean = true): Column =
    GraftBridge.column(RegexTokens(GraftBridge.expression(text), pattern, lowercase))
  def simhash64(text: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(text)))
  def charBitmap64(text: Column): Column =
    GraftBridge.column(CharBitmap64(GraftBridge.expression(text)))
  def hash64(text: Column): Column =
    GraftBridge.column(Hash64(GraftBridge.expression(text)))
  def jsonLongField(record: Column, field: String): Column =
    GraftBridge.column(JsonLongField(GraftBridge.expression(record), field))
  def mix64(h: Column): Column =
    GraftBridge.column(Mix64(GraftBridge.expression(h)))
  def shingleHashes(text: Column, shingleSize: Int = 3): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(text), shingleSize))
  def ngramBuckets(text: Column, maxN: Int = 2, buckets: Int = 4096): Column =
    GraftBridge.column(NgramBuckets(GraftBridge.expression(text), maxN, buckets))
  def ngramBucketsRange(text: Column, minN: Int, maxN: Int, buckets: Int): Column =
    GraftBridge.column(NgramBuckets(GraftBridge.expression(text), maxN, buckets, minN))
  def bucketWeightSum(buckets: Column, weights: Array[Double]): Column =
    GraftBridge.column(BucketWeightSum(GraftBridge.expression(buckets), weights))
  def projectVec(vec: Column, matrix: Array[Array[Float]]): Column =
    GraftBridge.column(ProjectVec(GraftBridge.expression(vec), matrix))
  def rangeBucket(v: Column, bounds: Array[Double]): Column =
    GraftBridge.column(RangeBucket(GraftBridge.expression(v), bounds))
  def bucketLogit(buckets: Column, weights: Array[Double], bias: Double): Column =
    GraftBridge.column(BucketLogit(GraftBridge.expression(buckets), weights, bias))
  def bigramPairBuckets(text: Column, buckets: Int): Column =
    GraftBridge.column(BigramPairBuckets(GraftBridge.expression(text), buckets))
  def pqEncode(vec: Column, books: Array[Array[Array[Float]]]): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vec), books))
  def pqAdcDot(codes: Column, table: Array[Double], m: Int, k: Int): Column =
    GraftBridge.column(PqAdcDot(GraftBridge.expression(codes), table, m, k))
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    GraftBridge.column(UnicodeNormalize(GraftBridge.expression(text), form))
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))
  def vecNormSq(a: Column): Column =
    GraftBridge.column(VecNormSq(GraftBridge.expression(a)))
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    GraftBridge.column(CosinePre(GraftBridge.expression(a), GraftBridge.expression(b),
      GraftBridge.expression(na), GraftBridge.expression(nb)))
  def hyperplaneSig(vec: Column, planes: Array[Array[Float]]): Column =
    GraftBridge.column(HyperplaneSig(GraftBridge.expression(vec), planes))
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column =
    GraftBridge.column(NearestCentroid(GraftBridge.expression(vec), centroids))
  def nearestCentroids(vec: Column, centroids: Array[Array[Float]], nprobe: Int): Column =
    GraftBridge.column(NearestCentroids(GraftBridge.expression(vec), centroids, nprobe))
  def minhashBands(sig: Column, bands: Int): Column =
    GraftBridge.column(MinHashBands(GraftBridge.expression(sig), bands))
  def estJaccard(a: Column, b: Column): Column =
    GraftBridge.column(EstJaccard(GraftBridge.expression(a), GraftBridge.expression(b)))
  def renderZoned(instant: Column, zone: Column): Column =
    GraftBridge.column(RenderZoned(GraftBridge.expression(instant), GraftBridge.expression(zone)))
  def repetitionStats(text: Column): Column =
    GraftBridge.column(RepetitionStats(GraftBridge.expression(text)))
  def repetitionKeep(text: Column, maxDupLine: Double, maxDupLineChar: Double,
                     maxDupPara: Double, maxDupParaChar: Double,
                     maxTopBigram: Double, maxDupNgram: Double): Column =
    GraftBridge.column(RepetitionKeep(GraftBridge.expression(text), maxDupLine,
      maxDupLineChar, maxDupPara, maxDupParaChar, maxTopBigram, maxDupNgram))

  /** Spark's own codegen'd Bloom membership test over a serialized filter
    * (the expression its runtime row-group filtering injects) bound to a
    * BINARY literal — the prefilter of [[graft.ops.Decontaminate.flagBloom]].
    * The literal ships with the stage's task binary (torrent-broadcast once
    * per executor, like a broadcast variable), so the predicate runs inside
    * WholeStageCodegen directly over the scan.
    */
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    GraftBridge.column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        bloomBytes, org.apache.spark.sql.types.BinaryType),
      GraftBridge.expression(value)))
}
