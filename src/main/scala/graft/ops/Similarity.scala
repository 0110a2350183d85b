package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — in Spark this compiles to a narrow
  * scored scan + `TakeOrderedAndProject` (each partition keeps a local k-heap,
  * the driver merges P·k rows), so it is a single pass with no shuffle of the
  * data itself. Scale path: hyperplane-LSH buckets prune the scan to matching
  * buckets (IVF-style probing).
  */
object Similarity {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Cosine of an array column against a literal query vector — the native
    * codegen'd [[graft.functions.CosineSim]] expression (one generated call
    * per row instead of per-element Catalyst lambda dispatch).
    */
  def cosineCol(vec: Column, query: Array[Float]): Column =
    graft.functions.CdcExpressions.cosineSim(vec, lit(query))

  /** Brute-force cosine top-k for one query vector. `orderBy(...).limit(k)`
    * plans as TakeOrderedAndProject — per-partition heaps, no full sort, no
    * shuffle of non-winners.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame =
    df.select(col(idCol), cosineCol(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  // ---------- SQ8 scalar quantization (the memory-bandwidth scale path) ----------

  /** ANN top-k over SQ8-quantized vectors: each vector is compressed to
    * uint8 codes under its own affine scale (`v_i ≈ vmin + scale·c_i`,
    * `scale = (max−min)/255`), candidates are ranked by the DEQUANTIZED
    * approximate dot product — `vmin·Σq + scale·Σ(c_i·q_i)`, two multiplies
    * and an add per row on top of an integer-weighted sum — and the top
    * `rerank` survivors are exactly re-scored by full-precision cosine.
    *
    * This is the standard SQ8 asymmetric-distance design (Faiss
    * `ScalarQuantizer`): at 100 TB the candidate scan reads 1/4 of the
    * float bytes (codes instead of floats), which is the scan-bound win;
    * the exact re-rank touches only `rerank` rows. Both stages plan as
    * `TakeOrderedAndProject` (per-partition heaps, no global sort), and the
    * quantization is a narrow codegen projection — elementwise and
    * deterministic (round-half-up on non-negative operands), so the DuckDB
    * oracle replicates it bit-exactly. A constant vector (range 0) codes to
    * all-zero with scale 0: approx degrades to `vmin·Σq`, its true dot.
    */
  /** The SQ8 quantization columns of a vector: (vmin, scale, codes) with
    * `v_i ≈ vmin + scale·c_i`. Expression shapes mirror the oracle SQL
    * exactly — double math is deterministic only under identical
    * parenthesization — and are shared by [[sq8TopK]] and the IVF-SQ8
    * index ([[Ivf.writeIndexSq8]]) so index and plan quantize identically.
    */
  private[ops] def sq8Quant(vec: Column): (Column, Column, Column) = {
    val vmin = array_min(vec).cast("double")
    val range = array_max(vec).cast("double") - vmin
    val codes = when(range === 0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec, x =>
        round(((x.cast("double") - vmin) * lit(255.0)) / range).cast("int")))
    (vmin, range / lit(255.0), codes)
  }

  /** Dequantized approximate dot product `vmin·Σq + scale·Σ(c_i·q_i)`. */
  private[ops] def sq8ApproxDot(vmin: Column, scale: Column, codes: Column,
                                query: Array[Float]): Column = {
    val sumQ = query.map(_.toDouble).sum
    vmin * lit(sumQ) + scale *
      aggregate(zip_with(codes, lit(query),
        (c, x) => c.cast("double") * x.cast("double")), lit(0.0), (acc, v) => acc + v)
  }

  def sq8TopK(df: DataFrame, idCol: String, vecCol: String, query: Array[Float],
              k: Int, rerank: Int = 40): DataFrame = {
    val vec = col(vecCol)
    val (vmin, scale, codes) = sq8Quant(vec)
    val quant = df.select(col(idCol).cast("long").as(idCol), vec,
      vmin.as("__vmin"), scale.as("__scale"), codes.as("__codes"))
    val approx = sq8ApproxDot(col("__vmin"), col("__scale"), col("__codes"), query)
    val cands = quant.select(col(idCol), vec, approx.as("__approx"))
      .orderBy(col("__approx").desc, col(idCol)).limit(rerank)
    cands.select(col(idCol), cosineCol(vec, query).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
      .select(col(idCol))
  }

  // ---------- sign random projection (the dimensionality scale path) ----------

  /** Deterministic Rademacher (±1) projection matrix — Johnson-Lindenstrauss
    * by random signs (Achlioptas 2003, database-friendly projections): the
    * sign is the top bit of `mix64(seed ^ (j<<32) ^ i)`, so any engine can
    * reproduce the matrix. Cosine is scale-invariant, so the 1/√k JL
    * normalizer is omitted throughout.
    */
  def signProjection(outDim: Int, dim: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(outDim) { j =>
      Array.tabulate(dim) { i =>
        if (Dedup.mix64(seed ^ (j.toLong << 32) ^ i.toLong) >= 0) 1.0f else -1.0f
      }
    }

  /** Driver-side projection of a query vector (same double-accumulate /
    * float-cast math as the codegen'd [[graft.functions.ProjectVec]]).
    */
  def project(v: Array[Float], m: Array[Array[Float]]): Array[Float] =
    m.map { row =>
      var dot = 0.0; var i = 0
      val n = math.min(v.length, row.length)
      while (i < n) { dot += v(i).toDouble * row(i); i += 1 }
      dot.toFloat
    }

  /** ANN top-k via JL sign projection: rank ALL vectors by cosine in the
    * `outDim`-dimensional projected space (a narrow codegen projection —
    * `outDim` signed dots/row), exactly re-score the top `rerank` in the
    * original space. Same two-stage `TakeOrderedAndProject` shape as
    * [[sq8TopK]], trading quantization's bandwidth win for a DIMENSION win:
    * at 100 TB the projected column is `outDim/dim` the bytes (16/64 = 4×
    * here) and is meant to be PERSISTED next to the vectors — the candidate
    * scan then reads only the narrow projection, exactly like probing an
    * SQ8 code column, and composes with IVF partition pruning.
    */
  def projectedTopK(df: DataFrame, idCol: String, vecCol: String,
                    query: Array[Float], k: Int, outDim: Int = 16,
                    rerank: Int = 40, seed: Long = 42L): DataFrame = {
    val mat = signProjection(outDim, query.length, seed)
    val qp = project(query, mat)
    val vec = col(vecCol)
    val cands = df
      .select(col(idCol).cast("long").as(idCol), vec,
        graft.functions.CdcExpressions.projectVec(vec, mat).as("__p"))
      .select(col(idCol), vec,
        graft.functions.CdcExpressions.cosineSim(col("__p"), lit(qp)).as("__pcos"))
      .orderBy(col("__pcos").desc, col(idCol)).limit(rerank)
    cands.select(col(idCol), cosineCol(vec, query).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
      .select(col(idCol))
  }

  // ---------- hyperplane LSH (the ANN scale path) ----------

  /** Deterministic pseudo-random hyperplanes (gaussian-ish via sum of mixes). */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(numPlanes) { p =>
      Array.tabulate(dim) { d =>
        val h = Dedup.mix64(seed ^ (p.toLong << 32) ^ d.toLong)
        // map 64-bit hash to ~N(0,1) by CLT over 4 uniform nibbles
        val u = Array.tabulate(4)(i => ((h >>> (i * 16)) & 0xFFFFL).toDouble / 65535.0)
        (u.sum - 2.0).toFloat
      }
    }

  /** Sign-bit signature of a vector against the planes → LSH bucket id. */
  def planeSignature(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0.0; var i = 0
      val pl = planes(p)
      val n = math.min(v.length, pl.length)
      while (i < n) { dot += v(i).toDouble * pl(i); i += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Assign each row its LSH bucket — the "index build" half of ANN search.
    * Bucketed output can be written `partitionBy("bucket")` so queries prune
    * to matching buckets at the scan (partition pruning at 100 TB).
    */
  def withBuckets(df: DataFrame, idCol: String, vecCol: String,
                  numPlanes: Int = 16, seed: Long = 42L): DataFrame = {
    val dim = df.select(col(vecCol)).head().getSeq[Float](0).length
    val planes = randomPlanes(numPlanes, dim, seed)
    // native codegen'd signature straight over the scan — no Dataset
    // encoder round-trip, no broadcast (planes ride as a plan reference)
    df.select(col(idCol).cast("long").as(idCol), col(vecCol),
      graft.functions.CdcExpressions.hyperplaneSig(col(vecCol), planes).as("bucket"))
  }

  /** ANN query via LSH: scan only rows whose bucket is within `probeBits` bit
    * flips of the query's bucket (multi-probe), then exact-rescore that slice.
    */
  def lshTopK(bucketed: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], k: Int, numPlanes: Int = 16,
              probeBits: Int = 1, seed: Long = 42L): DataFrame = {
    val planes = randomPlanes(numPlanes, query.length, seed)
    val qSig = planeSignature(query, planes)
    val probes: Seq[Long] = qSig +: (
      if (probeBits >= 1) (0 until numPlanes).map(b => qSig ^ (1L << b)) else Nil)
    bruteForceTopK(bucketed.where(col("bucket").isin(probes: _*)), idCol, vecCol, query, k)
  }
}
