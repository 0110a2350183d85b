package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA over an embedding column — the dimensionality-reduction
  * stage of embedding pipelines (SemDeDup-style clustering, ANN index
  * build, drift visualization all run better in a decorrelated d'≪d
  * space).
  *
  * Scale discipline (the sufficient-statistics split this repo uses for
  * correlation and drift): the CORPUS work is ONE scan producing the
  * d + d(d+1)/2 sufficient statistics — the mean vector and the UPPER
  * TRIANGLE of the Gram matrix Σ xxᵀ — via a custom
  * [[graft.functions.VectorSuffStatsAgg]] `TypedImperativeAggregate`
  * whose buffer does the rank-1 update in place (no d²-element per-row
  * array, no (idx, value) explosion); map-side partial aggregation means
  * the exchange carries one ~d²/2-double buffer per partition and the
  * driver receives ONE aggregate row. The DRIVER work is O(d³) on the d×d
  * covariance: a cyclic Jacobi eigensolver (deterministic sweep order, no
  * randomness), legitimate because d is the embedding width (64–4096),
  * not a data dimension. Projection back over the corpus is the existing
  * codegen'd [[graft.functions.CdcExpressions.projectVec]] — one narrow
  * WholeStageCodegen map, no shuffle.
  *
  * Determinism stance: eigenvalues/vectors of the EXACT covariance are
  * deterministic, but the covariance's double sums are partition-order
  * sensitive at the ULP, so cross-engine bit-equality is off the table —
  * the query is rows-only and `PcaSpec` asserts the invariant properties
  * (orthonormality, Cv = λv residuals, variance capture vs a naive
  * reference, projection equivalence) instead.
  */
object Pca {

  /** Fitted model: column means, principal components (k rows of length d,
    * orthonormal, sorted by descending eigenvalue), eigenvalues.
    */
  final case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                            eigenvalues: Array[Double])

  /** The one-row suffstats frame: ONE corpus scan, map-side partial object
    * aggregation, one ~d²/2-double buffer per partition over the exchange.
    * Exposed so plan specs can pin the single-scan shape.
    */
  private[graft] def suffStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(org.apache.spark.sql.GraftBridge.column(
      graft.functions.VectorSuffStatsAgg(
        org.apache.spark.sql.GraftBridge.expression(col(vecCol)))
        .toAggregateExpression()).as("s"))

  /** One corpus scan → (n, Σx, upper-triangle Σxxᵀ) as ONE aggregate row →
    * driver eigen-decomposition. The width guard fires executor-side in
    * the aggregation buffer (before any O(d²) allocation) and is rethrown
    * as the underlying IllegalArgumentException here.
    */
  def fit(df: DataFrame, vecCol: String, k: Int): PcaModel =
    fitWithTrace(df, vecCol, k)._1

  /** [[fit]] plus the covariance trace (total variance) — free from the
    * same suffstats, so [[varianceReport]] costs zero extra scans.
    */
  private[graft] def fitWithTrace(df: DataFrame, vecCol: String, k: Int)
      : (PcaModel, Double) = {
    require(k >= 1, s"k=$k out of range") // before the corpus scan
    val (n, sums, tri) = scanStats(df, vecCol)
    modelFromStats(n, sums, tri, k)
  }

  /** One corpus scan → (n, Σx, upper-triangle Σxxᵀ), the executor-side
    * width guard rethrown as its underlying IllegalArgumentException.
    */
  private def scanStats(df: DataFrame, vecCol: String)
      : (Long, Array[Double], Array[Double]) = {
    val row =
      try suffStats(df, vecCol).head()
      catch {
        case e: Throwable =>
          var c: Throwable = e
          while (c != null) {
            c match {
              case ia: IllegalArgumentException => throw ia
              case _ =>
            }
            c = c.getCause
          }
          throw e
      }
    val s = row.getStruct(0)
    (s.getLong(0), s.getSeq[Double](1).toArray, s.getSeq[Double](2).toArray)
  }

  /** The O(d³) driver half, shared by [[fit]] (fresh scan) and
    * [[fitFromStats]] (persisted asset): suffstats → covariance → Jacobi
    * eigensolve → (model, trace).
    */
  private def modelFromStats(nRows: Long, sums: Array[Double],
                             tri: Array[Double], k: Int): (PcaModel, Double) = {
    require(nRows > 0, "PCA fit over an empty corpus")
    val n = nRows.toDouble
    val dims = sums.length
    require(k <= dims, s"k=$k out of range for d=$dims")
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](dims, dims)
    var i = 0
    var idx = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val c = tri(idx) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        idx += 1
        j += 1
      }
      i += 1
    }
    var trace = 0.0
    i = 0
    while (i < dims) { trace += cov(i)(i); i += 1 }
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(ix => -values(ix)).take(k)
    (PcaModel(mean,
      order.map(ix => vectors.map(_(ix))).toArray,
      order.map(values(_)).toArray), trace)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: rotate away the
    * largest off-diagonal entries in fixed sweep order until convergence.
    * Deterministic; O(d³) per sweep, ~8 sweeps for embedding-width inputs.
    * Returns (eigenvalues, eigenvector matrix with vectors as COLUMNS).
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-11) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // sign(0) must be +1 here: equal diagonal entries need the
            // full 45° rotation, not a no-op
            val sgn = if (theta >= 0.0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project vectors into the fitted space: mean-center (zip_with) then
    * the codegen'd matrix product — one narrow map, no shuffle, no UDF.
    */
  def transform(df: DataFrame, vecCol: String, model: PcaModel,
                outCol: String = "pca"): DataFrame = {
    val meanLit = array(model.mean.map(m => lit(m.toFloat)): _*)
    val centered = zip_with(col(vecCol), meanLit, (x, m) => x - m)
    df.withColumn(outCol, graft.functions.CdcExpressions.projectVec(
      centered, model.components.map(_.map(_.toFloat))))
  }

  /** Explained-variance report: (component, eigenvalue, cumulative share
    * of TOTAL variance) — the curve every embedding pipeline reads before
    * choosing d'. Total variance is the covariance trace, read off the
    * same suffstats as the fit: the whole report is ONE corpus scan.
    */
  def varianceReport(df: DataFrame, vecCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val (model, totalVar) = fitWithTrace(df, vecCol, k)
    reportFrame(spark, model, totalVar)
  }

  private def reportFrame(spark: org.apache.spark.sql.SparkSession,
                          model: PcaModel, totalVar: Double): DataFrame = {
    import spark.implicits._
    model.eigenvalues.zipWithIndex.map { case (ev, ix) =>
      (ix + 1L, ev, model.eigenvalues.take(ix + 1).sum / totalVar)
    }.toSeq.toDF("component", "variance", "cum_share")
  }

  // ------- persisted sufficient-statistics asset (incremental fit) -------

  /** Fold one batch's suffstats into the persisted asset at `path` — the
    * incremental-maintenance discipline every other stats family here has
    * (BM25 corpus stats, the quantile/distinct sketch tables, the IVF-SQ8
    * index), now for the projection: suffstats are a commutative monoid
    * (element-wise sums), so batch-folded stats equal one-shot stats up to
    * FP summation order and the model can be re-fit as the corpus grows
    * WITHOUT re-scanning it — at 100 TB the fit-time cost is an O(d²)
    * one-row read plus the O(d³) driver eigensolve, never a corpus scan.
    *
    * Cost per append: ONE scan of the batch (the same single-scan
    * aggregate as [[fit]]), a driver-side O(d²) array merge, an O(d²)
    * one-row [[EpochStore.fold]] (lock, replay ledger, epoch write, sweep).
    * An empty batch is a no-op.
    */
  def appendStats(df: DataFrame, vecCol: String, path: String,
                  ctx: Option[graft.sinks.BatchCtx] = None): Unit = {
    val spark = df.sparkSession
    val (bn, bsums, btri) = scanStats(df, vecCol)
    if (bn > 0) EpochStore.fold(spark, path, ctx) { live =>
      val (n, sums, tri) = live match {
        case Some(ldf) =>
          val r = ldf.head()
          val ln = r.getAs[Long]("n")
          val lsums = r.getAs[scala.collection.Seq[Double]]("sums").toArray
          val ltri = r.getAs[scala.collection.Seq[Double]]("gram").toArray
          require(lsums.length == bsums.length,
            s"suffstats width mismatch: asset d=${lsums.length}, batch d=${bsums.length}")
          var i = 0
          while (i < lsums.length) { lsums(i) += bsums(i); i += 1 }
          i = 0
          while (i < ltri.length) { ltri(i) += btri(i); i += 1 }
          (ln + bn, lsums, ltri)
        case None => (bn, bsums, btri)
      }
      import spark.implicits._
      Seq((n, sums.toSeq, tri.toSeq)).toDF("n", "sums", "gram")
    }
  }

  private[graft] def readStats(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Long, Array[Double], Array[Double]) = {
    val r = EpochStore.read(spark, path, "PCA suffstats asset").head()
    (r.getAs[Long]("n"),
      r.getAs[scala.collection.Seq[Double]]("sums").toArray,
      r.getAs[scala.collection.Seq[Double]]("gram").toArray)
  }

  /** Fit from the persisted asset: O(d²) read + O(d³) driver eigensolve,
    * zero corpus scans.
    */
  def fitFromStats(spark: org.apache.spark.sql.SparkSession, path: String,
                   k: Int): PcaModel = {
    require(k >= 1, s"k=$k out of range")
    val (n, sums, tri) = readStats(spark, path)
    modelFromStats(n, sums, tri, k)._1
  }

  /** [[varianceReport]] off the persisted asset — the spectrum of the
    * whole corpus folded so far, without touching the corpus. With
    * `clampToWidth` a k past the asset's width d renders the full spectrum
    * instead of refusing (the `graft.Cli pca-show` read surface — making
    * operators look up d first would defeat a read surface); the strict
    * default keeps library misuse loud. Either way the asset is read ONCE
    * (one epoch listing, one one-row parquet read).
    */
  def varianceReportFromStats(spark: org.apache.spark.sql.SparkSession,
                              path: String, k: Int,
                              clampToWidth: Boolean = false): DataFrame = {
    require(k >= 1, s"k=$k out of range")
    val (n, sums, tri) = readStats(spark, path)
    val kk = if (clampToWidth) math.min(k, sums.length) else k
    val (model, totalVar) = modelFromStats(n, sums, tri, kk)
    reportFrame(spark, model, totalVar)
  }
}
