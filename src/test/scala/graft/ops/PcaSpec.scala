package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(31)
  // anisotropic fixture: dim 0 dominates (sd 10), dim 1 next (sd 3), rest
  // noise (sd 0.5) — the spectrum a PCA must recover in order
  private val d = 8
  private val rows: Seq[(Long, Seq[Float])] = (0 until 400).map { i =>
    val sds = Array(10.0, 3.0) ++ Array.fill(d - 2)(0.5)
    (i.toLong, (0 until d).map(j => (rnd.nextGaussian() * sds(j) + j).toFloat).toSeq)
  }
  private lazy val df = rows.toDF("id", "vec")

  private def naiveCov(): Array[Array[Double]] = {
    val xs = rows.map(_._2.map(_.toDouble).toArray)
    val n = xs.size.toDouble
    val mean = (0 until d).map(j => xs.map(_(j)).sum / n)
    Array.tabulate(d, d)((a, b) =>
      xs.map(x => x(a) * x(b)).sum / n - mean(a) * mean(b))
  }

  test("jacobi recovers a known 2x2 spectrum exactly") {
    val (values, vectors) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(values.sorted.zip(Seq(1.0, 3.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    val big = if (values(0) > values(1)) 0 else 1
    assert(math.abs(math.abs(vectors(0)(big)) - 1 / math.sqrt(2)) < 1e-12)
  }

  test("fit: orthonormal components satisfying Cv = lambda v, descending spectrum") {
    val model = Pca.fit(df, "vec", k = d)
    val comps = model.components
    for (a <- comps.indices; b <- comps.indices) {
      val dot = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9, s"($a,$b) dot=$dot")
    }
    assert(model.eigenvalues.toSeq === model.eigenvalues.sorted.reverse.toSeq)
    assert(model.eigenvalues.forall(_ > -1e-9))
    // eigen-pairs of the NAIVE covariance (independent recomputation from
    // the raw rows; the distributed suffstats never see this code)
    val cov = naiveCov()
    comps.zip(model.eigenvalues).foreach { case (v, lam) =>
      val cv = cov.map(row => row.zip(v).map { case (c, x) => c * x }.sum)
      val resid = cv.zip(v).map { case (a, b) => a - lam * b }
        .map(x => x * x).sum
      assert(math.sqrt(resid) < 1e-6, s"||Cv - lambda v|| = ${math.sqrt(resid)}")
    }
    // the dominant direction is dim 0 (sd 10 vs 3 vs 0.5)
    assert(math.abs(comps(0)(0)) > 0.99, comps(0).mkString(","))
    assert(math.abs(comps(1)(1)) > 0.98, comps(1).mkString(","))
  }

  test("transform equals manual centered projection; plans with no exchange") {
    val model = Pca.fit(df, "vec", k = 2)
    val out = Pca.transform(df, "vec", model)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000)) // narrow map only
    val got = out.select("id", "pca").as[(Long, Seq[Float])].collect().toMap
    rows.take(20).foreach { case (id, v) =>
      val centered = v.zip(model.mean).map { case (x, m) => x - m.toFloat }
      val want = model.components.map(c =>
        centered.zip(c).map { case (x, w) => x * w.toFloat }.sum)
      got(id).zip(want).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-3, s"id=$id got=${got(id)} want=${want.toSeq}")
      }
    }
  }

  test("variance report: shares increase to ~1 at k = d; head share dominates") {
    val rep = Pca.varianceReport(df, "vec", k = d)
      .orderBy("component").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val shares = rep.map(_._3)
    assert(shares.toSeq === shares.sorted.toSeq)
    assert(math.abs(shares.last - 1.0) < 1e-6) // all components = all variance
    assert(shares.head > 0.85) // sd-10 dim carries ~100/111 of the trace
  }

  test("fit refuses feature-matrix widths") {
    val wide = Seq((1L, Seq.fill(5000)(1.0f))).toDF("id", "vec")
    val err = intercept[IllegalArgumentException] { Pca.fit(wide, "vec", 2) }
    assert(err.getMessage.contains("embedding widths"))
  }

  test("suffstats: null rows skipped, ragged vectors refused, empty corpus refused") {
    // a null vector row is no observation (the aggregate-input convention)
    val withNull = rows.take(50).map { case (id, v) => (id, Some(v)) } :+
      (999L, Option.empty[Seq[Float]])
    val m1 = Pca.fit(withNull.toDF("id", "vec"), "vec", 1)
    val m2 = Pca.fit(rows.take(50).toDF("id", "vec"), "vec", 1)
    assert(m1.mean.zip(m2.mean).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // ragged widths are a data bug — loud refusal, not silent truncation
    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f, 3.0f)))
    val e = intercept[IllegalArgumentException] {
      Pca.fit(ragged.toDF("id", "vec"), "vec", 1)
    }
    assert(e.getMessage.contains("ragged"), e.getMessage)
    val empty = intercept[IllegalArgumentException] {
      Pca.fit(rows.take(0).toDF("id", "vec"), "vec", 1)
    }
    assert(empty.getMessage.contains("empty corpus"))
    // non-array input refused at analysis, not execution
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Pca.suffStats(Seq((1L, "x")).toDF("id", "vec"), "vec").collect()
    }
    assert(bad.getMessage.contains("array<float>"), bad.getMessage)
  }

  test("persisted suffstats asset: batch-folded fit equals the one-shot fit") {
    // suffstats are a commutative monoid (element-wise sums): appending
    // the corpus in two halves must give the same model as one scan, up
    // to FP summation order — the incremental-maintenance contract
    val path = tempDir("graft-pca-asset") + "/stats"
    Pca.appendStats(df.where(col("id") % 2 === 0), "vec", path)
    Pca.appendStats(df.where(col("id") % 2 === 1), "vec", path)
    val inc = Pca.fitFromStats(spark, path, k = d)
    val one = Pca.fit(df, "vec", k = d)
    inc.mean.zip(one.mean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"mean $a vs $b")
    }
    inc.eigenvalues.zip(one.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)), s"ev $a vs $b")
    }
    val repInc = Pca.varianceReportFromStats(spark, path, k = d)
      .orderBy("component").collect().map(_.getDouble(2))
    val repOne = Pca.varianceReport(df, "vec", k = d)
      .orderBy("component").collect().map(_.getDouble(2))
    repInc.zip(repOne).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"cum_share $a vs $b")
    }
  }

  test("suffstats asset lifecycle: grace epoch, GC, crash leftovers, empty batch, width") {
    val root = tempDir("graft-pca-life")
    val path = s"$root/stats"
    def epochDirs: Set[String] = {
      val dir = new java.io.File(path)
      if (!dir.exists()) Set.empty
      else dir.listFiles().filter(_.getName.startsWith("epoch_")).map(_.getName).toSet
    }
    val third = rows.size / 3
    Pca.appendStats(df.where(col("id") < third), "vec", path)
    assert(EpochStore.currentEpoch(spark, path).exists(_.endsWith("epoch_0")))
    Pca.appendStats(df.where(col("id") >= third && col("id") < 2 * third), "vec", path)
    // live epoch_1 plus ONE grace epoch for an in-flight reader of epoch_0
    assert(epochDirs === Set("epoch_0", "epoch_1"))
    // a crash mid-write leaves an UNPUBLISHED dir: invisible to readers
    new java.io.File(s"$path/epoch_7").mkdirs()
    assert(EpochStore.currentEpoch(spark, path).exists(_.endsWith("epoch_1")))
    Pca.appendStats(df.where(col("id") >= 2 * third), "vec", path)
    // epoch_0 reclaimed below the grace bar, and the leftover no manifest
    // names swept with it
    assert(epochDirs === Set("epoch_1", "epoch_2"))
    // the three thirds folded == the whole corpus
    val inc = Pca.fitFromStats(spark, path, k = 2)
    val one = Pca.fit(df, "vec", k = 2)
    inc.eigenvalues.zip(one.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)))
    }
    // empty batch: a no-op, not an epoch advance
    Pca.appendStats(df.where(col("id") < 0), "vec", path)
    assert(EpochStore.currentEpoch(spark, path).exists(_.endsWith("epoch_2")))
    // width mismatch between the asset and a batch: loud refusal
    val narrow = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Pca.appendStats(narrow, "vec", path)
    }
    assert(e.getMessage.contains("width mismatch"), e.getMessage)
    // never-folded path: loud error on read
    val none = intercept[IllegalArgumentException] {
      Pca.fitFromStats(spark, s"$root/nothing", 1)
    }
    assert(none.getMessage.contains("no PCA suffstats asset"))
  }

  test("suffstats merge is partition-shape independent (incl. empty partitions)") {
    // 13 partitions over 400 rows (some possibly empty after filter) must
    // give the same suffstats as one partition: merge associativity +
    // empty-buffer adoption both exercised
    def stats(df: org.apache.spark.sql.DataFrame) =
      Pca.suffStats(df, "vec").head.getStruct(0)
    val one = stats(df.coalesce(1))
    val many = stats(df.repartition(13).where(col("id") >= 0))
    assert(one.getLong(0) === many.getLong(0))
    val (s1, s2) = (one.getSeq[Double](1), many.getSeq[Double](1))
    assert(s1.zip(s2).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    val (g1, g2) = (one.getSeq[Double](2), many.getSeq[Double](2))
    assert(g1.size === d * (d + 1) / 2)
    assert(g1.zip(g2).forall { case (a, b) => math.abs(a - b) < 1e-6 })
  }
}
