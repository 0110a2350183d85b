package graft.ops

import graft.SparkSpec
import graft.functions.{TDigest, TDigestBuf}
import org.apache.spark.sql.functions._

class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  // deterministic skewed fixture: heavy right tail, the shape quantile
  // monitoring exists for
  private val n = 20000
  private def value(i: Int): Double = math.exp((i % 997) / 120.0) + (i % 13)
  private lazy val values: Seq[Double] = (0 until n).map(value)
  private lazy val sortedVals: Vector[Double] = values.sorted.toVector

  private def rankError(est: Double, q: Double): Double = {
    val below = sortedVals.count(_ <= est)
    math.abs(below.toDouble / n - q)
  }

  test("digest quantiles stay inside t-digest rank-error bands vs exact") {
    val sk = values.toDF("v").agg(QuantileSketch.sketch(col("v")).as("s"))
    val qs = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.9, 0.99)
    val ests = qs.map(q => sk.select(QuantileSketch.quantileOf(col("s"), q))
      .head.getDouble(0))
    qs.zip(ests).foreach { case (q, est) =>
      val tol = if (q <= 0.05 || q >= 0.9) 0.01 else 0.03 // tails tighter by design
      assert(rankError(est, q) <= tol, s"q=$q est=$est rankErr=${rankError(est, q)}")
    }
    // monotone in q
    assert(ests == ests.sorted)
  }

  test("sharded build + union agrees with one-shot within the error band") {
    val df = values.zipWithIndex.map { case (v, i) => (i % 7, v) }.toDF("shard", "v")
    val sharded = QuantileSketch.buildSketches(df, Seq("shard"), "v")
    assert(sharded.count() === 7)
    val rolled = QuantileSketch.estimate(sharded, Seq.empty, Seq(0.5, 0.99))
      .orderBy("q").collect().map(_.getDouble(1))
    assert(rankError(rolled(0), 0.5) <= 0.03, s"p50 union ${rolled(0)}")
    assert(rankError(rolled(1), 0.99) <= 0.01, s"p99 union ${rolled(1)}")
  }

  test("estimate rolls up to any dim subset; single-value cells are exact") {
    val df = Seq(("a", 1, 5.0), ("a", 2, 7.0), ("b", 1, 11.0)).toDF("t", "d", "v")
    val sk = QuantileSketch.buildSketches(df, Seq("t", "d"), "v")
    val perT = QuantileSketch.estimate(sk, Seq("t"), Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(perT("b") === 11.0) // one value: the digest is that value
    assert(perT("a") >= 5.0 && perT("a") <= 7.0)
    val global = QuantileSketch.estimate(sk, Seq.empty, Seq(0.0, 1.0))
      .orderBy("q").collect().map(_.getDouble(1))
    assert(global(0) === 5.0 && global(1) === 11.0) // boundary centroids survive merging
  }

  test("buffer serialization roundtrips; centroid count is compression-bounded") {
    val b = new TDigestBuf(100)
    values.foreach(b.add(_, 1.0))
    val bytes = b.serialize()
    val b2 = TDigestBuf.deserialize(bytes, 100)
    assert(java.util.Arrays.equals(b2.serialize(), bytes))
    val nCentroids = java.nio.ByteBuffer.wrap(bytes).getInt
    assert(nCentroids <= 200, s"$nCentroids centroids for delta=100") // ~2x delta bound
    assert(nCentroids >= 30, s"$nCentroids") // and not collapsed to nothing
  }

  test("sketch aggregation partial-aggregates map-side (digests ride the shuffle)") {
    val df = values.zipWithIndex.map { case (v, i) => (i % 3, v) }.toDF("g", "v")
    val plan = QuantileSketch.buildSketches(df, Seq("g"), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_tdigest_sketch_agg"), plan.take(2000))
  }

  test("incremental table maintenance equals one-shot within the error band") {
    val df = values.zipWithIndex.map { case (v, i) => (i % 4, v, i) }
      .toDF("cell", "v", "seq")
    val state = QuantileSketch.buildSketches(df.where(col("seq") < n * 9 / 10),
      Seq("cell"), "v")
    val batch = QuantileSketch.buildSketches(df.where(col("seq") >= n * 9 / 10),
      Seq("cell"), "v")
    val merged = QuantileSketch.mergeSketchTables(state, batch, Seq("cell"))
    assert(merged.count() === 4) // cell-wise fold, no row growth
    val inc = QuantileSketch.estimate(merged, Seq.empty, Seq(0.5, 0.99))
      .orderBy("q").collect().map(_.getDouble(1))
    assert(rankError(inc(0), 0.5) <= 0.03, s"p50 incremental ${inc(0)}")
    assert(rankError(inc(1), 0.99) <= 0.01, s"p99 incremental ${inc(1)}")
    // a batch carrying a NEW cell appears in the merged table
    val novel = QuantileSketch.buildSketches(
      Seq((9, 1.0)).toDF("cell", "v"), Seq("cell"), "v")
    assert(QuantileSketch.mergeSketchTables(state, novel, Seq("cell")).count() === 5)
  }

  test("non-numeric inputs fail at analysis with a clear message, not at execution") {
    val df = Seq(("a", 1.0)).toDF("s", "v")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(QuantileSketch.sketch(col("s"))).collect()
    }
    assert(e1.getMessage.contains("numeric value column"), e1.getMessage)
    // union over a non-digest struct refuses too
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(struct(col("s"), col("v")).as("fake"))
        .agg(QuantileSketch.union(col("fake"))).collect()
    }
    assert(e2.getMessage.contains("digest struct"), e2.getMessage)
    // a digest read back from parquet (nullability relaxed) still unions:
    // the shape check must not demand strict type equality
    val dir = tempDir("graft-tdt")
    values.toDF("v").agg(QuantileSketch.sketch(col("v")).as("s"))
      .write.mode("overwrite").parquet(dir)
    val rt = spark.read.parquet(dir).agg(QuantileSketch.union(col("s")).as("u"))
      .select(QuantileSketch.quantileOf(col("u"), 0.5)).head.getDouble(0)
    assert(rankError(rt, 0.5) <= 0.03)
  }

  test("order-insensitivity within bands: reversed input, same estimates band") {
    val fwd = values.toDF("v").agg(QuantileSketch.sketch(col("v")).as("s"))
      .select(QuantileSketch.quantileOf(col("s"), 0.9)).head.getDouble(0)
    val rev = values.reverse.toDF("v").repartition(13)
      .agg(QuantileSketch.sketch(col("v")).as("s"))
      .select(QuantileSketch.quantileOf(col("s"), 0.9)).head.getDouble(0)
    assert(rankError(fwd, 0.9) <= 0.01 && rankError(rev, 0.9) <= 0.01)
  }
}
