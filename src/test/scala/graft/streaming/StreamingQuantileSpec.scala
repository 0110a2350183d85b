package graft.streaming

import graft.SparkSpec
import graft.ops.QuantileSketch
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The distribution monitor as a STREAMING asset: a real `readStream` +
  * `foreachBatch` loop folds each micro-batch's per-cell digests into a
  * persisted sketch table (`mergeSketchTables` — the commutative-monoid
  * fold), and the final estimates must match a one-shot batch build
  * within the rank-error band. Each batch touches only its own cells'
  * digests; the corpus is never re-scanned — the shape a deployment runs
  * per micro-batch at 100 TB.
  */
class StreamingQuantileSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch maintains the sketch table across micro-batches") {
    val base = tempDir("graft-squant")
    val in = s"$base/in"
    val rnd = new scala.util.Random(37)
    val all = (0 until 9000).map(i =>
      (s"cell${i % 3}", math.exp(rnd.nextDouble() * 6)))
    // three input files -> maxFilesPerTrigger=1 forces three micro-batches
    all.grouped(3000).zipWithIndex.foreach { case (wave, i) =>
      wave.toDF("cell", "v").coalesce(1).write.parquet(s"$in/w$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val stateDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sk = QuantileSketch.buildSketches(batch, Seq("cell"), "v")
        val merged =
          if (stateDirs.isEmpty) sk
          else QuantileSketch.mergeSketchTables(
            spark.read.parquet(stateDirs.last), sk, Seq("cell"))
        val next = s"$base/state_$id"
        merged.write.parquet(next) // epoch dir per batch: no read-overwrite race
        stateDirs += next
        ()
      }
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    assert(stateDirs.size === 3) // one fold per micro-batch
    val streamed = QuantileSketch.estimate(
        spark.read.parquet(stateDirs.last), Seq.empty, Seq(0.5, 0.99))
      .orderBy("q").collect().map(_.getDouble(1))
    val sortedVals = all.map(_._2).sorted
    def rankErr(est: Double, qq: Double): Double =
      math.abs(sortedVals.count(_ <= est).toDouble / sortedVals.size - qq)
    assert(rankErr(streamed(0), 0.5) <= 0.03, s"p50 streamed ${streamed(0)}")
    assert(rankErr(streamed(1), 0.99) <= 0.01, s"p99 streamed ${streamed(1)}")
    // and the per-cell table stayed cell-bounded: 3 cells, 3 digests
    assert(spark.read.parquet(stateDirs.last).count() === 3)
  }
}
