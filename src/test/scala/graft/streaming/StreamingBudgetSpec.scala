package graft.streaming

import graft.SparkSpec
import graft.ops.Sampling
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** The budget-histogram asset as a STREAMING asset: a real `readStream` +
  * `foreachBatch` loop folds each micro-batch's per-bin token sums into
  * the persisted epoch table (`Sampling.appendBudgetHistogram` under the
  * shared EpochStore protocol, ctx'd so crash replays are skipped), and
  * the selection off the asset must equal the one-shot selection over
  * everything streamed — the per-micro-batch maintenance shape a
  * deployment runs at 100 TB.
  */
class StreamingBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch maintains the histogram asset; selection equals one-shot") {
    val base = tempDir("graft-sbudget")
    val in = s"$base/in"
    val asset = s"$base/hist"
    val rnd = new scala.util.Random(29)
    val all = (0 until 600).map(i =>
      (i.toLong, rnd.nextDouble() * 10, 1L + rnd.nextInt(40)))
    all.grouped(200).zipWithIndex.foreach { case (wave, i) =>
      wave.toDF("id", "score", "tok").coalesce(1).write.parquet(s"$in/w$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("tok", org.apache.spark.sql.types.LongType)))
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Sampling.appendBudgetHistogram(batch, col("score"), col("tok"),
          asset, lo = 0.0, hi = 10.0, bins = 64,
          ctx = Some(graft.sinks.BatchCtx(id, "stream.docs")))
        batches += 1
        ()
      }
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches === 3)

    val df = all.toDF("id", "score", "tok")
    for (budget <- Seq(500L, 3000L, 100000L)) {
      val streamed = Sampling.tokenBudgetSelectFromStats(df, "id",
        col("score"), col("tok"), asset, budget)
        .select("id").as[Long].collect().toSet
      val oneShot = Sampling.tokenBudgetSelect(df, "id", col("score"),
        col("tok"), budget).select("id").as[Long].collect().toSet
      assert(streamed === oneShot, s"budget $budget")
    }
    // live + one grace epoch only
    assert(graft.ops.EpochStore.currentEpoch(spark, asset)
      .exists(_.endsWith("epoch_2")))
  }
}
