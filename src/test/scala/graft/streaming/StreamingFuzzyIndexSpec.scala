package graft.streaming

import graft.SparkSpec
import graft.ops.FuzzyJoin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The persisted fuzzy-join blocking-key index as a STREAMING asset: a real
  * `readStream` + `foreachBatch` loop folds micro-batches through
  * append→probe (and a mid-stream compaction, which re-freezes the gram
  * order), and the union of per-batch matches must equal the one-shot
  * [[FuzzyJoin.editDistanceJoin]] over the full corpus — append-then-probe
  * makes every pair visible exactly when its LATER member arrives
  * (co-batch pairs via the probe's self-id exclusion), so streamed recall
  * AND precision are both pinned to the batch oracle.
  */
class StreamingFuzzyIndexSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch append->probe->compact matches the one-shot join") {
    val rnd = new scala.util.Random(7)
    def randStr(len: Int): String =
      (0 until len).map(_ => ('a' + rnd.nextInt(10)).toChar).mkString
    // 20 families: base + 1-substitution variant + insert/delete variant
    val rows: Seq[(Long, String)] = (0 until 20).flatMap { f =>
      val base = randStr(20)
      val sub = {
        val p = rnd.nextInt(base.length)
        base.updated(p, if (base(p) == 'z') 'y' else 'z')
      }
      val indel = {
        val p = rnd.nextInt(base.length - 2) + 1
        (base.take(p) + "q" + base.drop(p)).patch(base.length - 1, "", 1)
      }
      Seq((f * 3L, base), (f * 3L + 1, sub), (f * 3L + 2, indel))
    }
    val waves: Map[Int, Seq[(Long, String)]] = rows.groupBy(_._1.toInt % 3)

    val baseDir = tempDir("graft-sfi")
    val in = s"$baseDir/in"
    val idx = s"$baseDir/idx"
    val P = 8

    // bootstrap: index wave 0, then probe it against itself (intra-wave
    // pairs surface through the probe's self-id exclusion)
    waves(0).toDF("id", "s").coalesce(1).write.parquet(s"$in/w0_seed")
    FuzzyJoin.writeIndex(waves(0).toDF("id", "s"), "id", "s", idx,
      numPartitions = P)
    val found = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    def fold(pairs: Array[org.apache.spark.sql.Row]): Unit =
      pairs.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        found += ((math.min(a, b), math.max(a, b), r.getInt(2)))
      }
    fold(FuzzyJoin.indexProbe(waves(0).toDF("id", "s"), "id", "s", idx).collect())

    // waves 1 and 2 arrive as micro-batches over a real file stream
    waves(1).toDF("id", "s").coalesce(1).write.parquet(s"$in/w1")
    waves(2).toDF("id", "s").coalesce(1).write.parquet(s"$in/w2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/w[12]")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        FuzzyJoin.appendToIndex(batch, "id", "s", idx)
        fold(FuzzyJoin.indexProbe(batch, "id", "s", idx).collect())
        // mid-stream compaction after the first batch: the gram order is
        // re-frozen from the grown string store; the NEXT batch probes the
        // compacted epoch and recall must hold across the order change
        if (batches == 0) FuzzyJoin.compactIndex(spark, idx)
        batches += 1
        ()
      }
      .option("checkpointLocation", s"$baseDir/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches === 2) // one fold per micro-batch

    val oneShot = FuzzyJoin.editDistanceJoin(rows.toDF("id", "s"), "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    assert(oneShot.nonEmpty && oneShot.size >= 20, s"fixture too weak: $oneShot")
    assert(found.toSet === oneShot,
      s"missing=${oneShot -- found}, spurious=${found.toSet -- oneShot}")
  }
}
