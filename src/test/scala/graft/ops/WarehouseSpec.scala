package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("compact coalesces a many-file wave; row identity is untouched") {
    val path = tempDir("graft-compact") + "/t"
    // simulate streaming ingest: 12 tiny appended waves
    for (w <- 0 until 12)
      (w * 100L until w * 100L + 100L).toDF("id")
        .withColumn("v", col("id") * 2)
        .repartition(3)
        .write.mode("append").parquet(path)
    val beforeRows = spark.read.parquet(path).orderBy("id").collect().toSeq
    val (before, after) = Warehouse.compact(spark, path, targetBytes = 1L << 30)
    assert(before >= 12 && after < before, s"$before -> $after")
    assert(after == 1) // everything fits one target-sized file
    val afterRows = spark.read.parquet(path).orderBy("id").collect().toSeq
    assert(afterRows == beforeRows)
    // the superseded wave is gone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path.compact-old")))
  }

  test("partitioned write + readback round-trips and prunes") {
    val path = tempDir("graft-partrt") + "/t"
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "p")
    Warehouse.writePartitioned(df, "p", path)
    val back = Warehouse.readPartitioned(spark, path).where(col("p") === "a")
    assert(back.select("id").as[Long].collect().toSet == Set(1L, 3L))
    assert(back.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }
}
