package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.Repartition

class SpreadSpec extends SparkSpec {

  test("across re-probes a temp view re-registered over wider data") {
    val p = spark.sparkContext.defaultParallelism
    assert(p > 1)
    def spreads(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.exists(_.isInstanceOf[Repartition])
    spark.range(0, 100, 1, 1).createOrReplaceTempView("spread_spec_v")
    val narrow = Spread.across(spark.table("spread_spec_v"))
    assert(spreads(narrow)) // one partition under p cores: spread
    // same unresolved plan, other data: the probe must not be the old view's
    spark.range(0, 100, 1, p).createOrReplaceTempView("spread_spec_v")
    val wide = Spread.across(spark.table("spread_spec_v"))
    assert(!spreads(wide))
    assert(narrow ne wide) // keeps the first probe's plan reachable until here
  }
}
