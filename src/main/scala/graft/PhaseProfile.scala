package graft

/** Measurement tool (optimization rounds): split a query's wall time into
  * driver-side phases so tuning targets the real cost, not a guess
  * (spark_optimization_guide §1 "measure first").
  *
  *   build = SparkEntry.queries(name)(spark, dir)   — DataFrame construction
  *           (includes any driver actions the query runs while composing,
  *           e.g. split-point lookups or index builds)
  *   plan  = df.queryExecution.executedPlan          — analyze + optimize +
  *           physical planning (AQE re-planning still lands in exec)
  *   exec  = df.count()                              — the bench's action
  *
  * Methodology mirrors Bench: same master/conf, one untimed warmup, then
  * median of three per phase. Output: one JSON line per query on stdout.
  *
  * Usage: runMain graft.PhaseProfile [sfDir] [queryName...]
  */
object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
        .filterNot(SparkEntry.launchBoundE2e)
    val spark = Sessions.local("graft-phase-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    def t[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def med3(f: => Double): Double = (1 to 3).map(_ => f).sorted.apply(1)

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        spark.sparkContext.setJobDescription(name)
        fn(spark, sfDir).count() // warmup (JIT, codegen, page cache)
        val build = med3(t(fn(spark, sfDir))._2)
        // the bench's action is .count(), which plans its own aggregate on
        // top of the query — phase-split THAT plan, not the bare frame's
        val plan = med3 {
          val c = fn(spark, sfDir).groupBy().count()
          t(c.queryExecution.executedPlan)._2
        }
        val exec = med3 {
          val c = fn(spark, sfDir).groupBy().count()
          c.queryExecution.executedPlan // planned outside the timed region
          t(c.head().getLong(0))._2
        }
        val total = med3(t(fn(spark, sfDir).count())._2)
        // scalastyle:off println
        println(f"""{"q":"$name","build":${Bench.jnum(build)},""" +
          f""""plan":${Bench.jnum(plan)},"exec":${Bench.jnum(exec)},""" +
          f""""total":${Bench.jnum(total)}}""")
        // scalastyle:on
      } catch {
        case e: Throwable =>
          // scalastyle:off println
          println(s"""{"q":"$name","error":${Bench.jsonStr(
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage), 200)}}""")
          // scalastyle:on
      }
    }
    spark.stop()
  }
}
