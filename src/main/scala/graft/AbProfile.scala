package graft

/** In-JVM alternating A/B of the [[graft.ops.Spread]] exchange (the r18
  * measurement discipline: ambient host load moves BETWEEN JVMs, so the
  * only trustworthy compare interleaves both arms in one session).
  *
  * For each query: warmup both arms once, then 3 interleaved (on, off)
  * timed pairs of the bench action; report per-arm medians.
  *
  * Usage: runMain graft.AbProfile [sfDir] [queryName...]
  */
object AbProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
        .filterNot(SparkEntry.launchBoundE2e)
    val spark = Sessions.local("graft-ab-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        spark.sparkContext.setJobDescription(name)
        def arm(on: Boolean): Double = {
          spark.conf.set(graft.ops.Spread.ConfKey, on.toString)
          t { fn(spark, sfDir).count(); () }
        }
        arm(true); arm(false) // warmups
        val pairs = (1 to 3).map(_ => (arm(true), arm(false)))
        val on = med(pairs.map(_._1))
        val off = med(pairs.map(_._2))
        // scalastyle:off println
        println(s"""{"q":"$name","spread_on":${Bench.jnum(on)},""" +
          s""""spread_off":${Bench.jnum(off)},"ratio":${Bench.jnum(on / math.max(off, 1e-9))}}""")
        // scalastyle:on
      } catch {
        case e: Throwable =>
          // scalastyle:off println
          println(s"""{"q":"$name","error":${Bench.jsonStr(
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage), 200)}}""")
          // scalastyle:on
      }
    }
    spark.conf.set(graft.ops.Spread.ConfKey, "true")
    spark.stop()
  }
}
