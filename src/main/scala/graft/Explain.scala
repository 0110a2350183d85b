package graft

/** Plan inspector: dumps `explain("formatted")` for every SparkEntry query so
  * scan pruning (`ReadSchema`/`PushedFilters`), broadcast joins, partial
  * aggregation, and WholeStageCodegen spans can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.catalog.map(_.name).sorted
    // four cores whatever the host, so plan dumps compare across hosts
    val spark = Sessions.local("graft-explain", cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      // scalastyle:off println
      println(s"\n========== $n ==========")
      try SparkEntry.query(n).build(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
      // scalastyle:on
    }
    spark.stop()
  }
}
