package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main, `Cli` and the test
  * suite's shared session come through [[local]], so core count, master,
  * the base conf and the SQL function surface cannot drift apart between them.
  */
object Sessions {

  /** Cores a session uses: `SPARK_GRAFT_CPUS` when set, else the host's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Session on `SPARK_MASTER` when set, else `local[cpus]`, with one
    * shuffle partition per core, UTC session time, no UI and WARN logging.
    * `conf` entries override that base; a `null` value drops the base key,
    * leaving Spark's own default (or a `-Dspark.*` property) in force. The
    * engine's built-in SQL functions are installed on it
    * ([[graft.functions.FunctionCatalog]]).
    */
  def local(app: String, cpus: Int = Sessions.cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(app)
    for ((k, v) <- base ++ conf if v != null) b.config(k, v)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.FunctionCatalog.install(spark)
    spark
  }
}
