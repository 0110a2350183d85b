package perfbench

import graft.model.TableId
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}

/** Checks of the benchmark itself: feeds are a pure function of the seed,
  * and the oracle comparison catches a wrong, a missing and an extra row.
  */
object SelfTest {
  private def check(what: String, ok: Boolean): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) throw new AssertionError(what)
  }

  private def bytes(files: Seq[FeedFile]): Seq[Seq[Byte]] = files.map(_.bytes.toSeq)

  def run(): Unit = {
    val shape = Workloads.SteadyShape(keys = 20000, rate = 1000)
    val (_, a) = Workloads.steadyFeed(7L, shape, 20)
    val (_, b) = Workloads.steadyFeed(7L, shape, 20)
    val (_, c) = Workloads.steadyFeed(8L, shape, 20)
    check("steady: same seed gives a byte-identical feed", bytes(a) == bytes(b))
    check("steady: another seed gives a different feed", bytes(a) != bytes(c))
    val ca = Workloads.catchupFeed(7L, 3000)
    val cb = Workloads.catchupFeed(7L, 3000)
    val cc = Workloads.catchupFeed(8L, 3000)
    check("catchup: same seed gives a byte-identical feed", bytes(ca.snap ++ ca.tail) == bytes(cb.snap ++ cb.tail))
    check("catchup: another seed gives a different feed", bytes(ca.snap ++ ca.tail) != bytes(cc.snap ++ cc.tail))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = (a ++ ca.snap ++ ca.tail).flatMap(f => new String(f.bytes, "UTF-8").split('\n'))
    check("every feed line is one valid JSON object", lines.forall { l =>
      try mapper.readTree(l).isObject catch { case _: Exception => false }
    })

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", 2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (model, _) = Workloads.steadyFeed(7L, Workloads.SteadyShape(keys = 2000, rate = 500), 10)
      val e = Oracle.Expected(TableId.of("ods", "accounts"), AccountKind.sinkSchema, "id", Seq(model))
      val exp = Oracle.expectedFrame(spark, e).cache()
      val someKey = exp.select("id").head().getLong(0)
      def verdict(actual: org.apache.spark.sql.DataFrame) = Oracle.compare(e, actual, Oracle.expectedFrame(spark, e))
      check("oracle: the expected state compares equal to itself", verdict(exp).ok)
      val wrong = exp.withColumn("name", when(col("id") === someKey, lit("planted")).otherwise(col("name")))
      val v1 = verdict(wrong)
      check("oracle: a planted wrong row fails the compare", !v1.ok && v1.badKeys.toSeq == Seq(someKey))
      check("oracle: a missing row fails the compare", !verdict(exp.where(col("id") =!= someKey)).ok)
      check("oracle: a duplicated row fails the compare", !verdict(exp.union(exp.where(col("id") === someKey))).ok)
      check("oracle: a wrong column type fails the compare",
        !verdict(exp.withColumn("ver", col("ver").cast("long"))).ok)
    } finally spark.stop()
  }
}
