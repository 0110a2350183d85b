package perfbench

import graft.model.TableId
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Expected final sink state, derived by the generator itself, and the
  * order-independent comparison against what the sink committed.
  */
object Oracle {

  /** One sink table: its expected shape and the source models routing into it. */
  final case class Expected(table: TableId, schema: StructType, pk: String, models: Seq[TableModel])

  /** Keys whose committed row differs from the expected one (wrong, missing
    * or extra), plus whether the committed column names and types match.
    */
  final case class Verdict(table: TableId, rows: Long, badKeys: Array[Long], schemaOk: Boolean,
                           detail: String) {
    def ok: Boolean = schemaOk && badKeys.isEmpty
  }

  def expectedFrame(spark: SparkSession, e: Expected): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val rdds = e.models.map { m =>
      val (seed, tab, kind, base, ddl) = (m.seed, m.tab, m.kind, m.base, m.ddlSeq)
      val b = spark.sparkContext.broadcast((m.sinkVer, m.sinkSeq, m.sinkAlive))
      spark.sparkContext.parallelize(0 until m.cap, parts).flatMap { idx =>
        val (ver, seq, alive) = b.value
        if (!alive.get(idx)) None
        else Some(Row.fromSeq(kind.sinkValues(seed, tab, base + idx, ver(idx), seq(idx), seq(idx) > ddl).toSeq))
      }
    }
    spark.createDataFrame(rdds.reduce(_ union _), e.schema)
  }

  /** Multiset comparison keyed by PK: every row of each side hashes to
    * (pk, xxhash64(row)); a (pk, hash) pair whose counts differ between the
    * sides marks that key bad. Order-independent, one shuffle.
    */
  def compare(e: Expected, actual: DataFrame, expected: DataFrame): Verdict = {
    val present = actual.schema.fields.map(f => f.name -> f.dataType).toMap
    val schemaOk = present.size == e.schema.size &&
      e.schema.fields.forall(f => present.get(f.name).contains(f.dataType))
    val cols = e.schema.fields.toSeq.map(f =>
      (if (present.contains(f.name)) col(f.name).cast(f.dataType) else lit(null).cast(f.dataType)).as(f.name))
    def keyed(df: DataFrame, side: Int): DataFrame = {
      val aligned = df.select(cols: _*)
      aligned.select(col(e.pk).cast("long").as("k"),
        xxhash64(aligned.columns.map(col).toSeq: _*).as("h"), lit(side).as("s"))
    }
    val act = actual.cache()
    try {
      val bad = keyed(expected, 1).unionByName(keyed(act, -1))
        .groupBy("k", "h").agg(sum("s").as("n")).where(col("n") =!= 0)
        .select("k").distinct().collect().map(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
      val rows = act.count()
      val detail =
        if (!schemaOk) s"schema ${actual.schema.simpleString} != expected ${e.schema.simpleString}"
        else if (bad.nonEmpty) {
          val some = bad.take(3).toSeq
          def rows(df: DataFrame) = df.select(cols: _*).where(col(e.pk).isin(some: _*)).collect().mkString(" ")
          s"${bad.length} bad keys; expected ${rows(expected)}; committed ${rows(act)}"
        } else "ok"
      Verdict(e.table, rows, bad, schemaOk, detail)
    } finally { act.unpersist(); () }
  }

  /** Offered events whose key is wrong or missing: a schema mismatch fails
    * every event of the table.
    */
  def failedEvents(e: Expected, v: Verdict): Long =
    if (!v.schemaOk) e.models.map(m => m.events.map(_.toLong).sum).sum
    else v.badKeys.iterator.map { k =>
      e.models.find(m => k >= m.base && k < m.base + m.cap)
        .map(m => math.max(1, m.events((k - m.base).toInt)).toLong).getOrElse(1L)
    }.sum
}
