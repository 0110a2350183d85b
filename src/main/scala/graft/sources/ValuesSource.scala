package graft.sources

import graft.model._
import graft.operators.Changelog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Scripted in-memory event source for tests — the reference's values
  * connector (`ValuesDataSourceHelper.java:52-172`) whose event sets drive
  * every composer integration test (SURVEY.md §5).
  */
object ValuesSource {

  /** The canonical 2-column fixture (`singleSplitSingleTable`,
    * ValuesDataSourceHelper.java:173-200): CreateTable; 3 inserts; update; delete.
    */
  def singleSplitSingleTable: Seq[Event] = {
    val t = TableId.of("default_namespace", "default_schema", "table1")
    val schema = CdcSchema.of("col1" -> "STRING", "col2" -> "STRING").copy(primaryKeys = Seq("col1"))
    Seq(
      CreateTableEvent(t, schema),
      DataChangeEvent.insert(t, Seq("1", "1")),
      DataChangeEvent.insert(t, Seq("2", "2")),
      DataChangeEvent.insert(t, Seq("3", "3")),
      DataChangeEvent.update(t, Seq("2", "2"), Seq("2", "x")),
      DataChangeEvent.delete(t, Seq("3", "3"))
    )
  }

  /** `SINGLE_SPLIT_MULTI_TABLE` (ValuesDataSourceHelper.java:52-64): two
    * tables interleaved in one stream.
    */
  def singleSplitMultiTable: Seq[Event] = {
    val t1 = TableId.of("default_namespace", "default_schema", "table1")
    val t2 = TableId.of("default_namespace", "default_schema", "table2")
    val schema = CdcSchema.of("col1" -> "STRING", "col2" -> "STRING").copy(primaryKeys = Seq("col1"))
    Seq(
      CreateTableEvent(t1, schema), CreateTableEvent(t2, schema),
      DataChangeEvent.insert(t1, Seq("1", "1")),
      DataChangeEvent.insert(t2, Seq("1", "1")),
      DataChangeEvent.insert(t1, Seq("2", "2")),
      DataChangeEvent.update(t2, Seq("1", "1"), Seq("1", "x")))
  }

  /** Convert scripted data-change events for ONE table into a changelog
    * DataFrame (envelope = payload + __op + __seq by script order).
    */
  def toChangelog(spark: SparkSession, schema: CdcSchema, events: Seq[DataChangeEvent]): DataFrame = {
    val fields = schema.struct.fields.toSeq :+
      StructField(Changelog.OpCol, StringType) :+ StructField(Changelog.SeqCol, LongType)
    val rows = events.zipWithIndex.map { case (e, i) =>
      val payload = e.after.orElse(e.before).getOrElse(Seq.fill(schema.struct.length)(null))
      Row.fromSeq(payload :+ e.op.name :+ i.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(fields))
  }
}
