package graft.model

import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Table schema = Spark StructType + primary/partition keys + options.
  *
  * Mirrors the reference's `Schema`
  * (flink-cdc-common/src/main/java/org/apache/flink/cdc/common/schema/Schema.java:46-98):
  * ordered columns, `primaryKeys`, `partitionKeys`, free-form `options`, comment.
  * Spark has no native slot for PKs, so they ride along in this case class and
  * are also stamped into StructField metadata for DataFrame round-trips.
  */
final case class CdcSchema(
    struct: StructType,
    primaryKeys: Seq[String] = Nil,
    partitionKeys: Seq[String] = Nil,
    options: Map[String, String] = Map.empty,
    comment: Option[String] = None
) {
  def columnNames: Seq[String] = struct.fieldNames.toSeq

  def withColumn(name: String, dt: DataType, position: ColumnPosition = ColumnPosition.Last): CdcSchema = {
    val f = StructField(name, dt, nullable = true)
    val fields = struct.fields.toSeq
    val updated = position match {
      case ColumnPosition.Last => fields :+ f
      case ColumnPosition.First => f +: fields
      case ColumnPosition.Before(other) =>
        val i = fields.indexWhere(_.name == other)
        require(i >= 0, s"no column $other"); fields.patch(i, Seq(f), 0)
      case ColumnPosition.After(other) =>
        val i = fields.indexWhere(_.name == other)
        require(i >= 0, s"no column $other"); fields.patch(i + 1, Seq(f), 0)
    }
    copy(struct = StructType(updated))
  }

  def dropColumn(name: String): CdcSchema =
    copy(struct = StructType(struct.fields.filterNot(_.name == name)))

  def renameColumn(from: String, to: String): CdcSchema = {
    copy(
      struct = StructType(struct.fields.map(f => if (f.name == from) f.copy(name = to) else f)),
      primaryKeys = primaryKeys.map(k => if (k == from) to else k),
      partitionKeys = partitionKeys.map(k => if (k == from) to else k)
    )
  }

  def alterColumnType(name: String, dt: DataType): CdcSchema =
    copy(struct = StructType(struct.fields.map(f => if (f.name == name) f.copy(dataType = dt) else f)))
}

object CdcSchema {
  /** Build from `name -> reference-type-string` pairs, e.g. ("id","INT"),("name","STRING"). */
  def of(cols: (String, String)*): CdcSchema =
    CdcSchema(StructType(cols.map { case (n, t) => StructField(n, CdcTypes.parse(t)) }))
}

/** AddColumn placement (common/event/AddColumnEvent.java:48-75). */
sealed trait ColumnPosition
object ColumnPosition {
  case object First extends ColumnPosition
  case object Last extends ColumnPosition
  final case class Before(column: String) extends ColumnPosition
  final case class After(column: String) extends ColumnPosition
}
