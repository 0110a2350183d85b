package graft.sinks

import graft.SparkSpec
import graft.model._
import graft.operators.Changelog
import org.apache.spark.sql.SparkSession

/** Contract tests for the lakehouse MERGE seam via an injected catalog stub:
  * the runner captures every statement, and a tiny MERGE interpreter applies
  * the sink's reduced source view to an in-memory store — proving the
  * statement shape AND that replaying a batch converges (the property the
  * real Delta/Iceberg engine inherits from the same statements).
  */
class DeltaMergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private val id = TableId.of("db", "users")
  private val schema = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING", "age" -> "INT")
    .copy(primaryKeys = Seq("id"))

  /** Captures statements; interprets MERGE against a pk → (name, age) map
    * by reading the sink's temp view (id is the single PK in these tests).
    */
  private final class Stub {
    val statements = scala.collection.mutable.ArrayBuffer.empty[String]
    val store = scala.collection.mutable.LinkedHashMap.empty[Long, (String, Int)]
    val runner: (SparkSession, String) => Unit = (s, sql) => {
      statements += sql
      if (sql.startsWith("MERGE INTO")) {
        val view = sql.split("USING ")(1).split(" ")(0)
        s.table(view).orderBy("id").collect().foreach { r =>
          val k = r.getAs[Long]("id")
          if (r.getAs[String](Changelog.OpCol) == "DELETE") store.remove(k)
          else store(k) = (r.getAs[String]("name"), r.getAs[Int]("age"))
        }
      }
    }
  }

  private def changelog(rows: (Long, String, Int, String, Long)*) =
    rows.toSeq.toDF("id", "name", "age", Changelog.OpCol, Changelog.SeqCol)

  test("DDL events map to the catalog ALTER TABLE surface") {
    val stub = new Stub
    val sink = new DeltaMergeSink("lake", Some(stub.runner))
    sink.applySchemaChange(CreateTableEvent(id, schema))
    sink.applySchemaChange(AddColumnEvent(id, "email", org.apache.spark.sql.types.StringType))
    sink.applySchemaChange(AddColumnEvent(id, "flag",
      org.apache.spark.sql.types.BooleanType, ColumnPosition.After("name")))
    sink.applySchemaChange(RenameColumnEvent(id, "email", "mail"))
    sink.applySchemaChange(AlterColumnTypeEvent(id, "age", org.apache.spark.sql.types.LongType))
    sink.applySchemaChange(DropColumnEvent(id, "mail"))
    sink.applySchemaChange(TruncateTableEvent(id))
    sink.applySchemaChange(DropTableEvent(id))
    val upgrade = "ALTER TABLE `lake`.`db_users` SET TBLPROPERTIES (" +
      "'delta.columnMapping.mode' = 'name', " +
      "'delta.minReaderVersion' = '2', 'delta.minWriterVersion' = '5')"
    assert(stub.statements.toSeq === Seq(
      "CREATE TABLE IF NOT EXISTS `lake`.`db_users` (`id` BIGINT, `name` STRING, `age` INT) " +
        "USING delta TBLPROPERTIES ('delta.columnMapping.mode' = 'name')",
      "ALTER TABLE `lake`.`db_users` ADD COLUMNS (`email` STRING)",
      "ALTER TABLE `lake`.`db_users` ADD COLUMNS (`flag` BOOLEAN AFTER `name`)",
      upgrade, // rename/drop refuse without column mapping; upgrade is idempotent
      "ALTER TABLE `lake`.`db_users` RENAME COLUMN `email` TO `mail`",
      "ALTER TABLE `lake`.`db_users` ALTER COLUMN `age` TYPE BIGINT",
      upgrade,
      "ALTER TABLE `lake`.`db_users` DROP COLUMN `mail`",
      "DELETE FROM `lake`.`db_users`",
      "DROP TABLE IF EXISTS `lake`.`db_users`"))
  }

  test("MERGE carries null-safe keys, delete/update/insert branches, reduced source") {
    val stub = new Stub
    val sink = new DeltaMergeSink("lake", Some(stub.runner))
    sink.write(id, changelog(
      (1L, "ann", 30, "INSERT", 1L),
      (1L, "ann2", 31, "UPDATE", 2L), // same key twice: MERGE needs unique source keys
      (2L, "bob", 40, "INSERT", 3L)), schema)
    val merge = stub.statements.last
    assert(merge.contains("ON t.`id` <=> u.`id`"))
    assert(merge.contains("WHEN MATCHED AND u.`__op` = 'DELETE' THEN DELETE"))
    assert(merge.contains("WHEN MATCHED AND u.`__op` <> 'DELETE' THEN UPDATE SET " +
      "t.`name` = u.`name`, t.`age` = u.`age`"))
    assert(merge.contains("WHEN NOT MATCHED AND u.`__op` <> 'DELETE' THEN INSERT " +
      "(`id`, `name`, `age`) VALUES (u.`id`, u.`name`, u.`age`)"))
    // within-batch reduction: one source row per key, highest seq won
    assert(stub.store.toMap === Map(1L -> ("ann2", 31), 2L -> ("bob", 40)))
  }

  test("replayed batches converge (at-least-once x MERGE = effectively-once)") {
    val stub = new Stub
    val sink = new DeltaMergeSink("lake", Some(stub.runner))
    val batch1 = changelog(
      (1L, "ann", 30, "INSERT", 1L),
      (2L, "bob", 40, "INSERT", 2L))
    val batch2 = changelog(
      (1L, "ann2", 31, "UPDATE", 3L),
      (2L, "bob", 40, "DELETE", 4L),
      (3L, "eve", 50, "INSERT", 5L),
      (9L, "ghost", 0, "DELETE", 6L)) // delete of an absent key: no branch fires
    sink.write(id, batch1, schema)
    sink.write(id, batch2, schema)
    val after = stub.store.toMap
    sink.write(id, batch2, schema) // replay
    assert(stub.store.toMap === after)
    assert(after === Map(1L -> ("ann2", 31), 3L -> ("eve", 50)))
  }

  test("YAML `sink: {type: delta}` drives a debezium feed through Cli into MERGE statements") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-delta-in")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":null,"after":{"id":1,"name":"ann2"},"op":"u","ts_ms":2,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":{"id":2,"name":"bob"},"after":null,"op":"d","ts_ms":3,"source":{"db":"db","table":"users"}}""" + "\n")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: delta
         |  database: lake
         |pipeline:
         |  name: delta-e2e-${System.nanoTime()}
         |""".stripMargin)
    val statements = scala.collection.mutable.ArrayBuffer.empty[String]
    val store = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val runner: (SparkSession, String) => Unit = (s, sql) => {
      statements += sql
      if (sql.startsWith("MERGE INTO")) {
        val view = sql.split("USING ")(1).split(" ")(0)
        s.table(view).collect().foreach { r =>
          val k = r.getAs[Long]("id")
          if (r.getAs[String](Changelog.OpCol) == "DELETE") store.remove(k)
          else store(k) = r.getAs[String]("name")
        }
      }
    }
    val (_, _, q) = graft.Cli.buildStreaming(spark, p, Trigger.AvailableNow(),
      sqlRunner = Some(runner))
    q.awaitTermination(60000)
    deleteStateDir(p)
    assert(statements.head ===
      "CREATE TABLE IF NOT EXISTS `lake`.`db_users` (`id` BIGINT, `name` STRING) USING delta " +
      "TBLPROPERTIES ('delta.columnMapping.mode' = 'name')")
    assert(statements.exists(_.startsWith("MERGE INTO `lake`.`db_users`")))
    assert(store.toMap === Map(1L -> "ann2")) // 2 deleted, 1 upserted to last image
  }

  test("kafka source + delta sink in one YAML: the full production shape, both seams injected") {
    // the deployment target: CDC topic in, lakehouse MERGE out — no local
    // state except the checkpoint; both connector seams swap in their
    // injectable stand-ins exactly as a broker/catalog deployment would
    // swap in the real clients
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-k2d-in")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":null,"after":{"id":2,"name":"bob"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":null,"after":{"id":1,"name":"ann2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":{"id":2,"name":"bob"},"after":null,"op":"d","ts_ms":4,"source":{"db":"db","table":"users"}}""" + "\n")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: kafka
         |  properties.bootstrap.servers: broker:9092
         |  topic: db.users
         |  scan.startup.mode: earliest-offset
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: delta
         |  database: lake
         |pipeline:
         |  name: kafka-to-delta-e2e-${System.nanoTime()}
         |""".stripMargin)
    val reader = (s: SparkSession, opts: Map[String, String]) => {
      assert(opts("subscribe") === "db.users")
      s.readStream.format("text").load(in)
    }
    val statements = scala.collection.mutable.ArrayBuffer.empty[String]
    val store = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val runner: (SparkSession, String) => Unit = (s, sql) => {
      statements += sql
      if (sql.startsWith("MERGE INTO")) {
        val view = sql.split("USING ")(1).split(" ")(0)
        s.table(view).collect().foreach { r =>
          val k = r.getAs[Long]("id")
          if (r.getAs[String](Changelog.OpCol) == "DELETE") store.remove(k)
          else store(k) = r.getAs[String]("name")
        }
      }
    }
    val (_, _, q) = graft.Cli.buildStreaming(spark, p, Trigger.AvailableNow(),
      kafkaReader = Some(reader), sqlRunner = Some(runner))
    q.awaitTermination(60000)
    deleteStateDir(p)
    assert(statements.head ===
      "CREATE TABLE IF NOT EXISTS `lake`.`db_users` (`id` BIGINT, `name` STRING) USING delta " +
      "TBLPROPERTIES ('delta.columnMapping.mode' = 'name')")
    assert(store.toMap === Map(1L -> "ann2")) // last image upserted, delete applied
  }
}
