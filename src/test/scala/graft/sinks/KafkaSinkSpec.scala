package graft.sinks

import graft.SparkSpec
import graft.model.{CdcSchema, TableId}
import graft.operators.Changelog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `sink: {type: kafka}` seam (reference
  * flink-cdc-pipeline-connector-kafka KafkaDataSink +
  * ChangeLogJsonFormatFactory). No Kafka broker nor connector jar ships in
  * this environment, so the producer is substituted with an in-memory writer
  * — everything up to the produce call (YAML key, serialization, topic
  * routing, classpath guard) is the real path.
  */
class KafkaSinkSpec extends SparkSpec {
  import spark.implicits._

  private val id = TableId.of("db", "users")
  private val schema = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING")
    .copy(primaryKeys = Seq("id"))

  private def changelog = Seq(
    (1L, "ann", "INSERT", 1L),
    (2L, "bob", "INSERT", 2L),
    (1L, "ann2", "UPDATE", 3L),
    (2L, "bob", "DELETE", 4L)
  ).toDF("id", "name", Changelog.OpCol, Changelog.SeqCol)

  test("kafka sink serializes each batch losslessly (debezium + canal)") {
    for (fmt <- Seq("debezium-json", "canal-json")) {
      val captured = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val sink = new KafkaChangelogSink("broker:9092", "", fmt, Some(captured += _))
      sink.write(id, changelog, schema)
      assert(captured.size === 1)
      // every record carries the PK as its message key: same key → same
      // partition → per-key ordering holds on a multi-partition topic
      val keys = captured.head.select("key").as[String].collect().toSet
      assert(keys === Set("""{"id":1}""", """{"id":2}"""), fmt)
      // the captured wire frames parse back to the same materialized state
      val payload = schema.struct
      val back = fmt match {
        case "debezium-json" => graft.sources.DebeziumJson.parse(captured.head, payload)
        case _ => graft.sources.CanalJson.parse(captured.head, payload)
      }
      val state = Changelog.materialize(back.drop("__db", "__table"), Seq("id"))
        .select("id", "name").as[(Long, String)].collect().toSet
      assert(state === Set((1L, "ann2")), fmt)
    }
  }

  test("topic routing: explicit topic wins, else table identifier verbatim") {
    assert(new KafkaChangelogSink("b", "events").topicFor(id) === "events")
    assert(new KafkaChangelogSink("b").topicFor(id) === "db.users")
    intercept[IllegalArgumentException] {
      new KafkaChangelogSink("b", "", "avro").serialize(id, changelog, Seq("id"))
    }
  }

  test("classpath guard: producing without the connector fails loudly") {
    assume(!KafkaChangelogSink.connectorAvailable, "connector present; guard untestable")
    val sink = new KafkaChangelogSink("broker:9092")
    val e = intercept[IllegalArgumentException] { sink.write(id, changelog, schema) }
    assert(e.getMessage.contains("spark-sql-kafka"))
  }

  test("YAML `sink: {type: kafka}` runs the streaming pipeline onto the wire") {
    val in = tempDir("graft-kafka-in")
    val state = tempDir("graft-kafka-state")
    val yaml =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: kafka
         |  properties.bootstrap.servers: broker:9092
         |  value.format: debezium-json
         |  path: $state
         |pipeline:
         |  name: kafka-seam
         |""".stripMargin
    val p = graft.pipeline.PipelineDef.fromYaml(yaml)
    assert(p.sink.kind === "kafka")

    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n" +
        """{"before":null,"after":{"id":2,"name":"bob"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""" + "\n")

    val captured = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val (_, sink, q) = graft.Cli.buildStreaming(spark, p,
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      kafkaWriter = Some(df => captured.synchronized { captured ++= df.collect() }))
    q.awaitTermination(60000)
    assert(sink.isInstanceOf[KafkaChangelogSink])

    val values = captured.map(_.getAs[String]("value")).sorted
    assert(values.size === 2)
    assert(values.forall(_.contains(""""op":"c"""")))
    assert(values.exists(_.contains(""""name":"ann"""")))
    assert(values.exists(_.contains(""""name":"bob"""")))
    assert(captured.map(_.getAs[String]("key")).toSet === Set("""{"id":1}""", """{"id":2}"""))
  }
}
