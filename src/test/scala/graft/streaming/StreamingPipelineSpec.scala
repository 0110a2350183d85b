package graft.streaming

import graft.SparkSpec
import graft.model._
import graft.operators.{RouteRule, SchemaRegistry, TransformRule}
import graft.sinks.{ParquetUpsertSink, ValuesDatabase, ValuesSink}
import graft.sources.DebeziumJson
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class DebeziumJsonSpec extends SparkSpec {
  import spark.implicits._

  private val userStruct = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").struct

  test("parse maps c/r/u/d to envelope ops with the right image") {
    val rows = Seq(
      """{"before":null,"after":{"id":1,"name":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":null,"after":{"id":2,"name":"b"},"op":"r","ts_ms":2,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":1,"name":"a"},"after":{"id":1,"name":"a2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":2,"name":"b"},"after":null,"op":"d","ts_ms":4,"source":{"db":"db","table":"users"}}""")
    val out = DebeziumJson.parse(rows.toDF("value"), userStruct)
      .orderBy("__seq")
      .select("id", "name", "__op").as[(Long, String, String)].collect().toSeq
    assert(out === Seq(
      (1L, "a", "INSERT"), (2L, "b", "INSERT"), (1L, "a2", "UPDATE"), (2L, "b", "DELETE")))
  }

  test("PK-mutating update splits into DELETE(before) + UPDATE(after)") {
    val rows = Seq(
      """{"before":{"id":1,"name":"a"},"after":{"id":9,"name":"a"},"op":"u","ts_ms":5,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":2,"name":"b"},"after":{"id":2,"name":"b2"},"op":"u","ts_ms":6,"source":{"db":"db","table":"users"}}""")
    val out = DebeziumJson.parse(rows.toDF("value"), userStruct, primaryKeys = Seq("id"))
      .orderBy("__seq", "id").select("id", "name", "__op").as[(Long, String, String)].collect().toSeq
    assert(out === Seq(
      (1L, "a", "DELETE"), (9L, "a", "UPDATE"),   // key change: old key removed
      (2L, "b2", "UPDATE")))                       // same key: single row
  }

  test("emitUpdateBefore: in-place update emits UPDATE_BEFORE(before) + UPDATE(after)") {
    val rows = Seq(
      // in-place: same key, changed payload → retraction pair
      """{"before":{"id":2,"name":"b"},"after":{"id":2,"name":"b2"},"op":"u","ts_ms":6,"source":{"db":"db","table":"users"}}""",
      // PK-mutating: stays the DELETE+UPDATE split (already retracts cleanly)
      """{"before":{"id":1,"name":"a"},"after":{"id":9,"name":"a"},"op":"u","ts_ms":5,"source":{"db":"db","table":"users"}}""",
      // before-image-less update (no REPLICA IDENTITY FULL): after-only
      """{"before":null,"after":{"id":3,"name":"c2"},"op":"u","ts_ms":7,"source":{"db":"db","table":"users"}}""",
      // inserts/deletes unaffected
      """{"before":null,"after":{"id":4,"name":"d"},"op":"c","ts_ms":8,"source":{"db":"db","table":"users"}}""")
    val out = DebeziumJson.parse(rows.toDF("value"), userStruct,
        primaryKeys = Seq("id"), emitUpdateBefore = true)
      .orderBy("__seq", "__op", "id")
      .select("id", "name", "__op").as[(Long, String, String)].collect().toSeq
    assert(out === Seq(
      (1L, "a", "DELETE"), (9L, "a", "UPDATE"),
      (2L, "b2", "UPDATE"), (2L, "b", graft.operators.Changelog.UpdateBeforeOp),
      (3L, "c2", "UPDATE"),
      (4L, "d", "INSERT")))
    // without PKs in-place vs key-changing is UNDECIDABLE, so pair
    // emission stays off (after-image-only): an UPDATE_BEFORE for a
    // key-changing update would retract a row the sink still holds
    val noPk = DebeziumJson.parse(rows.take(2).toDF("value"), userStruct,
        emitUpdateBefore = true)
      .orderBy("__seq").select("name", "__op").as[(String, String)].collect().toSeq
    assert(noPk === Seq(("a", "UPDATE"), ("b2", "UPDATE")))
  }

  test("serialize → parse round-trips the changelog") {
    val ch = Seq((1L, "x", "INSERT", 10L), (2L, "y", "DELETE", 11L))
      .toDF("id", "name", graft.operators.Changelog.OpCol, graft.operators.Changelog.SeqCol)
    val json = graft.sinks.ChangelogJson.debezium(ch, TableId.of("db", "users"))
    val back = DebeziumJson.parse(json, userStruct)
      .orderBy("__seq").select("id", "name", "__op").as[(Long, String, String)].collect().toSeq
    assert(back === Seq((1L, "x", "INSERT"), (2L, "y", "DELETE")))
  }
}

class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val usersId = TableId.of("db", "users")
  private def usersSchema = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING", "age" -> "INT")
    .copy(primaryKeys = Seq("id"))

  private def dbz(op: String, ts: Long, payload: String, table: String = "users"): String = {
    val (before, after) =
      if (op == "d") (payload, "null") else ("null", payload)
    s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$ts,"source":{"db":"db","table":"$table"}}"""
  }

  test("batch-mode pipeline: transform + filter + upsert semantics into values sink") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry,
      transforms = Seq(TransformRule("db.users",
        projection = Some("id, UPPER(name) AS name, age"), filter = Some("age >= 18"))),
      sink = new ValuesSink(db))

    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))

    val batch = Seq(
      dbz("c", 1, """{"id":1,"name":"ann","age":30}"""),
      dbz("c", 2, """{"id":2,"name":"kid","age":10}"""),  // filtered out
      dbz("c", 3, """{"id":3,"name":"bob","age":40}"""),
      dbz("u", 4, """{"id":1,"name":"ann2","age":31}"""),
      dbz("d", 5, """{"id":3,"name":"bob","age":40}""")).toDF("value")
    pipe.processBatch(batch, 0L)

    assert(db.results(usersId).map(_.toList).sortBy(_.head.toString) ===
      Seq(List(1L, "ANN2", 31)))
  }

  test("pipeline removes the old key after a PK-mutating update") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))
    pipe.processBatch(Seq(
      dbz("c", 1, """{"id":1,"name":"ann","age":30}""")).toDF("value"), 0L)
    pipe.processBatch(Seq(
      """{"before":{"id":1,"name":"ann","age":30},"after":{"id":7,"name":"ann","age":30},"op":"u","ts_ms":2,"source":{"db":"db","table":"users"}}"""
    ).toDF("value"), 1L)
    assert(db.results(usersId).map(_.toList) === Seq(List(7L, "ann", 30)))
  }

  test("sink schema is the POST-transform shape: computed/renamed columns survive") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry,
      transforms = Seq(TransformRule("db.users",
        projection = Some("id, age + 1 AS age1, UPPER(name) AS uname"))),
      sink = new ValuesSink(db))

    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))
    // sink must have been created with the transform's OUTPUT schema, not the
    // source schema (reference PostTransformOperator.transformSchema)
    assert(db.schemaOf(usersId).map(_.struct.fieldNames.toSeq) === Some(Seq("id", "age1", "uname")))

    pipe.processBatch(Seq(
      dbz("c", 1, """{"id":1,"name":"ann","age":30}"""),
      dbz("u", 2, """{"id":1,"name":"bob","age":41}""")).toDF("value"), 0L)

    assert(db.results(usersId).map(_.toList) === Seq(List(1L, 42, "BOB")))
  }

  test("schema-change JSON codec round-trips every event type") {
    import org.apache.spark.sql.types._
    val id = TableId.of("db", "users")
    val events: Seq[SchemaChangeEvent] = Seq(
      CreateTableEvent(id, usersSchema),
      AddColumnEvent(id, "age2", IntegerType),
      AddColumnEvent(id, "first", LongType, ColumnPosition.First),
      AddColumnEvent(id, "mid", StringType, ColumnPosition.After("id")),
      DropColumnEvent(id, "age"),
      RenameColumnEvent(id, "name", "full_name"),
      AlterColumnTypeEvent(id, "id", StringType),
      DropTableEvent(id),
      TruncateTableEvent(id))
    for (e <- events)
      assert(SchemaChangeJson.parse(SchemaChangeJson.toJson(e)) === e, e.toString)
  }

  test("a data row whose text mentions the control marker stays a data row") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))
    // payload TEXT contains the marker string — must not be treated as DDL
    // (and must not kill the batch via a failed control-parse)
    pipe.processBatch(Seq(
      dbz("c", 1, """{"id":1,"name":"mentions \"__graft_schema_change__\" in text","age":5}""")
    ).toDF("value"), 0L)
    assert(db.results(usersId).map(_.toList) ===
      Seq(List(1L, """mentions "__graft_schema_change__" in text""", 5)))
  }

  test("in-band DDL control records apply at the batch boundary") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    // batch 1: CreateTable + first rows share one batch
    pipe.processBatch(Seq(
      SchemaChangeJson.toJson(CreateTableEvent(usersId, usersSchema)),
      dbz("c", 1, """{"id":1,"name":"ann","age":30}""")).toDF("value"), 0L)
    assert(db.results(usersId).map(_.toList) === Seq(List(1L, "ann", 30)))
    // batch 2: AddColumn rides in-band; same-batch data may already use it
    pipe.processBatch(Seq(
      SchemaChangeJson.toJson(AddColumnEvent(usersId, "email", org.apache.spark.sql.types.StringType)),
      dbz("u", 2, """{"id":1,"name":"ann","age":31,"email":"a@x"}""")).toDF("value"), 1L)
    assert(db.results(usersId).map(_.toList) === Seq(List(1L, "ann", 31, "a@x")))
  }

  test("malformed feed lines are skipped, valid records still apply") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val dead = scala.collection.mutable.ArrayBuffer.empty[String]
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db),
      deadLetter = Some((df, _) => dead ++= df.collect().map(_.getString(0))))
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))
    pipe.processBatch(Seq(
      "not json at all {{{",
      """{"half": "an envelope"}""",
      dbz("c", 1, """{"id":1,"name":"ok","age":20}"""),
      """{"before":null,"after":{"id":"NOT_A_NUMBER","name":"x","age":1},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}"""
    ).toDF("value"), 0L)
    // only the valid row lands: corrupt payloads (null PK) never reach state
    assert(db.results(usersId).map(_.toList) === Seq(List(1L, "ok", 20)))
    // unroutable lines surfaced to the dead-letter handler, not swallowed
    assert(dead.toSet === Set("not json at all {{{", """{"half": "an envelope"}"""))
  }

  test("N→1 route merges schemas and union-upserts into one sink table") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val merged = TableId.of("ods", "users_all")
    val pipe = new StreamingPipeline(registry,
      routes = Seq(RouteRule("db.users_\\.*", "ods.users_all")),
      sink = new ValuesSink(db))

    val s1 = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").copy(primaryKeys = Seq("id"))
    val s2 = CdcSchema.of("id" -> "BIGINT", "name" -> "STRING", "email" -> "STRING").copy(primaryKeys = Seq("id"))
    pipe.applySchemaChange(CreateTableEvent(TableId.of("db", "users_1"), s1))
    pipe.applySchemaChange(CreateTableEvent(TableId.of("db", "users_2"), s2))

    val batch = Seq(
      dbz("c", 1, """{"id":1,"name":"a"}""", table = "users_1"),
      dbz("c", 2, """{"id":2,"name":"b","email":"b@x"}""", table = "users_2")).toDF("value")
    pipe.processBatch(batch, 0L)

    assert(db.schemaOf(merged).get.columnNames === Seq("id", "name", "email"))
    assert(db.results(merged).map(_.toList).sortBy(_.head.toString) ===
      Seq(List(1L, "a", null), List(2L, "b", "b@x")))
  }

  // two sources of one N→1 route write key 1 in one batch: the later
  // ts_ms wins, whichever leg is parsed or scheduled first
  for (par <- Seq(1, 4); (ts1, ts2) <- Seq((200L, 100L), (100L, 200L)))
    test(s"N→1 legs writing one key in one batch resolve by ts (table-parallelism $par, ts $ts1/$ts2)") {
      val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
      val sink = new ParquetUpsertSink(tempDir("graft-collide"), buckets = 4)
      val pipe = new StreamingPipeline(registry, routes = Seq(RouteRule("db.u_\\.*", "ods.u")),
        sink = sink, tableParallelism = par)
      val s = CdcSchema.of("id" -> "BIGINT", "v" -> "STRING").copy(primaryKeys = Seq("id"))
      Seq("u_1", "u_2").foreach(t => pipe.applySchemaChange(CreateTableEvent(TableId.of("db", t), s)))
      pipe.processBatch(Seq(
        dbz("c", ts1, """{"id":1,"v":"from u_1"}""", table = "u_1"),
        dbz("c", ts2, """{"id":1,"v":"from u_2"}""", table = "u_2")).toDF("value"), 0L)
      val want = if (ts1 > ts2) "from u_1" else "from u_2"
      assert(sink.read(spark, TableId.of("ods", "u")).as[(Long, String)].collect().toSeq === Seq((1L, want)))
    }

  test("schema evolution mid-stream: AddColumn applies between batches") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    pipe.applySchemaChange(CreateTableEvent(usersId,
      CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").copy(primaryKeys = Seq("id"))))

    pipe.processBatch(Seq(dbz("c", 1, """{"id":1,"name":"a"}""")).toDF("value"), 0L)
    pipe.applySchemaChange(AddColumnEvent(usersId, "age", IntegerType))
    pipe.processBatch(Seq(dbz("c", 2, """{"id":2,"name":"b","age":9}""")).toDF("value"), 1L)

    assert(db.schemaOf(usersId).get.columnNames === Seq("id", "name", "age"))
    assert(db.results(usersId).map(_.toList).sortBy(_.head.toString) ===
      Seq(List(1L, "a", null), List(2L, "b", 9)))
  }

  test("parquet upsert sink maintains state across batches, idempotently") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val dir = tempDir("graft-upsert")
    val sink = new ParquetUpsertSink(dir)
    val pipe = new StreamingPipeline(registry, sink = sink)
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))

    pipe.processBatch(Seq(
      dbz("c", 1, """{"id":1,"name":"a","age":20}"""),
      dbz("c", 2, """{"id":2,"name":"b","age":30}""")).toDF("value"), 0L)
    val b1 = Seq(
      dbz("u", 3, """{"id":1,"name":"a2","age":21}"""),
      dbz("d", 4, """{"id":2,"name":"b","age":30}"""),
      dbz("c", 5, """{"id":3,"name":"c","age":40}""")).toDF("value")
    pipe.processBatch(b1, 1L)

    def state = sink.read(spark, usersId).orderBy("id")
      .as[(Long, String, Int)].collect().toSeq
    assert(state === Seq((1L, "a2", 21), (3L, "c", 40)))

    // replay the same batch — idempotent (effectively-once)
    pipe.processBatch(b1, 1L)
    assert(state === Seq((1L, "a2", 21), (3L, "c", 40)))
  }

  test("bucketed parquet sink: merges across batches, only touched buckets rewritten") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val dir = tempDir("graft-bucketed")
    val sink = new ParquetUpsertSink(dir, buckets = 8)
    val pipe = new StreamingPipeline(registry, sink = sink)
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))

    pipe.processBatch(Seq(
      dbz("c", 1, """{"id":1,"name":"a","age":20}"""),
      dbz("c", 2, """{"id":2,"name":"b","age":30}"""),
      dbz("c", 3, """{"id":3,"name":"c","age":40}""")).toDF("value"), 0L)
    pipe.processBatch(Seq(
      dbz("u", 4, """{"id":1,"name":"a2","age":21}"""),
      dbz("d", 5, """{"id":2,"name":"b","age":30}""")).toDF("value"), 1L)

    val state = sink.read(spark, usersId).orderBy("id").as[(Long, String, Int)].collect().toSeq
    assert(state === Seq((1L, "a2", 21), (3L, "c", 40)))
    // the live buckets are exactly those of the keys left
    val layout = sink.manifest(spark, usersId).get
    assert(layout.buckets === 8 && layout.live.keySet ===
      Seq(1L, 3L).toDF("id").select(pmod(xxhash64(col("id")), lit(8L)).cast("int")).as[Int].collect().toSet)
  }

  test("parquet sink survives mid-stream AddColumn (state coerced to evolved schema)") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val dir = tempDir("graft-evolve-pq")
    val sink = new ParquetUpsertSink(dir, buckets = 4)
    val pipe = new StreamingPipeline(registry, sink = sink)
    pipe.applySchemaChange(CreateTableEvent(usersId,
      CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").copy(primaryKeys = Seq("id"))))

    pipe.processBatch(Seq(dbz("c", 1, """{"id":1,"name":"a"}""")).toDF("value"), 0L)
    pipe.applySchemaChange(AddColumnEvent(usersId, "age", IntegerType))
    pipe.processBatch(Seq(dbz("c", 2, """{"id":2,"name":"b","age":9}""")).toDF("value"), 1L)

    val rows = sink.read(spark, usersId).orderBy("id")
      .select("id", "name", "age").collect().map(r => (r.getLong(0), r.getString(1), r.get(2))).toSeq
    assert(rows === Seq((1L, "a", null), (2L, "b", 9)))
  }

  test("hybrid source: snapshot load then change stream supersedes per key") {
    import org.apache.spark.sql.functions._
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val dir = tempDir("graft-hybrid")
    val sink = new ParquetUpsertSink(dir)
    val pipe = new StreamingPipeline(registry, sink = sink)
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))

    // phase 1: full snapshot at seq 0 (reference HybridSplitAssigner handoff)
    val snapshot = Seq((1L, "a", 20), (2L, "b", 30), (3L, "c", 40)).toDF("id", "name", "age")
    pipe.snapshotLoad(usersId, snapshot, snapshotSeq = 0L)

    // phase 2: stream tail with seq > snapshot watermark
    pipe.processBatch(Seq(
      dbz("u", 10, """{"id":1,"name":"a2","age":21}"""),
      dbz("d", 11, """{"id":3,"name":"c","age":40}""")).toDF("value"), 1L)

    val state = sink.read(spark, usersId).orderBy("id").as[(Long, String, Int)].collect().toSeq
    assert(state === Seq((1L, "a2", 21), (2L, "b", 30)))
  }

  test("records for unknown tables are skipped until their CreateTable arrives") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    // newly-added-table capture: batch 0 has records for a table the
    // registry doesn't know yet — skipped, not crashed
    pipe.processBatch(Seq(dbz("c", 1, """{"id":1,"name":"a","age":1}""")).toDF("value"), 0L)
    assert(db.tableIds.isEmpty)
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))
    pipe.processBatch(Seq(dbz("c", 2, """{"id":1,"name":"a","age":1}""")).toDF("value"), 1L)
    assert(db.results(usersId).map(_.toList) === Seq(List(1L, "a", 1)))
  }

  test("LENIENT behavior through the pipeline: rename surfaces as add, drop deferred") {
    val registry = new SchemaRegistry(SchemaChangeBehavior.Lenient)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    pipe.applySchemaChange(CreateTableEvent(usersId,
      CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").copy(primaryKeys = Seq("id"))))
    pipe.applySchemaChange(RenameColumnEvent(usersId, "name", "fullname"))
    // sink keeps the old column AND gains the new one
    assert(db.schemaOf(usersId).get.columnNames === Seq("id", "name", "fullname"))
    pipe.applySchemaChange(DropColumnEvent(usersId, "id"))
    assert(db.schemaOf(usersId).get.columnNames === Seq("id", "name", "fullname"))
  }

  test("continuous streaming over MemoryStream reaches the same final state") {
    implicit val sqlCtx = spark.sqlContext
    val registry = new SchemaRegistry(SchemaChangeBehavior.Evolve)
    val db = new ValuesDatabase
    val pipe = new StreamingPipeline(registry, sink = new ValuesSink(db))
    pipe.applySchemaChange(CreateTableEvent(usersId, usersSchema))

    val mem = MemoryStream[String]
    val ckpt = tempDir("graft-ckpt")
    val q = pipe.start(mem.toDF().withColumnRenamed("value", "value"), ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())

    mem.addData(
      dbz("c", 1, """{"id":1,"name":"a","age":20}"""),
      dbz("u", 2, """{"id":1,"name":"a2","age":21}"""),
      dbz("c", 3, """{"id":2,"name":"b","age":30}"""),
      dbz("d", 4, """{"id":2,"name":"b","age":30}"""))
    q.processAllAvailable()
    q.stop()

    assert(db.results(usersId).map(_.toList) === Seq(List(1L, "a2", 21)))
  }
}
