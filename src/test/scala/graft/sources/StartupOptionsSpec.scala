package graft.sources

import graft.SparkSpec

class StartupOptionsSpec extends SparkSpec {
  import spark.implicits._

  private def feed = Seq(
    """{"before":null,"after":{"id":1},"op":"c","ts_ms":10,"source":{"db":"d","table":"t"}}""",
    """{"before":null,"after":{"id":2},"op":"c","ts_ms":20,"source":{"db":"d","table":"t"}}""",
    """{"before":null,"after":{"id":3},"op":"c","ts_ms":30,"source":{"db":"d","table":"t"}}""").toDF("value")

  private def count(m: StartupOptions.Mode, launch: Long = 0L): Long =
    StartupOptions(feed, m, launchPosition = launch).count()

  test("initial/earliest replay everything") {
    assert(count(StartupOptions.Initial) === 3)
    assert(count(StartupOptions.Earliest) === 3)
  }

  test("latest keeps only records after the launch position") {
    assert(count(StartupOptions.Latest, launch = 20L) === 1)
    assert(count(StartupOptions.Latest, launch = 30L) === 0)
  }

  test("timestamp is inclusive, specific-offset exclusive") {
    assert(count(StartupOptions.Timestamp(20L)) === 2)
    assert(count(StartupOptions.SpecificOffset(20L)) === 1)
  }

  test("option parsing covers the reference surface") {
    assert(StartupOptions.parse(Map.empty) === StartupOptions.Initial)
    assert(StartupOptions.parse(Map("scan.startup.mode" -> "earliest-offset")) === StartupOptions.Earliest)
    assert(StartupOptions.parse(Map("scan.startup.mode" -> "latest-offset")) === StartupOptions.Latest)
    assert(StartupOptions.parse(Map(
      "scan.startup.mode" -> "timestamp", "scan.startup.timestamp-ms" -> "99")) ===
      StartupOptions.Timestamp(99L))
    assert(StartupOptions.parse(Map(
      "scan.startup.mode" -> "specific-offset", "scan.startup.specific-offset" -> "7")) ===
      StartupOptions.SpecificOffset(7L))
    intercept[IllegalArgumentException](StartupOptions.parse(Map("scan.startup.mode" -> "bogus")))
  }

  test("latest mode through the streaming CLI skips the pre-launch backlog") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-startup-in")
    val out = tempDir("graft-startup-out")
    def line(id: Long, ts: Long) =
      s"""{"before":null,"after":{"id":$id,"name":"n$id"},"op":"c","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    // backlog written BEFORE launch — must be skipped by latest mode
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/backlog.json"),
      line(1, 10) + "\n" + line(2, 20) + "\n")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  scan.startup.mode: latest-offset
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 2
         |""".stripMargin)
    // first launch: anchors at the backlog position (ts 20), processes nothing
    val (_, s1, q1) = graft.Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    val sink1 = s1.asInstanceOf[graft.sinks.ParquetUpsertSink]
    q1.awaitTermination(60000)
    assert(!new java.io.File(sink1.tablePath(graft.model.TableId.of("db", "users"))).exists())
    // new data after launch; restart resumes from the PERSISTED anchor
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/new.json"),
      line(3, 30) + "\n")
    val (_, s2, q) = graft.Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    val sink = s2.asInstanceOf[graft.sinks.ParquetUpsertSink]
    q.awaitTermination(60000)
    val ids = sink.read(spark, graft.model.TableId.of("db", "users"))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids === Seq(3L))
  }
}
