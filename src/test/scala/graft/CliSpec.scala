package graft

import graft.model._
import graft.operators.{SchemaRegistry, TransformRule}
import graft.sinks.{ValuesDatabase, ValuesSink}
import graft.streaming.StreamingPipeline

class CliSpec extends SparkSpec {

  test("batch YAML pipeline via Cli writes parquet sink tables") {
    val out = tempDir("graft-cli")
    val yaml = java.nio.file.Paths.get(tempDir("graft-pipe"), "pipe.yaml")
    java.nio.file.Files.writeString(yaml,
      s"""source:
         |  type: parquet
         |  path: $sf
         |  schema-name: tpch
         |  tables: tpch.nation
         |transform:
         |  - source-table: tpch.nation
         |    projection: "n_nationkey, UPPER(n_name) AS n_name"
         |route:
         |  - source-table: tpch.nation
         |    sink-table: out.nations
         |sink:
         |  type: parquet
         |  path: $out
         |pipeline:
         |  name: cli-smoke
         |""".stripMargin)
    Cli.main(Array(yaml.toString))
    val written = spark.read.parquet(s"$out/out.nations".replace("out.nations", "out_nations"))
    assert(written.count() === 25)
    assert(written.columns.toSeq === Seq("n_nationkey", "n_name"))
  }

  test("driver-contract entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("streaming YAML pipeline: file feed, checkpointed restart resumes incrementally") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-dbz-in")
    val out = tempDir("graft-dbz-out")
    val yaml =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING, age INT"
         |transform:
         |  - source-table: db.users
         |    projection: "id, UPPER(name) AS name, age"
         |    primary-keys: id
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |""".stripMargin
    val p = PipelineDef.fromYaml(yaml)

    def dbzLine(op: String, ts: Long, payload: String) = {
      val (b, a) = if (op == "d") (payload, "null") else ("null", payload)
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      dbzLine("c", 1, """{"id":1,"name":"ann","age":30}""") + "\n" +
      dbzLine("c", 2, """{"id":2,"name":"bob","age":40}""") + "\n")

    val (_, s1, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    val sink = s1.asInstanceOf[graft.sinks.ParquetUpsertSink]
    q1.awaitTermination(60000)
    val users = TableId.of("db", "users")
    def state = sink.read(spark, users).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(state === Seq((1L, "ANN", 30), (2L, "BOB", 40)))

    // restart with a new file: checkpoint ensures only the new file processes
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      dbzLine("u", 3, """{"id":1,"name":"ann2","age":31}""") + "\n" +
      dbzLine("d", 4, """{"id":2,"name":"bob","age":40}""") + "\n")
    val (_, sink2, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(state === Seq((1L, "ANN2", 31)))
  }

  test("streaming corpus ingest: CLEAN_TEXT/TOKEN_COUNT quality gate inside the YAML transform") {
    // the training-data ingest shape: a document feed arrives as CDC events,
    // the transform cleans and gates text AT INGEST (corpus functions are
    // registered on the streaming path too), and only passing docs land
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-corpus-in")
    val out = tempDir("graft-corpus-out")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, text STRING"
         |transform:
         |  - source-table: corpus.docs
         |    projection: "id, CLEAN_TEXT(text) AS text, TOKEN_COUNT(text) AS n_tok"
         |    filter: "TOKEN_COUNT(text) >= 4"
         |    primary-keys: id
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 2
         |""".stripMargin)
    def doc(id: Int, text: String) =
      s"""{"before":null,"after":{"id":$id,"text":"$text"},"op":"c","ts_ms":$id,"source":{"db":"corpus","table":"docs"}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      doc(1, """long   enough document with ragged\tspacing""") + "\n" +
      doc(2, "too short") + "\n")
    val (_, sink, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q.awaitTermination(60000)
    val state = sink.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("corpus", "docs")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // doc 2 gated out; doc 1 cleaned (runs collapsed) and counted
    assert(state === Seq((1L, "long enough document with ragged spacing")))
  }

  test("monitor YAML block maintains a per-cell quantile sketch table across batches") {
    // the t-digest monitor as a pipeline asset: each micro-batch folds its
    // post-image values into the persisted per-cell sketch table via
    // mergeSketchTables — batch 2 exercises the incremental merge path,
    // DELETE rows contribute no observation
    import graft.pipeline.{PipelineDef, QuantileMonitor}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, expr}
    val in = tempDir("graft-mon-in")
    val out = tempDir("graft-mon-out")
    val mon = s"$out/docs_quality"
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, lang STRING, n_chars BIGINT"
         |transform:
         |  - source-table: corpus.docs
         |    primary-keys: id
         |monitor:
         |  - source-table: corpus.docs
         |    dims: lang
         |    value: n_chars
         |    path: $mon
         |sink:
         |  type: parquet-upsert
         |  path: $out/state
         |  buckets: 2
         |""".stripMargin)
    assert(p.monitors.map(m => (m.dims, m.value)) === Seq((Seq("lang"), "n_chars")))
    def doc(op: String, id: Int, lang: String, n: Int) = {
      val payload = s"""{"id":$id,"lang":"$lang","n_chars":$n}"""
      val (b, a) = if (op == "d") (payload, "null") else ("null", payload)
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$id,"source":{"db":"corpus","table":"docs"}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc("c", 1, "en", 10), doc("c", 2, "en", 20),
          doc("c", 3, "fr", 100), doc("c", 4, "fr", 200)).mkString("", "\n", "\n"))
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    def weights = QuantileMonitor.read(spark, mon)
      .select(col("lang"),
        expr("aggregate(sketch.weights, 0D, (a, x) -> a + x)").as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(weights === Map("en" -> 2.0, "fr" -> 2.0))

    // batch 2: more en, a NEW cell (de), and an fr DELETE (no observation)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc("c", 5, "en", 30), doc("c", 6, "en", 40),
          doc("c", 7, "de", 7), doc("d", 3, "fr", 100)).mkString("", "\n", "\n"))
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(weights === Map("en" -> 4.0, "fr" -> 2.0, "de" -> 1.0))
    val est = graft.ops.QuantileSketch.estimate(
        QuantileMonitor.read(spark, mon), Seq("lang"), Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(est("de") === 7.0) // single observation: exact
    assert(est("en") >= 20.0 && est("en") <= 30.0, s"en p50 ${est("en")}")
    // the live epoch plus ONE reader-grace epoch remain on disk
    val ls = new java.io.File(mon).listFiles().map(_.getName).toSet - "_manifest"
    assert(ls === Set("epoch_0", "epoch_1"), ls.toString)
    // a third fold drops epoch_0 (grace window is exactly one epoch)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b3.json"),
      doc("c", 8, "en", 50) + "\n")
    val (_, _, q3) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q3.awaitTermination(60000)
    assert(weights("en") === 5.0)
    val ls3 = new java.io.File(mon).listFiles().map(_.getName).toSet - "_manifest"
    assert(ls3 === Set("epoch_1", "epoch_2"), ls3.toString)
  }

  test("curate YAML block maintains a budget-histogram asset; budget-select runs off it") {
    // the curation tier through the reference's primary entry point: each
    // micro-batch folds its post-image (score, tokens) histogram into the
    // persisted asset (batch 2 exercises the incremental fold), and the
    // budget-select read surface returns the exact (score desc, id) budget
    // prefix over the sink's materialized state with the cutoff resolved
    // off the asset — no corpus re-scan, no Scala
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-cur-in")
    val out = tempDir("graft-cur-out")
    val asset = s"$out/budget_hist"
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, n_chars BIGINT, tok BIGINT"
         |transform:
         |  - source-table: corpus.docs
         |    primary-keys: id
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: "CAST(n_chars AS DOUBLE) / tok"
         |    tokens: tok
         |    path: $asset
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |sink:
         |  type: parquet-upsert
         |  path: $out/state
         |  buckets: 2
         |""".stripMargin)
    assert(p.curations.map(c => (c.idColumn, c.tokens, c.bins)) ===
      Seq(("id", "tok", 8)))
    def doc(id: Int, nChars: Int, tok: Int) =
      s"""{"before":null,"after":{"id":$id,"n_chars":$nChars,"tok":$tok},""" +
        s""""op":"c","ts_ms":$id,"source":{"db":"corpus","table":"docs"}}"""
    // scores: id1=8.0, id2=4.0, id3=2.0, id4=1.0 — tokens 10 each
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc(1, 80, 10), doc(2, 40, 10), doc(3, 20, 10), doc(4, 10, 10))
        .mkString("", "\n", "\n"))
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    def selected(budget: Long): Seq[Long] =
      Cli.budgetSelect(spark, p, "corpus.docs", budget)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(selected(25L) === Seq(1L, 2L)) // 10 + 10 fit, doc 3 overflows
    assert(selected(1000L) === Seq(1L, 2L, 3L, 4L))
    // batch 2: a better-scored doc (id5=16.0) and one tying doc 3's score
    // (id6=2.0 — id breaks the tie, doc 3 wins) fold INCREMENTALLY
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc(5, 160, 10), doc(6, 30, 15)).mkString("", "\n", "\n"))
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(selected(35L) === Seq(1L, 2L, 5L)) // new best first: 5,1,2 = 30
    assert(selected(45L) === Seq(1L, 2L, 3L, 5L)) // tie at 2.0 → id 3 < 6
    assert(selected(65L) === Seq(1L, 2L, 3L, 4L, 5L, 6L)) // Σ tokens = 65
    // the asset folded per batch: live + one grace epoch, declaration rows
    val live = graft.ops.EpochStore.currentEpoch(spark, asset)
    assert(live.exists(_.endsWith("epoch_1")), live.toString)
    // a selection against a table no curate block matches refuses loudly
    val err = intercept[IllegalArgumentException] {
      Cli.budgetSelect(spark, p, "corpus.other", 10L)
    }
    assert(err.getMessage.contains("no curate block"))
  }

  test("curate retract: true folds deletes as exact negations (takedown-exact selection)") {
    // the CDC DELETE's before-image carries the original columns, so the
    // retraction recomputes exactly what the insert contributed and the
    // asset tracks the SURVIVING upsert state — budget-select stays the
    // exact prefix over what remains after takedowns
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-ret-in")
    val out = tempDir("graft-ret-out")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, n_chars BIGINT, tok BIGINT"
         |transform:
         |  - source-table: corpus.docs
         |    primary-keys: id
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: "CAST(n_chars AS DOUBLE) / tok"
         |    tokens: tok
         |    path: $out/hist
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |    retract: true
         |sink:
         |  type: parquet-upsert
         |  path: $out/state
         |  buckets: 2
         |""".stripMargin)
    def rec(op: String, id: Int, nChars: Int, tok: Int) = {
      val payload = s"""{"id":$id,"n_chars":$nChars,"tok":$tok}"""
      val (b, a) = if (op == "d") (payload, "null") else ("null", payload)
      s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$id,"source":{"db":"corpus","table":"docs"}}"""
    }
    // scores: id1=8.0, id2=4.0, id3=2.0, id4=1.0 — tokens 10 each
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(rec("c", 1, 80, 10), rec("c", 2, 40, 10),
          rec("c", 3, 20, 10), rec("c", 4, 10, 10)).mkString("", "\n", "\n"))
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    def selected(budget: Long): Seq[Long] =
      Cli.budgetSelect(spark, p, "corpus.docs", budget)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(selected(25L) === Seq(1L, 2L))
    // takedown: the BEST doc (id1) is deleted; its before-image retracts
    // its 10 tokens from the top bin, so the budget line now reaches id3
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      rec("d", 1, 80, 10) + "\n")
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(selected(25L) === Seq(2L, 3L),
      "retraction must free the deleted doc's budget for survivors")
    assert(selected(1000L) === Seq(2L, 3L, 4L))
    // the histogram nets to the survivors' exact token total
    val toks = spark.read
      .parquet(graft.ops.EpochStore.currentEpoch(spark, s"$out/hist").get)
      .agg(org.apache.spark.sql.functions.sum("toks")).head().getLong(0)
    assert(toks === 30L)
  }

  test("curate retract: in-place updates fold (-before, +after) — selection stays exact") {
    // the r15 drift (ADVICE medium): an in-place UPDATE changing score AND
    // tokens used to fold only its after-image positively, accumulating on
    // every update. The Debezium 'u' envelope carries both images; the
    // pipeline now emits an UPDATE_BEFORE retraction row for the fold (and
    // strips it before the materializing sink), so budget-select remains
    // the exact prefix over the survivors at their CURRENT values
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-upd-in")
    val out = tempDir("graft-upd-out")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, n_chars BIGINT, tok BIGINT"
         |transform:
         |  - source-table: corpus.docs
         |    primary-keys: id
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: "CAST(n_chars AS DOUBLE) / tok"
         |    tokens: tok
         |    path: $out/hist
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |    retract: true
         |sink:
         |  type: parquet-upsert
         |  path: $out/state
         |  buckets: 2
         |""".stripMargin)
    def ins(id: Int, nChars: Int, tok: Int) =
      s"""{"before":null,"after":{"id":$id,"n_chars":$nChars,"tok":$tok},""" +
        s""""op":"c","ts_ms":$id,"source":{"db":"corpus","table":"docs"}}"""
    def upd(id: Int, bChars: Int, bTok: Int, aChars: Int, aTok: Int, ts: Int) =
      s"""{"before":{"id":$id,"n_chars":$bChars,"tok":$bTok},""" +
        s""""after":{"id":$id,"n_chars":$aChars,"tok":$aTok},""" +
        s""""op":"u","ts_ms":$ts,"source":{"db":"corpus","table":"docs"}}"""
    // scores: id1=8.0, id2=4.0, id3=2.0, id4=1.0 — tokens 10 each
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(ins(1, 80, 10), ins(2, 40, 10), ins(3, 20, 10), ins(4, 10, 10))
        .mkString("", "\n", "\n"))
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    def selected(budget: Long): Seq[Long] =
      Cli.budgetSelect(spark, p, "corpus.docs", budget)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(selected(25L) === Seq(1L, 2L))
    // in-place updates change BOTH score and tokens: id1 (8.0, 10 toks) →
    // (0.2, 25 toks) demotes to last; id2 (4.0, 10) → (8.0, 15) promotes
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(upd(1, 80, 10, 5, 25, 101), upd(2, 40, 10, 120, 15, 102))
        .mkString("", "\n", "\n"))
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    // naive order over the survivors' CURRENT values:
    //   id2 (8.0, 15), id3 (2.0, 10), id4 (1.0, 10), id1 (0.2, 25)
    assert(selected(20L) === Seq(2L), "id3 (10 toks) must overflow 20")
    assert(selected(25L) === Seq(2L, 3L),
      "selection must use the UPDATED score/tokens, not the accumulated offers")
    assert(selected(35L) === Seq(2L, 3L, 4L))
    assert(selected(60L) === Seq(1L, 2L, 3L, 4L)) // exact total = 60
    // the asset nets to the survivors' exact token total with no
    // net-negative bins (the pair-fold retracted each superseded image)
    val hist = spark.read
      .parquet(graft.ops.EpochStore.currentEpoch(spark, s"$out/hist").get)
      .select("bin", "toks").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hist.map(_._2).sum === 60L, hist.mkString(", "))
    assert(hist.forall(_._2 >= 0L), s"net-negative bin: ${hist.mkString(", ")}")
    // the sink's materialized state carries the after-images exactly once
    val state = new graft.sinks.ParquetUpsertSink(s"$out/state")
      .read(spark, graft.model.TableId.of("corpus", "docs"))
      .select("id", "n_chars", "tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(state.toSeq === Seq((1L, 5L, 25L), (2L, 120L, 15L),
      (3L, 20L, 10L), (4L, 10L, 10L)))
  }

  test("monitor + retracting curate in one stream: UPDATE_BEFORE feeds only the curate fold") {
    // one decorator folds both asset kinds: the retract block turns on the
    // (-before, +after) pair emission, the before-image must reach the
    // curate fold and neither the monitor nor the materializing sink
    import graft.pipeline.{PipelineDef, QuantileMonitor}
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-moncur-in")
    val out = tempDir("graft-moncur-out")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, lang STRING, n_chars BIGINT, tok BIGINT"
         |transform:
         |  - source-table: corpus.docs
         |    primary-keys: id
         |monitor:
         |  - source-table: corpus.docs
         |    dims: lang
         |    value: n_chars
         |    path: $out/mon
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: "CAST(n_chars AS DOUBLE) / tok"
         |    tokens: tok
         |    path: $out/hist
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |    retract: true
         |sink:
         |  type: parquet-upsert
         |  path: $out/state
         |  buckets: 2
         |""".stripMargin)
    def img(id: Int, lang: String, nChars: Int, tok: Int) =
      s"""{"id":$id,"lang":"$lang","n_chars":$nChars,"tok":$tok}"""
    def ev(op: String, before: String, after: String, ts: Int) =
      s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$ts,""" +
        s""""source":{"db":"corpus","table":"docs"}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(ev("c", "null", img(1, "en", 80, 10), 1),
          ev("c", "null", img(2, "en", 40, 10), 2),
          ev("c", "null", img(3, "fr", 20, 10), 3)).mkString("", "\n", "\n"))
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    // in-place update of id 1: score and tokens both change
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      ev("u", img(1, "en", 80, 10), img(1, "en", 5, 25), 101) + "\n")
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    // the monitor observed four post-images (three inserts, one update);
    // a leaked UPDATE_BEFORE would have made en 4.0
    val weights = QuantileMonitor.read(spark, s"$out/mon")
      .select(col("lang"),
        expr("aggregate(sketch.weights, 0D, (a, x) -> a + x)").as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(weights === Map("en" -> 3.0, "fr" -> 1.0))
    // the curate fold retracted the before-image: 30 - 10 + 25
    val check = Cli.curateCheck(spark, p, "corpus.docs").collect()
    assert(check.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((45L, 45L, true)))
    val state = new graft.sinks.ParquetUpsertSink(s"$out/state")
      .read(spark, graft.model.TableId.of("corpus", "docs"))
      .select("id", "lang", "n_chars", "tok").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(state.toSeq === Seq((1L, "en", 5L, 25L), (2L, "en", 40L, 10L),
      (3L, "fr", 20L, 10L)))
  }

  test("batch curate REBUILDS the asset per run: a pipeline re-run is idempotent") {
    // the batch composer re-materializes the complete table each run, so
    // the asset must describe exactly it — an accumulate here would
    // double the histogram on re-run and silently corrupt the selection's
    // seed arithmetic (worse than the monitor's visible doubled n_obs)
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-cur-batch")
    Seq((1L, 8.0, 10L), (2L, 4.0, 10L), (3L, 2.0, 10L))
      .toDF("id", "score", "tok").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: score
         |    tokens: tok
         |    path: $root/hist
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    Cli.runBatch(spark, p)
    def selected(budget: Long): Seq[Long] =
      Cli.budgetSelect(spark, p, "corpus.docs", budget)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(selected(25L) === Seq(1L, 2L))
    // the re-run (same source, same yaml) must leave the selection exact —
    // an accumulated histogram would seed the window with doubled sums
    Cli.runBatch(spark, p)
    assert(selected(25L) === Seq(1L, 2L))
    assert(selected(1000L) === Seq(1L, 2L, 3L))
    val toks = spark.read
      .parquet(graft.ops.EpochStore.currentEpoch(spark, s"$root/hist").get)
      .agg(org.apache.spark.sql.functions.sum("toks")).head().getLong(0)
    assert(toks === 30L, "batch re-run accumulated the histogram")
  }

  test("curate-check: asset vs table token mass — consistent after a fold, loud on drift") {
    // the drift audit: equal totals when every offer folded exactly; a
    // table mutated behind the asset's back (the unpaired-retraction /
    // mixed-maintainer shape) flips consistent to false
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-cur-check")
    Seq((1L, 8.0, 10L), (2L, 4.0, 10L), (3L, 2.0, 10L))
      .toDF("id", "score", "tok").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: score
         |    tokens: tok
         |    path: $root/hist
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    Cli.runBatch(spark, p)
    val ok = Cli.curateCheck(spark, p, "corpus.docs").collect()
    assert(ok.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((30L, 30L, true)))
    // mutate the materialized table behind the asset's back — the audit
    // must surface the drift mechanically
    Seq((4L, 1.0, 12L)).toDF("id", "score", "tok")
      .write.mode("append").parquet(s"$root/out/corpus_docs")
    val drifted = Cli.curateCheck(spark, p, "corpus.docs").collect()
    assert(drifted.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((30L, 42L, false)))
    // no block matches → loud refusal, like budget-select
    val e = intercept[IllegalArgumentException] {
      Cli.curateCheck(spark, p, "corpus.other")
    }
    assert(e.getMessage.contains("no curate block"))
  }

  test("curate-check: negative-token rows sit outside the unsigned fold AND the table leg") {
    // budgetBase(signed=false) — the batch rebuild and every grow-only
    // fold — excludes negative-token rows; the audit's table leg must
    // replicate that filter, or a row whose tokens expression evaluates
    // negative reads as drift when the fold behaved exactly as designed
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-cur-neg")
    Seq((1L, 8.0, 10L), (2L, 4.0, 10L), (3L, 2.0, -5L))
      .toDF("id", "score", "tok").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |curate:
         |  - source-table: corpus.docs
         |    id-column: id
         |    score: score
         |    tokens: tok
         |    path: $root/hist
         |    lo: 0.0
         |    hi: 64.0
         |    bins: 8
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    Cli.runBatch(spark, p)
    val ok = Cli.curateCheck(spark, p, "corpus.docs").collect()
    assert(ok.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ===
      Seq((20L, 20L, true)))
  }

  test("split YAML block: split-select reads leakage-free named splits of the sink table") {
    // the split: block through the batch pipeline — a deterministic
    // md5-band partition of the materialized sink table, keyed on a GROUP
    // expression so every member of a group lands in one split
    // (leakage-free by key), with no maintained asset: re-reads, re-runs,
    // and appends recompute the same membership
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-split-sel")
    // 40 docs over 10 groups (4 docs per group g0..g9)
    (0L until 40L).map(i => (i, s"g${i % 10}", i * 3))
      .toDF("id", "grp", "n_chars").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |split:
         |  - source-table: corpus.docs
         |    key: grp
         |    splits: "train:0.6,valid:0.2,test:0.2"
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    assert(p.splits.map(s => (s.key, s.weights)) ===
      Seq(("grp", Seq("train" -> 0.6, "valid" -> 0.2, "test" -> 0.2))))
    Cli.runBatch(spark, p)
    def part(name: String): Seq[(Long, String)] =
      Cli.splitSelect(spark, p, "corpus.docs", name)
        .select("id", "grp").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val (tr, va, te) = (part("train"), part("valid"), part("test"))
    // disjoint and exhaustive over the materialized table
    assert(tr.size + va.size + te.size === 40)
    assert((tr.map(_._1) ++ va.map(_._1) ++ te.map(_._1)).distinct.size === 40)
    assert(va.nonEmpty && te.nonEmpty, s"valid=${va.size} test=${te.size}")
    // leakage-free: a group's docs are never divided across splits
    val byGroup = (tr.map(_._2 -> "train") ++ va.map(_._2 -> "valid") ++
      te.map(_._2 -> "test")).groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(byGroup.values.forall(_.size === 1),
      s"group split across bands: ${byGroup.filter(_._2.size > 1)}")
    // deterministic: a re-read returns the identical membership
    assert(part("valid") === va)
    // undeclared split name refuses (a typo must not return empty)
    val e = intercept[IllegalArgumentException] {
      Cli.splitSelect(spark, p, "corpus.docs", "dev")
    }
    assert(e.getMessage.contains("unknown split"))
    // no block matches → loud refusal, like budget-select
    val e2 = intercept[IllegalArgumentException] {
      Cli.splitSelect(spark, p, "corpus.other", "train")
    }
    assert(e2.getMessage.contains("no split block"))
  }

  test("overlapping split/sample/mix blocks: the FIRST matching block in declared order wins") {
    // the reference's transform semantics are first-match; the selection
    // read surfaces (p.splits.find / p.samples.find / p.mixes.find) must
    // pin the same precedence — each second block here would yield a
    // strictly smaller selection, so full-count equality proves the
    // declared order won
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-first-match")
    (0L until 20L).map(i => (i, if (i < 4) "a" else "b"))
      .toDF("id", "src").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |split:
         |  - source-table: corpus.docs
         |    key: id
         |    splits: "train:1.0"
         |  - source-table: corpus.docs
         |    key: id
         |    splits: "train:0.5,rest:0.5"
         |sample:
         |  - source-table: corpus.docs
         |    key: id
         |    rate: 1.0
         |  - source-table: corpus.docs
         |    key: id
         |    rate: 0.0
         |mix:
         |  - source-table: corpus.docs
         |    key: id
         |    stratum: src
         |    alpha: 1.0
         |  - source-table: corpus.docs
         |    key: id
         |    stratum: src
         |    alpha: 0.05
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    Cli.runBatch(spark, p)
    // first split block: the single band holds every row; the second
    // block's 0.5 band would not
    assert(Cli.splitSelect(spark, p, "corpus.docs", "train").count() === 20L)
    // first sample block keeps everything; the second keeps nothing
    assert(Cli.sampleSelect(spark, p, "corpus.docs").count() === 20L)
    // first mix block (alpha 1) keeps the natural mix whole; the second
    // (alpha 0.05 over a 4:16 skew) would downsample the b stratum
    assert(Cli.mixSelect(spark, p, "corpus.docs").count() === 20L)
  }

  test("split block validation: weights must be named, positive, and sum to 1") {
    import graft.pipeline.PipelineDef
    def yamlWith(body: String) =
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |split:
         |  - $body
         |sink:
         |  type: values
         |""".stripMargin
    val e1 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("key: id"))
    }
    assert(e1.getMessage.contains("`splits`"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("key: id\n    splits: \"train:0.6,valid:0.2\""))
    }
    assert(e2.getMessage.contains("sum to 1"))
    val e3 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("key: id\n    splits: \"train:0.8,train:0.2\""))
    }
    assert(e3.getMessage.contains("unique"))
    val e4 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("splits: \"train:1.0\""))
    }
    assert(e4.getMessage.contains("`key`"))
    val e5 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("key: id\n    splits: \"train=1.0\""))
    }
    assert(e5.getMessage.contains("name:number"))
  }

  test("sample YAML block: sample-select reads the deterministic stratified sample") {
    // the sample: block through the batch pipeline — per-stratum
    // md5-threshold membership over the materialized sink table, no
    // asset: re-reads recompute the same subset
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-sample-sel")
    (0L until 60L).map(i => (i, s"s${i % 3}"))
      .toDF("id", "src").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |sample:
         |  - source-table: corpus.docs
         |    key: id
         |    stratum: src
         |    rates: "s0:0.0,s1:1.0"
         |    default-rate: 0.5
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    assert(p.samples.map(s => (s.key, s.stratum, s.rates, s.defaultRate)) ===
      Seq(("id", Some("src"), Seq("s0" -> 0.0, "s1" -> 1.0), 0.5)))
    Cli.runBatch(spark, p)
    val kept = Cli.sampleSelect(spark, p, "corpus.docs")
      .select("id", "src").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    // rate-0 stratum drops entirely; rate-1 stratum survives whole
    assert(kept.count(_._2 == "s0") === 0)
    assert(kept.count(_._2 == "s1") === 20)
    // the default-rate stratum keeps the md5-threshold subset — a proper
    // nonempty subset, and exactly the operator's own keep set
    val s2 = kept.filter(_._2 == "s2").map(_._1)
    assert(s2.nonEmpty && s2.size < 20, s"s2 kept ${s2.size}")
    val direct = graft.ops.Sampling.hashSample(
      (0L until 60L).filter(_ % 3 == 2).toDF("id"),
      org.apache.spark.sql.functions.col("id"), 0.5)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(s2.toSeq === direct)
    // deterministic: a re-read returns identical membership
    assert(Cli.sampleSelect(spark, p, "corpus.docs")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted === kept.map(_._1))
    // no block matches → loud refusal, like split-select
    val e = intercept[IllegalArgumentException] {
      Cli.sampleSelect(spark, p, "corpus.other")
    }
    assert(e.getMessage.contains("no sample block"))
  }

  test("sample YAML block: uniform rate samples without a stratum") {
    // the `rate:`-only shape — one md5 threshold over the whole table
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-sample-uni")
    (0L until 100L).map(i => (i, i * 2)).toDF("id", "n")
      .write.mode("overwrite").parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |sample:
         |  - source-table: corpus.docs
         |    key: id
         |    rate: 0.5
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    assert(p.samples.map(s => (s.key, s.rate, s.stratum)) ===
      Seq(("id", Some(0.5), None)))
    Cli.runBatch(spark, p)
    val kept = Cli.sampleSelect(spark, p, "corpus.docs")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val direct = graft.ops.Sampling.hashSample(
      (0L until 100L).toDF("id"),
      org.apache.spark.sql.functions.col("id"), 0.5)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept === direct)
    assert(kept.nonEmpty && kept.size < 100, s"kept ${kept.size}")
  }

  test("mix YAML block: mix-select derives temperature rates from the live table") {
    // counts 40/10 at T=2 (alpha 0.5): weights 2/3, 1/3 exactly; budget
    // min(60, 30) = 30 → s1 (binding) kept whole, s0 at rate 0.5 — the
    // q_mix_temperature arithmetic through the YAML read surface
    import graft.pipeline.PipelineDef
    import spark.implicits._
    val root = tempDir("graft-mix-sel")
    ((0L until 40L).map(i => (i, "s0")) ++ (40L until 50L).map(i => (i, "s1")))
      .toDF("id", "src").write.mode("overwrite")
      .parquet(s"$root/src/docs.parquet")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $root/src
         |  schema-name: corpus
         |  tables: corpus.docs
         |mix:
         |  - source-table: corpus.docs
         |    key: id
         |    stratum: src
         |    temperature: 2.0
         |sink:
         |  type: parquet
         |  path: $root/out
         |""".stripMargin)
    assert(p.mixes.map(m => (m.key, m.stratum, m.alpha)) ===
      Seq(("id", "src", 0.5)))
    Cli.runBatch(spark, p)
    val kept = Cli.mixSelect(spark, p, "corpus.docs")
      .select("id", "src").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    // the binding stratum is kept whole
    assert(kept.count(_._2 == "s1") === 10)
    // the over-represented stratum downsamples to exactly rate 0.5's
    // md5-threshold subset
    val s0 = kept.filter(_._2 == "s0").map(_._1)
    val direct = graft.ops.Sampling.hashSample(
      (0L until 40L).toDF("id"),
      org.apache.spark.sql.functions.col("id"), 0.5)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(s0.toSeq === direct)
    // no block matches → loud refusal
    val e = intercept[IllegalArgumentException] {
      Cli.mixSelect(spark, p, "corpus.other")
    }
    assert(e.getMessage.contains("no mix block"))
  }

  test("sample and mix block validation refuses underspecified definitions") {
    import graft.pipeline.PipelineDef
    def sampleYaml(body: String) =
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |sample:
         |  - $body
         |sink:
         |  type: parquet
         |  path: /tmp/y
         |""".stripMargin
    def mixYaml(body: String) =
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |mix:
         |  - $body
         |sink:
         |  type: parquet
         |  path: /tmp/y
         |""".stripMargin
    // exactly one of rate | stratum
    val e1 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(sampleYaml("key: id"))
    }
    assert(e1.getMessage.contains("exactly one of `rate`"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(sampleYaml(
        "key: id\n    rate: 0.5\n    stratum: src\n    rates: \"a:0.1\""))
    }
    assert(e2.getMessage.contains("exactly one of `rate`"))
    // stratified needs rates; rates need stratum
    val e3 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(sampleYaml("key: id\n    stratum: src"))
    }
    assert(e3.getMessage.contains("needs `rates`"))
    val e4 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(sampleYaml("key: id\n    rate: 1.5"))
    }
    assert(e4.getMessage.contains("[0,1]"))
    val e5 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(sampleYaml("stratum: src\n    rates: \"a:0.5\""))
    }
    assert(e5.getMessage.contains("`key`"))
    // mix: alpha XOR temperature, both bounded
    val e6 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(mixYaml("key: id\n    stratum: src"))
    }
    assert(e6.getMessage.contains("exactly one of `alpha`"))
    val e7 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(mixYaml(
        "key: id\n    stratum: src\n    alpha: 0.5\n    temperature: 2.0"))
    }
    assert(e7.getMessage.contains("exactly one of `alpha`"))
    val e8 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(mixYaml("key: id\n    stratum: src\n    temperature: 0.5"))
    }
    assert(e8.getMessage.contains(">= 1"))
    val e9 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(mixYaml("key: id\n    stratum: src\n    alpha: 0.0"))
    }
    assert(e9.getMessage.contains("(0,1]"))
    // a uniform rate block has no unlisted strata — a supplied
    // default-rate would be parsed, validated, and silently unused;
    // refuse at definition time like every other meaningless combination
    val e10 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(sampleYaml(
        "key: id\n    rate: 0.5\n    default-rate: 0.75"))
    }
    assert(e10.getMessage.contains("default-rate"))
  }

  test("curate-show renders the asset's bins and pinned declaration") {
    import spark.implicits._
    val path = tempDir("graft-cshow")
    graft.ops.Sampling.appendBudgetHistogram(
      Seq((1L, 1.0, 5L), (2L, 9.0, 7L)).toDF("id", "score", "tok"),
      org.apache.spark.sql.functions.col("score"),
      org.apache.spark.sql.functions.col("tok"),
      path, lo = 0.0, hi = 10.0, bins = 4)
    val shown = Cli.curateShow(spark, path).collect()
    assert(shown.map(_.getLong(0)).toSeq === Seq(3L, 0L)) // bin desc
    assert(shown.map(_.getLong(1)).toSeq === Seq(7L, 5L))
    assert(shown.forall(r => r.getDouble(2) === 0.0 && r.getDouble(3) === 10.0
      && r.getInt(4) === 4))
    val err = intercept[IllegalArgumentException] {
      Cli.curateShow(spark, "/nonexistent/asset")
    }
    assert(err.getMessage.contains("no budget-histogram asset"))
  }

  test("budget-select refuses a values sink (nothing materialized to select from)") {
    import graft.pipeline.PipelineDef
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |curate:
         |  - id-column: id
         |    score: s
         |    tokens: t
         |    path: /tmp/x/hist
         |    lo: 0.0
         |    hi: 1.0
         |sink:
         |  type: values
         |""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      Cli.budgetSelect(spark, p, "db.t", 10L)
    }
    assert(err.getMessage.contains("materializing sink"))
  }

  test("omitted source-table: monitor/curate match every table; transform/route refuse") {
    // the engine-side extension blocks keep the \.* convenience default
    // (a literal ".*" would split on the unescaped dot into the invalid
    // part-regex "*" and throw on first match); transform and route
    // REQUIRE source-table at parse time like the reference's
    // YamlPipelineDefinitionParser — a forgotten selector silently
    // projecting every table is worse than a parse error
    import graft.pipeline.PipelineDef
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |monitor:
         |  - value: v
         |    path: /tmp/x/m
         |curate:
         |  - id-column: id
         |    score: s
         |    tokens: t
         |    path: /tmp/x/h
         |    lo: 0.0
         |    hi: 1.0
         |sink:
         |  type: values
         |""".stripMargin)
    for (id <- Seq(TableId.of("db", "sch", "t1"), TableId.of("sch", "t2"),
        TableId.parse("t3"))) {
      assert(p.monitors.head.selectors.matches(id), s"monitor vs $id")
      assert(p.curations.head.selectors.matches(id), s"curate vs $id")
    }
    def yamlWith(block: String) =
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |$block
         |sink:
         |  type: values
         |""".stripMargin
    val e1 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("transform:\n  - projection: \"*\""))
    }
    assert(e1.getMessage.contains("source-table") &&
      e1.getMessage.contains("transform"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yamlWith("route:\n  - source-table: db.t"))
    }
    assert(e2.getMessage.contains("sink-table") && e2.getMessage.contains("route"))
  }

  test("curate block validation: missing keys and bad ranges refuse at parse time") {
    import graft.pipeline.PipelineDef
    def yamlWith(body: String) =
      s"""source:
         |  type: parquet
         |  path: /tmp/x
         |curate:
         |  - $body
         |sink:
         |  type: values
         |""".stripMargin
    val e1 = intercept[IllegalArgumentException] { PipelineDef.fromYaml(yamlWith(
      "id-column: id\n    score: s\n    tokens: t\n    lo: 0.0\n    hi: 1.0")) }
    assert(e1.getMessage.contains("`path`"))
    val e2 = intercept[IllegalArgumentException] { PipelineDef.fromYaml(yamlWith(
      "id-column: id\n    score: s\n    tokens: t\n    path: /tmp/h\n    lo: 2.0\n    hi: 1.0")) }
    assert(e2.getMessage.contains("hi > lo"))
  }

  test("pipeline trigger: available-now drains the backlog through Cli.main and exits") {
    // the backfill / scheduled-catch-up operating mode: Cli.main on a
    // streaming YAML must TERMINATE once the backlog drains (the default
    // ProcessingTime loop awaits forever); unknown trigger values refuse
    import graft.pipeline.PipelineDef
    val in = tempDir("graft-drain-in")
    val out = tempDir("graft-drain-out")
    def yaml(trigger: String) =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |transform:
         |  - source-table: db.users
         |    primary-keys: id
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 2
         |pipeline:
         |  name: drain-e2e
         |  trigger: $trigger
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n")
    val y = java.nio.file.Paths.get(tempDir("graft-drain"), "drain.yaml")
    java.nio.file.Files.writeString(y, yaml("available-now"))
    Cli.main(Array(y.toString)) // returns only because the trigger drains
    val sink = new graft.sinks.ParquetUpsertSink(out, buckets = 2)
    assert(sink.read(spark, TableId.of("db", "users")).count() === 1)
    val err = intercept[IllegalArgumentException] {
      PipelineDef.fromYaml(yaml("sometimes"))
      java.nio.file.Files.writeString(y, yaml("sometimes"))
      Cli.main(Array(y.toString))
    }
    assert(err.getMessage.contains("available-now"))
  }

  test("a YAML without `buckets` pins the layout to the session's parallelism; a restart keeps it") {
    import graft.pipeline.PipelineDef
    import graft.sinks.ParquetUpsertSink
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-layout-in")
    val out = tempDir("graft-layout-out")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |transform:
         |  - source-table: db.users
         |    primary-keys: id
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |""".stripMargin)
    def feed(file: String, ids: Seq[Int]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/$file"), ids.map(i =>
        s"""{"before":null,"after":{"id":$i,"name":"u$i"},"op":"c","ts_ms":$i,"source":{"db":"db","table":"users"}}"""
      ).mkString("", "\n", "\n"))
    val users = TableId.of("db", "users")
    val cores = spark.sparkContext.defaultParallelism
    feed("b1.json", 1 to 2)
    val (_, s1, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    val sink = s1.asInstanceOf[ParquetUpsertSink]
    def layout = sink.manifest(spark, users).get.buckets
    def bucketIds = sink.manifest(spark, users).get.live.keySet
    assert(layout === cores, "a 2-row first batch derives one bucket per core")

    // restart with a batch that would derive more buckets on its own: the
    // pinned layout wins over a re-derivation
    spark.conf.set(ParquetUpsertSink.RowsPerBucketConf, "1")
    try {
      feed("b2.json", 3 to cores + 10)
      val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q2.awaitTermination(60000)
    } finally spark.conf.unset(ParquetUpsertSink.RowsPerBucketConf)
    assert(layout === cores)
    assert(bucketIds.nonEmpty && bucketIds.forall(_ < cores))
    assert(sink.read(spark, users).count() === cores + 10)
  }

  test("`buckets: 0` is refused at parse: the unbucketed layout was removed") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-b0-in")
    val out = tempDir("graft-b0-out")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 0
         |""".stripMargin)
    val e = intercept[IllegalArgumentException](Cli.buildStreaming(spark, p, Trigger.AvailableNow()))
    assert(e.getMessage.contains("`buckets: 0`") && e.getMessage.contains("removed"), e.getMessage)
  }

  test("routed multi-monitor pipeline folds both assets concurrently; monitor-show renders each") {
    // TWO monitor: blocks on a routed 2-table pipeline with
    // table-parallelism — the per-table slices process on separate
    // threads, so the two folds run CONCURRENTLY under the per-path lock
    // striping (distinct paths must not convoy, same path must
    // serialize), and the read surface renders each asset afterwards.
    // Monitors match the post-route (sink-side) table ids, the id the
    // AssetFoldSink decorator observes.
    import graft.pipeline.{PipelineDef, QuantileMonitor}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.{col, expr}
    val in = tempDir("graft-mon2-in")
    val out = tempDir("graft-mon2-out")
    val monDocs = s"$out/docs_len"
    val monImgs = s"$out/imgs_px"
    def ev(table: String, id: Int, payload: String) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$id,"source":{"db":"corpus","table":"$table"}}"""
    def doc(id: Int, lang: String, n: Int) =
      ev("docs", id, s"""{"id":$id,"lang":"$lang","n_chars":$n}""")
    def img(id: Int, fmt: String, px: Int) =
      ev("imgs", id, s"""{"id":$id,"fmt":"$fmt","px":$px}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(doc(1, "en", 10), doc(2, "en", 20), doc(3, "fr", 100),
          img(1, "png", 100), img(2, "png", 300), img(3, "jpg", 50))
        .mkString("", "\n", "\n"))
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.corpus.docs: "id BIGINT, lang STRING, n_chars BIGINT"
         |  schema.corpus.imgs: "id BIGINT, fmt STRING, px BIGINT"
         |transform:
         |  - source-table: corpus.docs
         |    primary-keys: id
         |  - source-table: corpus.imgs
         |    primary-keys: id
         |route:
         |  - source-table: corpus.docs
         |    sink-table: warehouse.docs
         |  - source-table: corpus.imgs
         |    sink-table: warehouse.imgs
         |monitor:
         |  - source-table: warehouse.docs
         |    dims: lang
         |    value: n_chars
         |    path: $monDocs
         |  - source-table: warehouse.imgs
         |    dims: fmt
         |    value: px
         |    path: $monImgs
         |sink:
         |  type: parquet-upsert
         |  path: $out/state
         |  buckets: 2
         |pipeline:
         |  name: multi-monitor-e2e
         |  table-parallelism: 2
         |""".stripMargin)
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    def weights(mon: String, dim: String) = QuantileMonitor.read(spark, mon)
      .select(col(dim),
        expr("aggregate(sketch.weights, 0D, (a, x) -> a + x)").as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(weights(monDocs, "lang") === Map("en" -> 2.0, "fr" -> 1.0))
    assert(weights(monImgs, "fmt") === Map("png" -> 2.0, "jpg" -> 1.0))

    // wave 2 exercises BOTH incremental merge paths under the route again
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b2.json"),
      Seq(doc(4, "fr", 200), img(4, "jpg", 70)).mkString("", "\n", "\n"))
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(weights(monDocs, "lang") === Map("en" -> 2.0, "fr" -> 2.0))
    assert(weights(monImgs, "fmt") === Map("png" -> 2.0, "jpg" -> 2.0))

    // the read surface over each asset: exact per-cell n_obs next to the
    // rank-bounded estimate, one row per (cell, q)
    val shownDocs = Cli.monitorShow(spark, monDocs, Seq(0.5)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(shownDocs.map(t => (t._1, t._2)) === Seq(("en", 2L), ("fr", 2L)))
    val shownImgs = Cli.monitorShow(spark, monImgs, Seq(0.5)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(shownImgs.map(t => (t._1, t._2)) === Seq(("jpg", 2L), ("png", 2L)))
    val jpgP50 = shownImgs.find(_._1 == "jpg").get._3
    assert(jpgP50 >= 50.0 && jpgP50 <= 70.0, s"jpg p50 $jpgP50")
  }

  test("batch YAML pipeline folds its monitor once per run") {
    import graft.pipeline.QuantileMonitor
    import org.apache.spark.sql.functions.expr
    val out = tempDir("graft-monb")
    val yaml = java.nio.file.Paths.get(tempDir("graft-monb"), "monb.yaml")
    java.nio.file.Files.writeString(yaml,
      s"""source:
         |  type: parquet
         |  path: $sf
         |  schema-name: tpch
         |  tables: tpch.nation
         |monitor:
         |  - source-table: tpch.nation
         |    value: n_nationkey
         |    path: $out/mon
         |sink:
         |  type: parquet
         |  path: $out/sink
         |""".stripMargin)
    Cli.main(Array(yaml.toString))
    def w = QuantileMonitor.read(spark, s"$out/mon")
      .select(expr("aggregate(sketch.weights, 0D, (a, x) -> a + x)"))
      .head.getDouble(0)
    assert(w === 25.0)
    Cli.main(Array(yaml.toString)) // re-run: at-least-once fold, documented
    assert(w === 50.0)
  }

  test("monitor-show renders per-cell counts and quantile estimates from a sketch table") {
    // the asset's read surface: exact n_obs (the weight-conservation law)
    // next to the rank-error-bounded estimates, one row per (cell, q)
    import graft.pipeline.{MonitorDef, QuantileMonitor}
    import spark.implicits._
    val mon = tempDir("graft-mon-show") + "/m"
    val defs = Seq(MonitorDef("corpus.docs", Seq("lang"), "n_chars", mon))
    // the null-lang cell is a real cell (groupBy keeps the null group) —
    // the render must include it, not drop it the way an equi-join-back
    // on the dim columns silently would
    val batch = Seq(("en", 10L), ("en", 20L), ("en", 30L), ("fr", 5L),
        (null.asInstanceOf[String], 7L))
      .toDF("lang", "n_chars")
    QuantileMonitor.fold(spark, TableId.of("corpus", "docs"), batch, defs)
    val shown = Cli.monitorShow(spark, mon, Seq(0.5, 0.99)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    assert(shown.keySet.map(_._1) === Set("en", "fr", null))
    assert(shown((null, 1L, 0.5)) === 7.0) // null cell rendered, exact
    assert(shown((null, 1L, 0.99)) === 7.0)
    assert(shown.keySet.collect { case ("en", n, _) => n } === Set(3L))
    assert(shown(("fr", 1L, 0.5)) === 5.0) // single observation: exact
    assert(shown(("fr", 1L, 0.99)) === 5.0)
    val enP50 = shown(("en", 3L, 0.5))
    assert(enP50 >= 10.0 && enP50 <= 30.0, s"en p50 $enP50")
    assert(shown(("en", 3L, 0.99)) <= 30.0)
  }

  test("monitor dims colliding with reserved render/ledger columns refuse at definition time") {
    // a dim named q/est/n_obs would make monitor-show's render ambiguous,
    // one named sketch would corrupt the fold — loud refusal when the
    // MonitorDef is built, not mid-render (the replay ledger lives in the
    // asset's manifest, so no column name is reserved for it)
    for (bad <- Seq("q", "est", "n_obs", "sketch")) {
      val err = intercept[IllegalArgumentException] {
        graft.pipeline.MonitorDef("corpus.docs", Seq("lang", bad), "n_chars", "/tmp/x")
      }
      assert(err.getMessage.contains("reserved"), bad)
    }
  }

  test("pca-show renders the asset's spectrum; k clamps to the width") {
    // the PCA asset's read surface, symmetric with monitor-show: the
    // spectrum of everything folded so far, zero corpus scans
    import spark.implicits._
    val path = tempDir("graft-pca-show") + "/p"
    val rnd = new scala.util.Random(7)
    val df = (0 until 200).map { i =>
      (i.toLong, Seq(rnd.nextGaussian() * 9, rnd.nextGaussian() * 2,
        rnd.nextGaussian() * 0.5, rnd.nextGaussian() * 0.1).map(_.toFloat))
    }.toDF("id", "vec")
    graft.ops.Pca.appendStats(df, "vec", path)
    val rows = Cli.pcaShow(spark, path, k = 99).collect() // 99 clamps to d=4
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq) // desc eigenvalues
    assert(rows.map(_._3).toSeq === rows.map(_._3).sorted.toSeq) // cum share monotone
    assert(math.abs(rows.last._3 - 1.0) < 1e-9) // full-width report captures everything
    assert(Cli.pcaShow(spark, path, k = 2).collect().length === 2)
  }

  test("epoch-asset locks: alias spellings of one path share a lock, distinct paths don't") {
    // the single-writer guarantee is per ASSET, not per spelling: two
    // monitor: blocks naming the same directory differently must serialize
    // on one lock (or both could read live epoch N and race epoch_N+1),
    // while genuinely distinct paths must NOT convoy on a shared lock
    import graft.VersionedDir
    val dir = tempDir("graft-mon-lock")
    val a = VersionedDir.lockFor(spark, s"$dir/m")
    assert(VersionedDir.lockFor(spark, s"$dir/m/") eq a) // trailing slash
    assert(VersionedDir.lockFor(spark, s"$dir/./m") eq a) // dot segment
    assert(VersionedDir.lockFor(spark, s"file:$dir/m") eq a) // scheme-qualified
    assert(VersionedDir.lockFor(spark, s"$dir/other") ne a)
  }

  test("monitor folds are effectively-once under crash-replayed streaming batches") {
    // the replay ledger: each committed epoch records (batchId, folded
    // route legs) atomically with the digests; a foreachBatch retry
    // re-offers the same pair and is skipped, a DIFFERENT leg of the same
    // batch (N→1 route: same sink table, second source) still folds
    import graft.pipeline.{MonitorDef, QuantileMonitor}
    import graft.sinks.{BatchCtx, CdcSink}
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val mon = tempDir("graft-mon-replay") + "/m"
    val defs = Seq(MonitorDef("corpus.docs", Seq("lang"), "n_chars", mon))
    val noop = new CdcSink {
      override def write(id: TableId, changelog: org.apache.spark.sql.DataFrame,
                         schema: CdcSchema): Unit = ()
    }
    val sink = new graft.pipeline.AssetFoldSink(noop, spark, defs, Nil)
    val id = TableId.of("corpus", "docs")
    val schema = CdcSchema.of("lang" -> "STRING", "n_chars" -> "BIGINT")
    def slice(rows: (String, Long)*) = rows.toSeq.toDF("lang", "n_chars")
      .withColumn(operators.Changelog.OpCol, expr("'INSERT'"))
    def weights = QuantileMonitor.read(spark, mon)
      .select(col("lang"),
        expr("aggregate(sketch.weights, 0D, (a, x) -> a + x)").as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    val leg1 = Some(BatchCtx(0L, "corpus.docs->corpus.docs"))
    sink.writeBatch(id, slice("en" -> 10L, "en" -> 20L), schema, leg1)
    assert(weights === Map("en" -> 2.0))
    // crash replay: same batch, same leg — the fold must NOT double-count
    sink.writeBatch(id, slice("en" -> 10L, "en" -> 20L), schema, leg1)
    assert(weights === Map("en" -> 2.0))
    // second route leg of the SAME batch (N→1 merge) is a new fold
    val leg2 = Some(BatchCtx(0L, "corpus.more->corpus.docs"))
    sink.writeBatch(id, slice("fr" -> 5L), schema, leg2)
    assert(weights === Map("en" -> 2.0, "fr" -> 1.0))
    // a crash AFTER leg1+leg2 folded replays the whole batch: both skip
    sink.writeBatch(id, slice("en" -> 10L, "en" -> 20L), schema, leg1)
    sink.writeBatch(id, slice("fr" -> 5L), schema, leg2)
    assert(weights === Map("en" -> 2.0, "fr" -> 1.0))
    // the next batch folds normally
    sink.writeBatch(id, slice("en" -> 30L), schema,
      Some(BatchCtx(1L, "corpus.docs->corpus.docs")))
    assert(weights === Map("en" -> 3.0, "fr" -> 1.0))
    // a ctx-less fold (batch composer / snapshot phase) PRESERVES the
    // ledger: an interleaved one-shot fold must not erase the replay
    // protection of the stream's in-flight batch on the same path
    QuantileMonitor.fold(spark, id, slice("it" -> 9L).drop(operators.Changelog.OpCol), defs)
    assert(weights === Map("en" -> 3.0, "fr" -> 1.0, "it" -> 1.0))
    sink.writeBatch(id, slice("en" -> 30L), schema,
      Some(BatchCtx(1L, "corpus.docs->corpus.docs"))) // replay of batch 1
    assert(weights === Map("en" -> 3.0, "fr" -> 1.0, "it" -> 1.0))
    // a stray unpublished leftover is swept by the next fold instead of
    // leaking forever
    val stray = new java.io.File(s"$mon/epoch_0")
    stray.mkdirs()
    sink.writeBatch(id, slice("de" -> 7L), schema,
      Some(BatchCtx(2L, "corpus.docs->corpus.docs")))
    assert(!stray.exists(), "stray epoch below the grace window must be GC'd")
    val ls = new java.io.File(mon).listFiles().map(_.getName).toSet - "_manifest"
    assert(ls.forall(_.matches("epoch_\\d+")) && ls.size === 2, ls.toString)
    assert(weights === Map("en" -> 3.0, "fr" -> 1.0, "it" -> 1.0, "de" -> 1.0))
  }

  test("kafka source YAML: injected reader drives debezium feed into parquet-upsert state") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-kafka-in")
    val out = tempDir("graft-kafka-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":null,"after":{"id":2,"name":"bob"},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":null,"after":{"id":1,"name":"ann2"},"op":"u","ts_ms":3,"source":{"db":"db","table":"users"}}""" + "\n")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: kafka
         |  properties.bootstrap.servers: broker:9092
         |  properties.group.id: graft-test
         |  topic: db.users
         |  scan.startup.mode: earliest-offset
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |pipeline:
         |  name: kafka-src-e2e
         |""".stripMargin)
    var seenOpts: Map[String, String] = Map.empty
    val reader = (s: org.apache.spark.sql.SparkSession, opts: Map[String, String]) => {
      seenOpts = opts
      s.readStream.format("text").load(in)
    }
    val (_, sink, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow(),
      kafkaReader = Some(reader))
    q.awaitTermination(60000)
    // the injected reader received the resolved connector options
    assert(seenOpts("kafka.bootstrap.servers") === "broker:9092")
    assert(seenOpts("subscribe") === "db.users")
    assert(seenOpts("startingOffsets") === "earliest")
    assert(seenOpts("kafka.group.id") === "graft-test")
    // and the feed materialized through the standard upsert path
    val state = sink.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state === Seq((1L, "ann2"), (2L, "bob")))
  }

  test("kafka sink YAML without `path` runs on the state-dir fallback") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-k2k-in")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":7,"name":"eve"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n")
    // unique pipeline name → unique fallback state dir (avoids a stale
    // checkpoint from an earlier test run of the same suite)
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: kafka
         |  properties.bootstrap.servers: broker:9092
         |pipeline:
         |  name: k2k-nopath-${System.nanoTime()}
         |""".stripMargin)
    val records = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val writer = (df: org.apache.spark.sql.DataFrame) => {
      records ++= df.collect().map(r => (r.getString(0), r.getString(1)))
      ()
    }
    val (_, _, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow(),
      kafkaWriter = Some(writer))
    q.awaitTermination(60000)
    deleteStateDir(p)
    assert(records.size === 1)
    assert(records.head._1.contains("\"id\":7"))
  }

  test("mid-batch kill between two tables' sink writes replays to convergence") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-kill-in")
    val out = tempDir("graft-kill-out")
    def dbz(table: String, payload: String, ts: Long) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$ts,"source":{"db":"db","table":"$table"}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      dbz("users", """{"id":1,"name":"ann"}""", 1) + "\n" +
      dbz("users", """{"id":2,"name":"bob"}""", 2) + "\n" +
      dbz("orders", """{"id":10,"total":5.5}""", 3) + "\n" +
      dbz("orders", """{"id":11,"total":7.25}""", 4) + "\n")
    val yaml =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |  schema.db.orders: "id BIGINT, total DOUBLE"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |""".stripMargin
    val p = PipelineDef.fromYaml(yaml)

    // the driver "dies" between the batch's per-table writes: orders never
    // lands, the checkpoint does NOT commit the batch
    final class KillOnOrders(inner: graft.sinks.CdcSink) extends graft.sinks.CdcSink {
      override def applySchemaChange(e: graft.model.SchemaChangeEvent): Unit =
        inner.applySchemaChange(e)
      override def write(id: TableId, df: org.apache.spark.sql.DataFrame,
                         schema: CdcSchema): Unit = {
        if (id.tableName == "orders") throw new RuntimeException("injected mid-batch kill")
        inner.write(id, df, schema)
      }
    }
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow(),
      sinkDecorator = Some(new KillOnOrders(_)))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000); q1.stop()
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/db__orders")))

    // restart WITHOUT the fault: the uncommitted batch replays; users
    // rewrites idempotently (it may or may not have landed before the kill),
    // orders lands — at-least-once x idempotent = effectively-once
    val (_, s2, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val sink2 = s2.asInstanceOf[graft.sinks.ParquetUpsertSink]
    assert(sink2.read(spark, TableId.of("db", "users")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ann"), (2L, "bob")))
    assert(sink2.read(spark, TableId.of("db", "orders")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((10L, 5.5), (11L, 7.25)))

    // and the recovered pipeline keeps consuming: a post-recovery batch
    // upserts on top of the replayed state
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      dbz("users", """{"id":1,"name":"ann2"}""", 5) + "\n")
    val (_, s3, q3) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q3.awaitTermination(60000)
    assert(s3.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ann2"), (2L, "bob")))
  }

  test("an N→1 batch writes its sink table once; additive in-band DDL runs no Spark job in the sink") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val in = tempDir("graft-n1-in")
    val out = tempDir("graft-n1-out")
    def dbz(table: String, payload: String, ts: Long) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$ts,"source":{"db":"db","table":"$table"}}"""
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.orders_0: "order_id BIGINT, amount INT"
         |  schema.db.orders_1: "order_id BIGINT, amount INT"
         |route:
         |  - source-table: db.orders_\\.*
         |    sink-table: ods.orders
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |""".stripMargin)
    val DdlProp = "graft.test.sinkDdl"
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, TableId)]()
    val ddl = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    final class Counting(inner: graft.sinks.CdcSink) extends graft.sinks.CdcSink {
      override def applySchemaChange(e: SchemaChangeEvent): Unit = {
        ddl.add(e.getClass.getSimpleName)
        spark.sparkContext.setLocalProperty(DdlProp, "1")
        try inner.applySchemaChange(e) finally spark.sparkContext.setLocalProperty(DdlProp, null)
      }
      override def write(id: TableId, df: org.apache.spark.sql.DataFrame, schema: CdcSchema): Unit =
        inner.write(id, df, schema)
      override def writeBatch(id: TableId, df: org.apache.spark.sql.DataFrame, schema: CdcSchema,
                              ctx: Option[graft.sinks.BatchCtx]): Unit = {
        writes.add((ctx.get.batchId, id))
        inner.writeBatch(id, df, schema, ctx)
      }
    }
    val ddlJobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = Option(j.properties).foreach { props =>
        if (props.getProperty(DdlProp) != null) ddlJobs.incrementAndGet()
        if (props.getProperty("graft.test.marker") != null) marker.countDown()
      }
    }
    def run(file: String, lines: String*): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/$file"), lines.mkString("", "\n", "\n"))
      val (_, _, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow(), sinkDecorator = Some(new Counting(_)))
      q.awaitTermination(60000)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      run("b1.json", dbz("orders_0", """{"order_id":1,"amount":5}""", 1),
        dbz("orders_1", """{"order_id":2,"amount":6}""", 2), dbz("orders_1", """{"order_id":3,"amount":7}""", 3))
      run("b2.json",
        SchemaChangeJson.toJson(AddColumnEvent(TableId.of("db", "orders_0"), "note",
          org.apache.spark.sql.types.StringType)),
        SchemaChangeJson.toJson(AlterColumnTypeEvent(TableId.of("db", "orders_1"), "amount",
          org.apache.spark.sql.types.LongType)),
        dbz("orders_0", """{"order_id":1,"amount":8,"note":"n1"}""", 4),
        dbz("orders_1", """{"order_id":2,"amount":3000000000}""", 5))
      spark.sparkContext.setLocalProperty("graft.test.marker", "1")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the marker job")

      val ods = TableId.of("ods", "orders")
      // one write per (micro-batch, sink table), and both batches wrote
      val perBatch = writes.asScala.toSeq
      assert(perBatch.sortBy(_._1) === Seq((0L, ods), (1L, ods)), perBatch.toString)
      assert(Seq("AddColumnEvent", "AlterColumnTypeEvent").forall(ddl.contains), ddl.toString)
      assert(ddlJobs.get === 0, "the sink's additive DDL ran Spark jobs")
      val rows = new graft.sinks.ParquetUpsertSink(out, 4).read(spark, ods).orderBy("order_id").collect()
        .map(r => (r.getAs[Long]("order_id"), r.getAs[Long]("amount"), r.getAs[String]("note"))).toSeq
      assert(rows === Seq((1L, 8L, "n1"), (2L, 3000000000L, null), (3L, 7L, null)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("in-band TruncateTable empties sink state before the batch's own data applies") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-trunc-in")
    val out = tempDir("graft-trunc-out")
    def dbz(payload: String, ts: Long) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    val yaml =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |""".stripMargin
    val p = PipelineDef.fromYaml(yaml)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      dbz("""{"id":1,"name":"ann"}""", 1) + "\n" + dbz("""{"id":2,"name":"bob"}""", 2) + "\n")
    val (_, s1, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(s1.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users")).count() === 2)
    // truncate + a fresh row in ONE batch: DDL applies first, so the final
    // state is exactly the post-truncate row
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      graft.model.SchemaChangeJson.toJson(
        graft.model.TruncateTableEvent(TableId.of("db", "users"))) + "\n" +
      dbz("""{"id":7,"name":"eve"}""", 3) + "\n")
    val (_, s2, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(s2.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "eve")))
  }

  test("in-band DropTable removes sink state and later rows for the table are skipped") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-drop-in")
    val out = tempDir("graft-drop-out")
    def dbz(payload: String, ts: Long) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.json"),
      dbz("""{"id":1,"name":"ann"}""", 1) + "\n")
    val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/db__users")))
    // drop + a straggler row in one batch: the DDL applies first, the
    // table's schema is gone, so the straggler is an unknown-table row
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.json"),
      graft.model.SchemaChangeJson.toJson(
        graft.model.DropTableEvent(TableId.of("db", "users"))) + "\n" +
      dbz("""{"id":9,"name":"late"}""", 2) + "\n")
    val (_, _, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/db__users")))
  }

  test("EXCEPTION behavior fails the stream loudly on in-band DDL; IGNORE swallows it") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    def dbz(payload: String, ts: Long) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    def yamlFor(in: String, out: String, behavior: String) =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |pipeline:
         |  schema.change.behavior: $behavior
         |""".stripMargin
    val ddl = graft.model.SchemaChangeJson.toJson(graft.model.AddColumnEvent(
      TableId.of("db", "users"), "age", org.apache.spark.sql.types.IntegerType))

    // EXCEPTION: the DDL control record kills the query — never silently applied
    val in1 = tempDir("graft-exc-in")
    val out1 = tempDir("graft-exc-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in1/feed.json"),
      dbz("""{"id":1,"name":"ann"}""", 1) + "\n" + ddl + "\n")
    val (_, _, q1) = Cli.buildStreaming(spark,
      PipelineDef.fromYaml(yamlFor(in1, out1, "exception")), Trigger.AvailableNow())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000); q1.stop()
    }
    assert(e.getMessage.contains("rejected by EXCEPTION behavior"))

    // IGNORE: the DDL is swallowed; rows with the new field still parse
    // under the OLD schema (extra field dropped), state keeps its shape
    val in2 = tempDir("graft-ign-in")
    val out2 = tempDir("graft-ign-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in2/feed.json"),
      dbz("""{"id":1,"name":"ann"}""", 1) + "\n" + ddl + "\n" +
      dbz("""{"id":2,"name":"bob","age":40}""", 2) + "\n")
    val (_, s2, q2) = Cli.buildStreaming(spark,
      PipelineDef.fromYaml(yamlFor(in2, out2, "ignore")), Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val state = s2.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users"))
    assert(state.columns.toSeq === Seq("id", "name"))
    assert(state.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ann"), (2L, "bob")))
  }

  test("TRY_EVOLVE tolerates sink DDL failure and keeps flowing; EVOLVE on the same input dies") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    def dbz(payload: String, ts: Long) =
      s"""{"before":null,"after":$payload,"op":"c","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    def yamlFor(in: String, out: String, behavior: String) =
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |pipeline:
         |  schema.change.behavior: $behavior
         |""".stripMargin
    val ddl = graft.model.SchemaChangeJson.toJson(graft.model.AddColumnEvent(
      TableId.of("db", "users"), "age", org.apache.spark.sql.types.IntegerType))
    def feed(in: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
        dbz("""{"id":1,"name":"ann"}""", 1) + "\n" + ddl + "\n" +
        dbz("""{"id":2,"name":"bob","age":40}""", 2) + "\n")
    // a sink whose ALTER path is broken (the reference scenario: a target
    // database that cannot ALTER TABLE) — injected via the decorator seam
    val refuse: graft.sinks.CdcSink => graft.sinks.CdcSink = inner => new graft.sinks.CdcSink {
      override def applySchemaChange(e: graft.model.SchemaChangeEvent): Unit = e match {
        case _: graft.model.AddColumnEvent =>
          throw new RuntimeException("sink DDL refused: ALTER unsupported")
        case other => inner.applySchemaChange(other)
      }
      override def write(id: TableId, changelog: org.apache.spark.sql.DataFrame,
                         schema: graft.model.CdcSchema): Unit =
        inner.write(id, changelog, schema)
    }

    // TRY_EVOLVE: the DDL failure is tolerated; the post-DDL row still lands
    val in1 = tempDir("graft-tryev-in")
    val out1 = tempDir("graft-tryev-out")
    feed(in1)
    val (_, _, q1) = Cli.buildStreaming(spark,
      PipelineDef.fromYaml(yamlFor(in1, out1, "try_evolve")), Trigger.AvailableNow(),
      sinkDecorator = Some(refuse))
    q1.awaitTermination(60000)
    val state = new graft.sinks.ParquetUpsertSink(out1, 4).read(spark, TableId.of("db", "users"))
    assert(state.count() === 2) // the stream survived the refused ALTER
    // the engine-side registry DID evolve, so bob's age flows once the
    // parquet sink's coerce-on-merge catches state up
    val bob = state.where(org.apache.spark.sql.functions.col("id") === 2).head()
    assert(bob.getAs[String]("name") === "bob")
    assert(bob.getAs[Int]("age") === 40)

    // EVOLVE: the same refused ALTER must kill the query, not drop the DDL
    val in2 = tempDir("graft-ev-in")
    val out2 = tempDir("graft-ev-out")
    feed(in2)
    val (_, _, q2) = Cli.buildStreaming(spark,
      PipelineDef.fromYaml(yamlFor(in2, out2, "evolve")), Trigger.AvailableNow(),
      sinkDecorator = Some(refuse))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(60000); q2.stop()
    }
    assert(e.getMessage.contains("sink DDL refused"))
  }

  test("dead-letter-dir quarantines unroutable records instead of dropping them") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-dlq-in")
    val out = tempDir("graft-dlq-out")
    val dlq = tempDir("graft-dlq")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n" +
      """this line is not json at all""" + "\n")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |pipeline:
         |  dead-letter-dir: $dlq
         |""".stripMargin)
    val (_, s1, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q.awaitTermination(60000)
    // the good row materialized, the bad line quarantined verbatim
    assert(s1.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users")).count() === 1)
    val quarantined = spark.read.text(s"$dlq/batch_*").collect().map(_.getString(0)).toSeq
    assert(quarantined === Seq("this line is not json at all"))
  }

  test("user-defined-function YAML block registers a classpath UDF usable in projections") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-udf-in")
    val out = tempDir("graft-udf-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":1,"name":"ann"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""" + "\n" +
      """{"before":null,"after":{"id":2,"name":null},"op":"c","ts_ms":2,"source":{"db":"db","table":"users"}}""" + "\n")
    // PlainEvalUdf is the Flink-ScalarFunction shape: a plain class with
    // eval(String) — the reference's UdfE2eITCase loads exactly this way
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.users: "id BIGINT, name STRING"
         |transform:
         |  - source-table: db.users
         |    projection: "id, SHOUT(name) AS name"
         |    primary-keys: id
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 4
         |user-defined-function:
         |  - name: SHOUT
         |    classpath: graft.functions.PlainEvalUdf
         |""".stripMargin)
    val (_, s1, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(s1.asInstanceOf[graft.sinks.ParquetUpsertSink]
      .read(spark, TableId.of("db", "users")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "ANN!"), (2L, null)))
  }

  test("fallback state dir is stable under tuning-option edits, distinct on identity edits") {
    import graft.pipeline.PipelineDef
    def kafkaDef(extraSource: String, topic: String) = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: /data/in
         |$extraSource
         |sink:
         |  type: kafka
         |  properties.bootstrap.servers: broker:9092
         |  topic: $topic
         |pipeline:
         |  name: same-name
         |""".stripMargin.replaceAll("(?m)^\\s*$\\n", ""))
    val base = Cli.stateDir(kafkaDef("", "t1"))
    // tuning knobs do NOT relocate the checkpoint
    assert(Cli.stateDir(kafkaDef("  properties.poll.timeout.ms: 500", "t1")) === base)
    // identity edits DO
    assert(Cli.stateDir(kafkaDef("", "t2")) !== base)
    assert(Cli.stateDir(kafkaDef("  topic-pattern: db\\..*", "t1")) !== base)
  }

  test("building a pipeline twice on one session replaces no registered function") {
    import graft.pipeline.{Composer, PipelineDef}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.streaming.Trigger
    val reg = spark.sessionState.functionRegistry
    def builders = graft.functions.FunctionCatalog.names
      .map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    val before = builders
    val batch = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $sf
         |  schema-name: corpus
         |  tables: corpus.documents
         |transform:
         |  - source-table: corpus.documents
         |    projection: "doc_id, TOKEN_COUNT(text) AS n"
         |    filter: "LANG_ID(text) <> 'und'"
         |sink:
         |  type: values
         |""".stripMargin)
    for (_ <- 1 to 2) Composer.composeBatch(spark, batch).values.foreach(_.count())
    val in = tempDir("graft-rebuild-in")
    val out = tempDir("graft-rebuild-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/feed.json"),
      """{"before":null,"after":{"id":1,"text":"a b c"},"op":"c","ts_ms":1,"source":{"db":"db","table":"docs"}}""" + "\n")
    val streaming = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  schema.db.docs: "id BIGINT, text STRING"
         |transform:
         |  - source-table: db.docs
         |    projection: "id, TOKEN_COUNT(text) AS n, CDC_FROM_UNIXTIME(CAST(0 AS BIGINT), 'yyyy') AS y"
         |    primary-keys: id
         |sink:
         |  type: parquet-upsert
         |  path: $out
         |  buckets: 1
         |""".stripMargin)
    for (_ <- 1 to 2) Cli.buildStreaming(spark, streaming, Trigger.AvailableNow())._3.awaitTermination(60000)
    assert(builders.zip(before).forall { case (a, b) => a eq b })
  }

  test("a pipeline whose local-time-zone is not its session's zone is refused") {
    import graft.pipeline.{Composer, PipelineDef}
    import org.apache.spark.sql.streaming.Trigger
    def pipe(zone: String) = PipelineDef.fromYaml(
      s"""source:
         |  type: parquet
         |  path: $sf
         |  schema-name: tpch
         |  tables: tpch.nation
         |sink:
         |  type: parquet-upsert
         |  path: ${tempDir("graft-zone-out")}
         |pipeline:
         |  local-time-zone: $zone
         |""".stripMargin)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val batch = intercept[IllegalArgumentException](Composer.composeBatch(spark, pipe("Asia/Shanghai")))
    assert(batch.getMessage.contains("Asia/Shanghai") && batch.getMessage.contains("UTC"),
      batch.getMessage)
    val streaming = intercept[IllegalArgumentException](
      Cli.buildStreaming(spark, pipe("Asia/Shanghai"), Trigger.AvailableNow()))
    assert(streaming.getMessage === batch.getMessage)
    // zones compare as zone ids, not as spellings
    assert(Composer.composeBatch(spark, pipe("Etc/UTC")).nonEmpty)
  }

  test("latest startup anchor lands under a file: URI state dir and is reused on restart") {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val in = tempDir("graft-anchor-in")
    val out = tempDir("graft-anchor-out")
    def line(id: Long, ts: Long) =
      s"""{"before":null,"after":{"id":$id,"name":"n$id"},"op":"c","ts_ms":$ts,"source":{"db":"db","table":"users"}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/backlog.json"),
      line(1, 10) + "\n" + line(2, 20) + "\n")
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: $in
         |  scan.startup.mode: latest
         |  schema.db.users: "id BIGINT, name STRING"
         |sink:
         |  type: parquet-upsert
         |  path: file:$out
         |  buckets: 2
         |""".stripMargin)
    val anchor = java.nio.file.Paths.get(out, "_startup_position")
    Cli.buildStreaming(spark, p, Trigger.AvailableNow())._3.awaitTermination(60000)
    assert(java.nio.file.Files.readString(anchor).trim === "20")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"file:$out")),
      "the anchor must not land under a cwd-relative 'file:' dir")
    // a restart resumes from the stored anchor, not from a new one past ts 30
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/new.json"), line(3, 30) + "\n")
    val (_, sink, q) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(java.nio.file.Files.readString(anchor).trim === "20")
    assert(sink.asInstanceOf[graft.sinks.ParquetUpsertSink].read(spark, TableId.of("db", "users"))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  /** The message `buildStreaming` refuses a pipeline with; `schema` is the
    * `schema.db.users` option, `extra` more sink and pipeline lines.
    */
  private def refusal(schema: String, sinkExtra: String = "", pipelineExtra: String = ""): String = {
    import graft.pipeline.PipelineDef
    import org.apache.spark.sql.streaming.Trigger
    val p = PipelineDef.fromYaml(
      s"""source:
         |  type: debezium-json
         |  path: ${tempDir("graft-badopt-in")}
         |  schema.db.users: "$schema"
         |sink:
         |  type: parquet-upsert
         |  path: ${tempDir("graft-badopt-out")}
         |$sinkExtra
         |pipeline:
         |  name: bad-options
         |$pipelineExtra
         |""".stripMargin)
    intercept[IllegalArgumentException](Cli.buildStreaming(spark, p, Trigger.AvailableNow())).getMessage
  }

  test("a schema column without a type is refused naming the key and the column spec") {
    val m = refusal("id BIGINT, name")
    assert(m.contains("schema.db.users") && m.contains("'name'"), m)
  }

  test("an empty schema spec without transform primary keys is refused naming the key") {
    val m = refusal(" , ")
    assert(m.contains("schema.db.users") && m.contains("no columns"), m)
  }

  test("a non-integer `buckets` is refused naming the key") {
    val m = refusal("id BIGINT", sinkExtra = "  buckets: four")
    assert(m.contains("`buckets`") && m.contains("'four'"), m)
  }

  test("a non-integer `table-parallelism` is refused naming the key") {
    val m = refusal("id BIGINT", pipelineExtra = "  table-parallelism: 2.5")
    assert(m.contains("`table-parallelism`") && m.contains("'2.5'"), m)
  }

  test("KafkaSource.kafkaOptions maps the reference option surface") {
    import graft.sources.KafkaSource.kafkaOptions
    val base = Map("properties.bootstrap.servers" -> "b:9092", "topic" -> "t")
    assert(kafkaOptions(base)("startingOffsets") === "earliest") // default
    assert(kafkaOptions(base + ("scan.startup.mode" -> "initial"))("startingOffsets") === "earliest")
    assert(kafkaOptions(base + ("scan.startup.mode" -> "latest-offset"))("startingOffsets") === "latest")
    assert(kafkaOptions(base + ("scan.startup.mode" -> "timestamp",
      "scan.startup.timestamp-ms" -> "123"))("startingTimestamp") === "123")
    assert(kafkaOptions(base + ("scan.startup.mode" -> "specific-offset",
      "scan.startup.specific-offsets" -> """{"t":{"0":42}}"""))("startingOffsets") === """{"t":{"0":42}}""")
    val pat = Map("properties.bootstrap.servers" -> "b:9092", "topic-pattern" -> "db\\..*")
    assert(kafkaOptions(pat)("subscribePattern") === "db\\..*")
    intercept[IllegalArgumentException](kafkaOptions(Map("topic" -> "t")))
    intercept[IllegalArgumentException](kafkaOptions(Map("properties.bootstrap.servers" -> "b")))
    intercept[IllegalArgumentException](kafkaOptions(base + ("topic-pattern" -> "x")))
    intercept[IllegalArgumentException](kafkaOptions(base + ("scan.startup.mode" -> "bogus")))
  }

  test("SOFT_DELETE converter keeps tombstones as flagged rows through the pipeline") {
    import spark.implicits._
    val registry = new SchemaRegistry()
    val db = new ValuesDatabase
    val id = TableId.of("db", "users")
    val pipe = new StreamingPipeline(registry,
      transforms = Seq(TransformRule("db.users", postTransformConverter = Some("SOFT_DELETE"))),
      sink = new ValuesSink(db))
    pipe.applySchemaChange(CreateTableEvent(id,
      CdcSchema.of("id" -> "BIGINT", "name" -> "STRING").copy(primaryKeys = Seq("id"))))

    val batch = Seq(
      """{"before":null,"after":{"id":1,"name":"a"},"op":"c","ts_ms":1,"source":{"db":"db","table":"users"}}""",
      """{"before":{"id":1,"name":"a"},"after":null,"op":"d","ts_ms":2,"source":{"db":"db","table":"users"}}"""
    ).toDF("value")
    pipe.processBatch(batch, 0L)

    assert(db.schemaOf(id).get.columnNames === Seq("id", "name", "__deleted"))
    assert(db.results(id).map(_.toList) === Seq(List(1L, "a", true)))
  }
}
