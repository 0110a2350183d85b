package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CdcFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cdcEquals returns FALSE (not NULL) on null operands") {
    val df = Seq((Some(1), Some(1)), (Some(1), None), (None: Option[Int], None: Option[Int]))
      .toDF("a", "b")
    val out = df.select(CdcFunctions.cdcEquals(col("a"), col("b"))).as[Boolean].collect().toSeq
    assert(out === Seq(true, false, false))
  }

  test("CDC_DATE_FORMAT uses SimpleDateFormat dialect") {
    FunctionCatalog.install(spark)
    val out = Seq("2024-03-05 10:30:00").toDF("s")
      .selectExpr("CDC_DATE_FORMAT(CAST(s AS TIMESTAMP), 'yyyy/MM/dd HH:mm') AS f")
      .as[String].head()
    assert(out === "2024/03/05 10:30")
  }

  test("timestampDiff truncates months toward zero like the reference") {
    val jan31 = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    val feb29 = java.sql.Timestamp.valueOf("2024-02-29 00:00:00")
    val mar01 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    assert(CdcFunctions.timestampDiff("MONTH", jan31, feb29, "UTC") === 0) // not a full month
    assert(CdcFunctions.timestampDiff("MONTH", jan31, mar01, "UTC") === 1)
    assert(CdcFunctions.timestampDiff("DAY", jan31, feb29, "UTC") === 29)
    assert(CdcFunctions.timestampDiff("YEAR", jan31, mar01, "UTC") === 0)
  }

  test("CDC_TIMESTAMP_ADD does calendar month arithmetic") {
    FunctionCatalog.install(spark)
    val out = Seq("2024-01-31 00:00:00").toDF("s")
      .selectExpr(
        "CDC_DATE_FORMAT(CDC_TIMESTAMP_ADD('MONTH', 1, CAST(s AS TIMESTAMP)), 'yyyy-MM-dd') AS m",
        "CDC_DATE_FORMAT(CDC_TIMESTAMP_ADD('DAY', 2, CAST(s AS TIMESTAMP)), 'yyyy-MM-dd') AS d",
        "CDC_FROM_UNIXTIME(CAST(0 AS BIGINT), 'yyyy-MM-dd') AS e")
      .head()
    assert(out.getString(0) === "2024-02-29") // month-end clamp, leap year
    assert(out.getString(1) === "2024-02-02")
    assert(out.getString(2) === "1970-01-01")
  }

  test("FunctionCatalog.install: every built-in name once; a second install writes nothing") {
    val reg = spark.sessionState.functionRegistry
    val names = FunctionCatalog.names
    assert(names.size === 27)
    assert(names.map(_.toLowerCase).distinct.size === names.size, "hash64 registered once")
    def builders = names.map(n => reg.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(builders.forall(_.isDefined), "Sessions.local installs the catalog")
    val before = builders.map(_.get)
    FunctionCatalog.install(spark)
    FunctionCatalog.install(spark)
    assert(builders.map(_.get).zip(before).forall { case (a, b) => a eq b })
  }

  test("CDC_* functions use the session zone, read when the call is analyzed") {
    val shanghai = spark.newSession()
    shanghai.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
    FunctionCatalog.install(shanghai)
    def render(s: org.apache.spark.sql.SparkSession) =
      s.sql("SELECT CDC_FROM_UNIXTIME(CAST(0 AS BIGINT), 'yyyy-MM-dd HH:mm') AS e").head().getString(0)
    assert(render(shanghai) === "1970-01-01 08:00")
    assert(render(spark) === "1970-01-01 00:00")
    // one registration serves every zone: the same session, re-zoned
    shanghai.conf.set("spark.sql.session.timeZone", "UTC")
    assert(render(shanghai) === "1970-01-01 00:00")
  }

  test("equal calls of a UDF-backed built-in are equal expressions: GROUP BY matches the select list") {
    Seq(0L, 60L, 86400L).toDF("s").createOrReplaceTempView("cdc_days")
    val days = spark.sql("SELECT CDC_FROM_UNIXTIME(s, 'yyyy-MM-dd') AS d, " +
      "AI_CHAT_PREDICT(CDC_FROM_UNIXTIME(s, 'yyyy')) AS y, COUNT(*) AS n FROM cdc_days " +
      "GROUP BY CDC_FROM_UNIXTIME(s, 'yyyy-MM-dd'), AI_CHAT_PREDICT(CDC_FROM_UNIXTIME(s, 'yyyy')) " +
      "ORDER BY d").as[(String, String, Long)].collect().toSeq
    assert(days === Seq(("1970-01-01", "[stub-model] 1970", 2L), ("1970-01-02", "[stub-model] 1970", 1L)))
  }

  test("named model registration from a YAML model block") {
    AiFunctions.registerModel(spark, "MY_EMBED", Map("model-name" -> "text-embedding-3-small"))
    AiFunctions.registerModel(spark, "MY_CHAT", Map("model-name" -> "gpt-4o-mini"))
    val r = Seq("hi").toDF("t").selectExpr("MY_EMBED(t) AS e", "MY_CHAT(t) AS c").head()
    assert(r.getSeq[Float](0).length === AiFunctions.EmbeddingDim)
    assert(r.getString(1).startsWith("[stub-model]"))
  }

  test("AI function stubs: embeddings are unit-norm, deterministic") {
    val a = AiFunctions.fakeEmbed("hello world")
    val b = AiFunctions.fakeEmbed("hello world")
    assert(a.toSeq === b.toSeq)
    assert(a.length === AiFunctions.EmbeddingDim)
    assert(math.abs(a.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
    // near-dup texts → high cosine
    val c = AiFunctions.fakeEmbed("hello world extra")
    assert(graft.ops.Similarity.cosine(a, c) > 0.7)
  }

  test("CdcUdf adapter registers an evalable scalar function") {
    CdcUdf.register(spark, new CdcUdf {
      def name = "ADD_ONE"
      def returnType: DataType = IntegerType
      def eval(args: Seq[Any]): Any = args.head.asInstanceOf[Int] + 1
    })
    assert(Seq(41).toDF("x").selectExpr("ADD_ONE(x)").as[Int].head() === 42)
  }

  test("Flink-ScalarFunction-shaped classes load by classpath (eval duck-typing)") {
    // graft.functions.PlainEvalUdf is NOT a CdcUdf — just a class with eval()
    // + open(), the other shape the reference's descriptor accepts
    // (UserDefinedFunctionDescriptor.java:85-103)
    val u = CdcUdf.fromClasspath(spark, "graft.functions.PlainEvalUdf", Some("SHOUT"))
    assert(u.name === "SHOUT")
    assert(u.returnType === StringType)
    assert(Seq("hey").toDF("s").selectExpr("SHOUT(s)").as[String].head() === "HEY!")
    assert(PlainEvalUdf.opened.get(), "open() lifecycle must run")

    // a CdcUdf class loaded through the same path keeps working, renamed
    val r = CdcUdf.fromClasspath(spark, "graft.functions.RenamableUdf", Some("PLUS2"))
    assert(r.name === "PLUS2")
    assert(Seq(40).toDF("x").selectExpr("PLUS2(x)").as[Int].head() === 42)
  }

  test("eval-overloaded classes are rejected up front, not at invoke time") {
    val e = intercept[IllegalArgumentException] {
      CdcUdf.fromClasspath(spark, "graft.functions.OverloadedEvalUdf", Some("OVER"))
    }
    assert(e.getMessage.contains("2 eval(...) overloads"), e.getMessage)
    assert(e.getMessage.contains("separate classes"), e.getMessage)
  }
}

/** Fixture: multiple eval overloads — common in Flink UDFs, unbindable here. */
class OverloadedEvalUdf {
  def eval(s: String): String = s
  def eval(s: String, n: Int): String = s * n
}

/** Fixture: the Flink-`ScalarFunction` shape — no CdcUdf, just eval/open. */
class PlainEvalUdf {
  def open(): Unit = PlainEvalUdf.opened.set(true)
  def eval(s: String): String = if (s == null) null else s.toUpperCase + "!"
}
object PlainEvalUdf {
  val opened = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** Fixture: a CdcUdf whose YAML name differs from its own. */
class RenamableUdf extends CdcUdf {
  def name = "ADD_TWO"
  def returnType: DataType = IntegerType
  def eval(args: Seq[Any]): Any = args.head.asInstanceOf[Int] + 2
}

class CatalystExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native expressions agree with the scala reference implementations") {
    val texts = Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "one two three four five six"))
    val df = texts.toDF("id", "text")
    val got = df.select(col("id"),
      CdcExpressions.minhashSignature(col("text")).as("sig"),
      CdcExpressions.simhash64(col("text")).as("sh"))
      .as[(Long, Seq[Long], Long)].collect().toMap2
    texts.foreach { case (id, t) =>
      val (sig, sh) = got(id)
      assert(sig.toArray.toSeq === graft.ops.Dedup
        .minhashSignature(graft.ops.Dedup.shingleHashes(t, 3), 128).toSeq)
      assert(sh === graft.ops.Dedup.simhash64(t))
    }
  }

  test("regex_tokens equals the filter(split(lower)) idiom it replaces, byte for byte") {
    // the tokenize idiom is oracle-anchored in ~10 queries — the native
    // expression must reproduce it exactly, including unicode lowercasing
    // (final sigma, ß), leading separators (empty-string drops), and nulls
    val rows: Seq[String] = Seq("Hello, WORLD!", "", "   ", "ÄÖÜ straße ΣΟΦΟΣ",
      "a_b-c  d", "日本語 テスト 123", "...!!!", null, "MiXeD_case42 tail")
    val df = rows.toDF("s")
    val a = df.select(CdcExpressions.regexTokens(col("s")).as("t"))
      .as[Option[Seq[String]]].collect().toSeq
    val b = df.select(filter(split(lower(col("s")), "\\W+"), x => x =!= "").as("t"))
      .as[Option[Seq[String]]].collect().toSeq
    assert(a === b)
    // the whitespace variant (no lowercase) used by the Gopher rules
    val c = df.select(CdcExpressions.regexTokens(trim(col("s")), "\\s+",
      lowercase = false).as("t")).as[Option[Seq[String]]].collect().toSeq
    val d = df.select(filter(split(trim(col("s")), "\\s+"), x => x =!= "").as("t"))
      .as[Option[Seq[String]]].collect().toSeq
    assert(c === d)
  }

  test("SQL registration: functions callable from selectExpr and codegen'd") {
    FunctionCatalog.install(spark)
    val out = Seq("hello world again and again").toDF("text")
      .selectExpr("SIZE(minhash_signature(text)) AS n", "simhash64(text) AS sh")
      .head()
    assert(out.getInt(0) === 128)
    assert(out.getLong(1) === graft.ops.Dedup.simhash64("hello world again and again"))
    // null-safe: null text → null outputs
    val nulls = Seq[Option[String]](None).toDF("text")
      .selectExpr("minhash_signature(text) AS s", "simhash64(text) AS h").head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("CorpusFunctions YAML surface: CLEAN_TEXT callable from SQL expressions") {
    FunctionCatalog.install(spark)
    val out = Seq("  A  \tB ").toDF("text")
      .selectExpr("CLEAN_TEXT(text) AS c", "TOKEN_COUNT(CLEAN_TEXT(text)) AS n")
      .head()
    assert(out.getString(0) === "A B")
    assert(out.getInt(1) === 2)
  }

  test("CorpusFunctions YAML surface: REP_KEEP/REP_STATS drive a repetition gate from SQL") {
    FunctionCatalog.install(spark)
    val docs = Seq(
      (1L, "buy now\nbuy now\nbuy now\nbuy now"),
      (2L, "a quiet morning over the harbor")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("rep_docs")
    val kept = spark.sql("SELECT doc_id FROM rep_docs WHERE REP_KEEP(text)")
      .as[Long].collect().toSeq
    assert(kept === Seq(2L))
    val st = spark.sql("SELECT REP_STATS(text)[0] AS dlf FROM rep_docs WHERE doc_id = 1").head()
    assert(st.getDouble(0) === 0.75) // 4 lines, 1 distinct → 3 dups
  }

  test("CorpusFunctions YAML surface: GOPHER_KEEP gate and HASH64 bucketing from SQL") {
    FunctionCatalog.install(spark)
    val docs = Seq(
      (1L, "the cat sat with the hat and that mat"), // passes defaults
      (2L, "## ### tag # soup # here"))              // symbol noise fails
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("gopher_docs")
    val kept = spark.sql("SELECT doc_id FROM gopher_docs WHERE GOPHER_KEEP(text)")
      .as[Long].collect().toSeq
    assert(kept === Seq(1L))
    val h = spark.sql("SELECT HASH64(text) AS h FROM gopher_docs WHERE doc_id = 1").head()
    assert(h.getLong(0) === graft.ops.Dedup.hash64("the cat sat with the hat and that mat"))
    val bm = spark.sql(
      "SELECT CHAR_BITMAP64(text) AS b FROM gopher_docs WHERE doc_id = 1").head()
    assert(bm.getLong(0) === graft.functions.CdcExprHelpers.charBitmap64(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "the cat sat with the hat and that mat")))
  }

  test("cosine_sim propagates null for null vector elements") {
    val df = Seq((1L, Seq[java.lang.Float](1.0f, null, 2.0f), Seq[java.lang.Float](1.0f, 1.0f, 1.0f)))
      .toDF("id", "a", "b")
      .selectExpr("id", "CAST(a AS ARRAY<FLOAT>) AS a", "CAST(b AS ARRAY<FLOAT>) AS b")
    val row = df.select(CdcExpressions.cosineSim(col("a"), col("b"))).head()
    assert(row.isNullAt(0))
  }

  test("cosine_sim matches the scala reference and handles zero norms") {
    FunctionCatalog.install(spark)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), Array(0.5f, 1.0f, -1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)))
    val out = vecs.toDF("id", "a", "b")
      .select(col("id"), CdcExpressions.cosineSim(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    vecs.foreach { case (id, a, b) =>
      assert(out(id) === graft.ops.Similarity.cosine(a, b), s"id $id")
    }
    // SQL name too
    val viaSql = vecs.toDF("id", "a", "b").selectExpr("cosine_sim(a, b) AS c")
      .as[Double].collect().toSeq
    assert(viaSql === vecs.map(v => graft.ops.Similarity.cosine(v._2, v._3)))
  }

  test("cosine_pre with hoisted norms is bit-identical to cosine_sim") {
    // the knnJoin pair-loop optimization's exactness contract: hoisting
    // the squared norms to per-row columns must not move a single bit —
    // including the zero-norm → 0.0 and null-element → NULL edges
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 50L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4 - 2),
          Array.fill(16)(rnd.nextFloat() * 4 - 2))) ++ Seq(
      (98L, Array.fill(16)(0.0f), Array.fill(16)(1.0f)),
      (99L, Array.fill(16)(1.0f), Array.fill(16)(0.0f)))
    val df = vecs.toDF("id", "a", "b")
    val both = df.select(col("id"),
        CdcExpressions.cosineSim(col("a"), col("b")).as("ref"),
        CdcExpressions.cosinePre(col("a"), col("b"),
          CdcExpressions.vecNormSq(col("a")),
          CdcExpressions.vecNormSq(col("b"))).as("pre"))
      .as[(Long, Double, Double)].collect()
    both.foreach { case (id, ref, pre) =>
      assert(java.lang.Double.doubleToLongBits(ref) ===
        java.lang.Double.doubleToLongBits(pre), s"id $id: $ref vs $pre")
    }
    // MISMATCHED lengths fall back to the min-length cosineFF semantics
    // (a ragged row's ranks must not silently shift vs the pre-hoist code)
    val ragged = Seq((1L, Array(1.0f, 2.0f, 3.0f, 4.0f), Array(1.0f, 2.0f)))
      .toDF("id", "a", "b")
      .select(CdcExpressions.cosineSim(col("a"), col("b")).as("ref"),
        CdcExpressions.cosinePre(col("a"), col("b"),
          CdcExpressions.vecNormSq(col("a")),
          CdcExpressions.vecNormSq(col("b"))).as("pre"))
      .as[(Double, Double)].head()
    assert(java.lang.Double.doubleToLongBits(ragged._1) ===
      java.lang.Double.doubleToLongBits(ragged._2))
    // null-element vectors: both formulations return NULL
    val nulled = Seq((1L, Seq[java.lang.Float](1.0f, null, 2.0f),
        Seq[java.lang.Float](1.0f, 1.0f, 1.0f)))
      .toDF("id", "a", "b")
      .selectExpr("id", "CAST(a AS ARRAY<FLOAT>) AS a", "CAST(b AS ARRAY<FLOAT>) AS b")
      .select(CdcExpressions.vecNormSq(col("a")).as("n2"),
        CdcExpressions.cosinePre(col("a"), col("b"),
          CdcExpressions.vecNormSq(col("a")),
          CdcExpressions.vecNormSq(col("b"))).as("pre"))
      .head()
    assert(nulled.isNullAt(0) && nulled.isNullAt(1))
  }

  test("json_long_field equals get_json_object + long cast on envelope-shaped records") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      """{"ts_ms": 500, "op": "c"}""",               // plain
      """{"ts_ms":-7,"op":"c"}""",                   // negative, no spaces
      """{"ts_ms" :  12345678901234 }""",            // whitespace, > int range
      """{"op":"c","ts_ms":0}""",                    // not first
      """{"ts_ms":"42"}""",                          // quoted integer (string cast)
      """{"ts_ms":null}""",                          // JSON null
      """{"ts_ms":1.5}""",                           // non-integer number
      """{"ts_ms":true}""",                          // boolean
      """{"op":"c"}""",                              // absent
      """{"outer":{"ts_ms":9},"op":"c"}""",          // nested only — must NOT match
      """{"note":"ts_ms","ts_ms":6}""",              // key text as a VALUE first
      """{"note":"say \"ts_ms\": 1","ts_ms":8}""",   // escaped quotes in another value
      """{"__graft_schema_change__":{"kind":"add"}}""", // control record
      """[{"ts_ms":3}]""",                           // array root
      """not json at all""",
      "",
      """{"ts_msx":4,"ts_ms":5}""",                  // prefix-colliding key
      """{"xts_ms":4}"""                             // suffix-colliding key only
    ).toDF("value")
    // reference = try_cast: under ANSI (Spark 4 default) a plain cast of a
    // malformed token THROWS — the fused expression instead yields null,
    // the explicitly-wanted semantics for a startup filter (malformed lines
    // belong to the dead-letter path, never to a pipeline crash)
    val got = rows.select(
      graft.functions.CdcExpressions.jsonLongField(col("value"), "ts_ms").as("fused"),
      expr("try_cast(get_json_object(value, '$.ts_ms') AS long)").as("ref"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) === r.get(1), s"row $i diverged: fused=${r.get(0)} ref=${r.get(1)}")
    }
    // and over a real debezium-encoded changelog: bit-identical filter result
    val ch = spark.read.parquet(s"$sf/events.parquet").limit(2000).select(
      col("user_id"), col("event_type"), col("value"),
      lit("REPLACE").as(graft.operators.Changelog.OpCol),
      col("event_id").as(graft.operators.Changelog.SeqCol))
    val feed = graft.sinks.ChangelogJson.debezium(ch, graft.model.TableId.of("db", "events"))
    val n = feed.where(
      graft.functions.CdcExpressions.jsonLongField(col("value"), "ts_ms") =!=
        expr("try_cast(get_json_object(value, '$.ts_ms') AS long)")).count()
    assert(n === 0)
  }

  test("nearest_centroids equals the literal struct-sort probe selection exactly") {
    // the knnJoin probe projection's exactness contract: replacing the
    // O(k_centroids) literal struct-array/sort_array tree with the single
    // reference-object expression must select the SAME probe lists in the
    // SAME order — (cosine DESC, cid ASC), ties to the lower id
    val rnd = new scala.util.Random(13)
    val cents: Array[Array[Float]] =
      Array.fill(8)(Array.fill(16)(rnd.nextFloat() * 2 - 1))
    cents(5) = cents(2).clone() // exact duplicate: exercises the cid tie-break
    val df = (1L to 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v")
    for (nprobe <- Seq(1, 3, 8, 12)) { // incl. nprobe > k
      val scored = array(cents.zipWithIndex.map { case (c, i) =>
        struct((-CdcExpressions.cosineSim(col("v"), lit(c))).as("n"),
          lit(i).as("cid"))
      }: _*)
      val both = df.select(col("id"),
          transform(slice(sort_array(scored), 1, nprobe), p => p.getField("cid")).as("ref"),
          CdcExpressions.nearestCentroids(col("v"), cents, nprobe).as("got"))
        .as[(Long, Seq[Int], Seq[Int])].collect()
      both.foreach { case (id, ref, got) =>
        assert(got === ref, s"id $id nprobe $nprobe")
      }
    }
    // null-element vectors return NULL (explode then drops the row)
    val nulledProbe = Seq((1L, Seq[java.lang.Float](1.0f, null, 2.0f)))
      .toDF("id", "v")
      .selectExpr("id", "CAST(v AS ARRAY<FLOAT>) AS v")
      .select(CdcExpressions.nearestCentroids(col("v"), cents, 3))
      .head()
    assert(nulledProbe.isNullAt(0))
  }

  private implicit class Tup3(rows: Array[(Long, Seq[Long], Long)]) {
    def toMap2: Map[Long, (Seq[Long], Long)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}

class PipelineDefSpec extends SparkSpec {
  test("YAML parses source/sink/transform/route/pipeline blocks") {
    val p = graft.pipeline.PipelineDef.fromYaml(
      """source:
        |  type: parquet
        |  path: /data
        |transform:
        |  - source-table: db.users
        |    projection: "id, UPPER(name) AS name"
        |    filter: "id > 10"
        |    primary-keys: id
        |route:
        |  - source-table: db.\.*
        |    sink-table: ods.<>
        |    replace-symbol: <>
        |sink:
        |  type: values
        |pipeline:
        |  name: my-pipe
        |  parallelism: 4
        |""".stripMargin)
    assert(p.source.kind === "parquet")
    assert(p.transforms.head.projection.contains("id, UPPER(name) AS name"))
    assert(p.transforms.head.primaryKeys === Seq("id"))
    assert(p.routes.head.replaceSymbol.contains("<>"))
    assert(p.name === "my-pipe")
    assert(p.parallelism === 4)
  }
}
