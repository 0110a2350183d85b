package graft.functions

import graft.ops.{Pii, Repetition, TextAnalysis}
import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}

/** Every built-in SQL name of the engine, and the one way a session learns
  * them: [[install]].
  *
  *  - `CDC_*`: the reference's scalar-function parity wrappers
  *    ([[CdcFunctions]]). They format and parse in the session zone
  *    (`spark.sql.session.timeZone`), read when a call is analyzed; a
  *    pipeline's `local-time-zone` must be its session's zone.
  *  - `GET_EMBEDDING`, `AI_CHAT_PREDICT`, `AI_LANGCHAIN_PREDICT`: the AI
  *    function stubs ([[AiFunctions]]).
  *  - the corpus operators, so YAML transforms call them like the
  *    reference's built-in function library (§2.4), e.g.
  *    {{{
  *    transform:
  *      - source-table: corpus.documents
  *        projection: "doc_id, LANG_ID(text) AS lang, PII_REDACT(text) AS text"
  *        filter: "TOKEN_COUNT(text) >= 10 AND REP_RATIO(text) < 0.5"
  *    }}}
  *    Each name maps to the Column-expression tree the Scala API builds
  *    (pure Catalyst, codegen'd, no UDF).
  *  - the native Catalyst expressions `minhash_signature`, `simhash64`,
  *    `hash64`, `mix64` and `cosine_sim`.
  *
  * A pipeline's own `user-defined-function:` and `model:` blocks are not
  * built-ins: they bind per pipeline through [[CdcUdf.register]].
  */
object FunctionCatalog {

  private type Builder = Seq[Expression] => Expression

  // one function instance per (name, zone), so equal calls stay equal
  // expressions (GROUP BY matching, common-subexpression elimination)
  private val zonedFns = new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  /** (name, arity, builder) for every built-in. */
  private val builtins: Seq[(String, Int, Builder)] = {
    // a row-at-a-time JVM function, the expression `spark.udf.register`
    // builds; `f` is evaluated per analyzed call
    def udf(name: String, n: Int, t: DataType)(f: => AnyRef): (String, Int, Builder) =
      (name, n, args => ScalaUDF(f, t, args, udfName = Some(name)))
    def corpus(name: String)(f: Column => Column): (String, Int, Builder) =
      (name, 1, args => GraftBridge.convertedExpression(f(GraftBridge.column(args.head))))
    def native(name: String, n: Int)(f: Builder): (String, Int, Builder) = (name, n, f)

    CdcFunctions.zoned.map { case (name, n, t, f) =>
      udf(name, n, t)(zonedFns.computeIfAbsent((name, SQLConf.get.sessionLocalTimeZone), k => f(k._2)))
    } ++ Seq(
      udf("GET_EMBEDDING", 1, ArrayType(FloatType))((s: String) => AiFunctions.fakeEmbed(s)),
      udf("AI_CHAT_PREDICT", 1, StringType)((s: String) => AiFunctions.fakeChat(s)),
      udf("AI_LANGCHAIN_PREDICT", 1, StringType)((s: String) => AiFunctions.fakeChat(s)),
      corpus("LANG_ID")(TextAnalysis.langId),
      corpus("CLEAN_TEXT")(TextAnalysis.cleanText(_)),
      corpus("TOKEN_COUNT")(TextAnalysis.tokenCount),
      corpus("SUBWORD_COUNT")(TextAnalysis.subwordCount),
      corpus("FINGERPRINT")(TextAnalysis.fingerprint),
      corpus("REP_RATIO")(TextAnalysis.repetitionRatio),
      corpus("PII_REDACT")(Pii.redact),
      corpus("PII_COUNT")(Pii.piiCount),
      // the Gopher repetition rules (ops/Repetition): stats array for
      // projections, fused default-threshold keep for filters; the Gopher
      // word/line rules at default thresholds
      native("REP_STATS", 1)(a => RepetitionStats(a.head)),
      corpus("REP_KEEP")(Repetition.keepColumn),
      corpus("GOPHER_KEEP")(TextAnalysis.gopherKeep(_)),
      // CHAR_BITMAP64 for content-similarity prefilters (the fuzzy-join
      // lower bound: bit_count(a ^ b) <= 2*maxDist); hash64 for
      // deterministic bucketing/sampling expressions in YAML
      native("CHAR_BITMAP64", 1)(a => CharBitmap64(a.head)),
      native("hash64", 1)(a => Hash64(a.head)),
      native("minhash_signature", 1)(a => MinHashSignature(a.head)),
      native("simhash64", 1)(a => SimHash64(a.head)),
      native("mix64", 1)(a => Mix64(a.head)),
      native("cosine_sim", 2)(a => CosineSim(a(0), a(1))))
  }

  /** The built-in names, as registered. */
  val names: Seq[String] = builtins.map(_._1)

  /** Register every built-in name the session lacks. Idempotent: on a
    * session that has them, a second install writes nothing.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    for ((name, n, build) <- builtins if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, { (args: Seq[Expression]) =>
        require(args.length == n, s"$name takes $n argument(s), got ${args.length}")
        build(args)
      }, "built-in")
  }
}
