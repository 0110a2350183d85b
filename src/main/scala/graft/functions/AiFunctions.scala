package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The reference's AI/LLM transform functions
  * (runtime/parser/metadata/TransformSqlOperatorTable.java:355-385; model UDFs
  * flink-cdc-pipeline-model/.../OpenAIChatModel.java:43-74,
  * OpenAIEmbeddingModel.java:47-90; config ModelOptions.java:27-50).
  *
  * ==STUBS== This container has zero egress, so the HTTP call to the model
  * host is replaced by a DETERMINISTIC FAKE; the Spark-side plumbing —
  * registration, signatures, `ArrayType(FloatType)` embedding columns — is the
  * real production shape. Swap `fakeEmbed`/`fakeChat` for an HTTP client bound
  * to `model:` options (openai.host/apikey/model.name) in a connected deploy.
  */
object AiFunctions {
  val EmbeddingDim = 64

  /** Deterministic fake embedding: token hashes folded into a fixed-dim
    * unit-normalized vector. Stands in for OpenAIEmbeddingModel.eval.
    */
  def fakeEmbed(text: String): Array[Float] = {
    val v = new Array[Float](EmbeddingDim)
    if (text != null) {
      for (tok <- text.toLowerCase.split("\\W+") if tok.nonEmpty) {
        var h = 1125899906842597L // polynomial rolling hash over the token
        for (c <- tok) h = 31 * h + c
        val idx = ((h % EmbeddingDim) + EmbeddingDim) % EmbeddingDim
        v(idx.toInt) += (if (((h >>> 32) & 1) == 0) 1.0f else -1.0f)
      }
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }

  /** Stands in for OpenAIChatModel.eval(String): deterministic canned reply. */
  def fakeChat(prompt: String): String =
    if (prompt == null) null else s"[stub-model] ${prompt.take(64)}"

  /** Register a named model from a YAML `model:` block (ModelDef) — the model
    * name becomes a callable UDF, like the reference's TransformTranslator
    * wiring (composer/definition/ModelDef.java, TransformTranslator.java:51-132).
    * Embedding-flavored models return ARRAY<FLOAT>, chat models STRING.
    */
  def registerModel(spark: SparkSession, name: String, options: Map[String, String]): Unit = {
    val embeds = options.getOrElse("model-name", options.getOrElse("openai.model", "chat"))
      .toLowerCase.contains("embed")
    val modelName = name
    CdcUdf.register(spark, new CdcUdf {
      def name: String = modelName
      def returnType: DataType = if (embeds) ArrayType(FloatType) else StringType
      def eval(args: Seq[Any]): Any = {
        val text = args.head.asInstanceOf[String]
        if (embeds) fakeEmbed(text) else fakeChat(text)
      }
    })
  }
}
