package graft.pipeline

import graft.operators.{RouteRule, TransformRule}

import scala.jdk.CollectionConverters._

/** Parsed pipeline definition — the reference's `PipelineDef`
  * (flink-cdc-composer/.../definition/PipelineDef.java) built from the same
  * YAML keys the reference CLI parses
  * (cli/parser/YamlPipelineDefinitionParser.java:59-87:
  * source / sink / transform / route / pipeline / model / user-defined-function),
  * plus this engine's `monitor` block ([[MonitorDef]] — per-cell t-digest
  * quantile sketch tables folded per batch), `curate` block
  * ([[CurateDef]] — persisted token-budget histogram assets folded per
  * batch, selected via `graft.Cli budget-select`), `split` block
  * ([[SplitDef]] — named deterministic md5-band splits over sink tables,
  * read via `graft.Cli split-select`), `sample` block ([[SampleDef]] —
  * deterministic uniform/stratified md5-threshold samples, read via
  * `graft.Cli sample-select`), and `mix` block ([[MixDef]] —
  * temperature-scaled mixture rebalancing, read via `graft.Cli
  * mix-select`).
  *
  * `source-table` is REQUIRED for transform and route blocks (parse-time
  * refusal, the reference's YamlPipelineDefinitionParser contract — a
  * forgotten selector must not silently apply a projection to every
  * table). For the engine-side monitor/curate extensions an omitted
  * `source-table` defaults to `\.*` — ONE part whose un-escaped regex
  * `.*` matches any table name. A literal `.*` default would split on
  * the unescaped dot into an empty part plus the invalid part-regex `*`
  * (dangling quantifier) and throw on first match
  * ([[graft.model.Selectors]] splits entries on unescaped dots, the
  * reference's RegExSplitterByDot).
  */
final case class SourceDef(kind: String, options: Map[String, String])
final case class SinkDef(kind: String, options: Map[String, String])
final case class UdfDef(name: String, classpath: String)
final case class ModelDef(name: String, options: Map[String, String])

final case class PipelineDef(
    source: SourceDef,
    sink: SinkDef,
    transforms: Seq[TransformRule] = Nil,
    routes: Seq[RouteRule] = Nil,
    udfs: Seq[UdfDef] = Nil,
    models: Seq[ModelDef] = Nil,
    monitors: Seq[MonitorDef] = Nil,
    curations: Seq[CurateDef] = Nil,
    splits: Seq[SplitDef] = Nil,
    samples: Seq[SampleDef] = Nil,
    mixes: Seq[MixDef] = Nil,
    config: Map[String, String] = Map.empty
) {
  def name: String = config.getOrElse("name", "graft-pipeline")
  def parallelism: Int = config.getOrElse("parallelism", "1").toInt
  def localTimeZone: String = config.getOrElse("local-time-zone", "UTC")
  def schemaChangeBehavior: String = config.getOrElse("schema.change.behavior", "EVOLVE")
}

object PipelineDef {

  /** An integer option, or `default` when absent; a malformed value is
    * refused with its key.
    */
  def intOption(options: Map[String, String], key: String, default: Int): Int =
    options.get(key).fold(default)(v => v.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"`$key` must be an integer, got '$v'")))

  /** Parse the reference's YAML pipeline spec (snakeyaml ships with Spark). */
  def fromYaml(yaml: String): PipelineDef = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](yaml).asScala

    def strMap(o: Object): Map[String, String] = o match {
      case null => Map.empty
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) => k.toString -> (if (v == null) "" else v.toString) }.toMap
      case other => throw new IllegalArgumentException(s"expected mapping, got $other")
    }
    def blockList(o: Object): Seq[Map[String, String]] = o match {
      case null => Nil
      case l: java.util.List[_] => l.asScala.toSeq.map(e => strMap(e.asInstanceOf[Object]))
      case other => throw new IllegalArgumentException(s"expected list, got $other")
    }

    val sourceOpts = strMap(root.getOrElse("source", null))
    val sinkOpts = strMap(root.getOrElse("sink", null))

    // transform and route REQUIRE source-table (and route sink-table) at
    // parse time, matching the reference's YamlPipelineDefinitionParser
    // (toTransformDef/toRouteDef checkNotNull): a forgotten source-table
    // silently applying a projection/filter to EVERY table is worse than
    // a parse error. The match-all `\.*` default remains the documented
    // convenience for the engine-side monitor/curate extensions only.
    def req(block: String, m: Map[String, String], k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(
        s"""missing required field "$k" in $block configuration"""))

    val transforms = blockList(root.getOrElse("transform", null)).map { m =>
      TransformRule(
        sourceTable = req("transform", m, "source-table"),
        projection = m.get("projection"),
        filter = m.get("filter"),
        primaryKeys = m.get("primary-keys").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
        partitionKeys = m.get("partition-keys").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
        tableOptions = Map.empty,
        postTransformConverter = m.get("converter-after-transform"),
        description = m.get("description"))
    }
    val routes = blockList(root.getOrElse("route", null)).map { m =>
      RouteRule(
        sourceTable = req("route", m, "source-table"),
        sinkTable = req("route", m, "sink-table"),
        replaceSymbol = m.get("replace-symbol"),
        description = m.get("description"))
    }
    val udfs = blockList(root.getOrElse("user-defined-function", null))
      .map(m => UdfDef(m("name"), m("classpath")))
    val models = blockList(root.getOrElse("model", null))
      .map(m => ModelDef(m.getOrElse("model-name", m.getOrElse("name", "model")), m))
    val monitors = blockList(root.getOrElse("monitor", null)).map { m =>
      MonitorDef(
        sourceTable = m.getOrElse("source-table", "\\.*"),
        dims = m.get("dims").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil),
        value = m.getOrElse("value",
          throw new IllegalArgumentException("monitor block needs `value`")),
        path = m.getOrElse("path",
          throw new IllegalArgumentException("monitor block needs `path`")),
        compression = m.getOrElse("compression", "100").toInt)
    }

    val curations = blockList(root.getOrElse("curate", null)).map { m =>
      def req(k: String): String = m.getOrElse(k,
        throw new IllegalArgumentException(s"curate block needs `$k`"))
      CurateDef(
        sourceTable = m.getOrElse("source-table", "\\.*"),
        idColumn = req("id-column"),
        score = req("score"),
        tokens = req("tokens"),
        path = req("path"),
        lo = req("lo").toDouble,
        hi = req("hi").toDouble,
        bins = m.getOrElse("bins", "4096").toInt,
        retract = m.getOrElse("retract", "false").toBoolean)
    }

    val splits = blockList(root.getOrElse("split", null)).map { m =>
      def reqS(k: String): String = m.getOrElse(k,
        throw new IllegalArgumentException(s"split block needs `$k`"))
      SplitDef(
        sourceTable = m.getOrElse("source-table", "\\.*"),
        key = reqS("key"),
        weights = SplitDef.parseWeights(reqS("splits")))
    }

    // numeric fields refuse with the block and field NAMED — a bare
    // NumberFormatException from a YAML typo gives the operator nothing
    def num(block: String, k: String, v: String): Double =
      try v.toDouble
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"""$block field "$k" must be numeric, got '$v'""")
      }

    val samples = blockList(root.getOrElse("sample", null)).map { m =>
      // a uniform `rate:` block has no unlisted strata for `default-rate`
      // to apply to — silently parsing-then-ignoring it would depart from
      // the refuse-at-definition stance every other meaningless field
      // combination gets (e.g. rate+rates)
      if (m.contains("rate") && m.contains("default-rate"))
        throw new IllegalArgumentException(
          "sample block: `default-rate` applies only to stratified blocks " +
            "— a uniform `rate` block must not also set it")
      SampleDef(
        sourceTable = m.getOrElse("source-table", "\\.*"),
        key = m.getOrElse("key",
          throw new IllegalArgumentException("sample block needs `key`")),
        rate = m.get("rate").map(num("sample", "rate", _)),
        stratum = m.get("stratum"),
        rates = m.get("rates").map(SplitDef.parseWeights(_, "sample rates")).getOrElse(Nil),
        defaultRate = num("sample", "default-rate", m.getOrElse("default-rate", "1.0")))
    }

    val mixes = blockList(root.getOrElse("mix", null)).map { m =>
      def reqM(k: String): String = m.getOrElse(k,
        throw new IllegalArgumentException(s"mix block needs `$k`"))
      // alpha XOR temperature (alpha = 1/T) — both would be ambiguous,
      // neither is underspecified
      val alpha = (m.get("alpha"), m.get("temperature")) match {
        case (Some(a), None) => num("mix", "alpha", a)
        case (None, Some(t)) =>
          val temp = num("mix", "temperature", t)
          require(temp >= 1, s"mix temperature must be >= 1: $temp")
          1.0 / temp
        case _ => throw new IllegalArgumentException(
          "mix block needs exactly one of `alpha` or `temperature`")
      }
      MixDef(
        sourceTable = m.getOrElse("source-table", "\\.*"),
        key = reqM("key"),
        stratum = reqM("stratum"),
        alpha = alpha)
    }

    PipelineDef(
      source = SourceDef(sourceOpts.getOrElse("type", "parquet"), sourceOpts),
      sink = SinkDef(sinkOpts.getOrElse("type", "values"), sinkOpts),
      transforms = transforms,
      routes = routes,
      udfs = udfs,
      models = models,
      monitors = monitors,
      curations = curations,
      splits = splits,
      samples = samples,
      mixes = mixes,
      config = strMap(root.getOrElse("pipeline", null)))
  }
}
