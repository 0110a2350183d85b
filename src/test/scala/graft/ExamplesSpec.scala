package graft

import graft.model.TableId
import graft.operators.{Changelog, Transform}
import graft.pipeline.{Composer, PipelineDef}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructType}

/** Every shipped example pipeline (the YAML files in `examples/`) parses,
  * and each transform's projection and filter analyze and run on the
  * session's installed functions, over a one-row frame of the columns its source declares (`schema.<table-id>`)
  * or reads (a parquet source, from the test data).
  */
class ExamplesSpec extends SparkSpec {

  private val examples = Option(new java.io.File("examples").listFiles()).toSeq.flatten
    .filter(_.getName.endsWith(".yaml")).sortBy(_.getName)

  private def oneRow(struct: StructType): DataFrame = {
    val withSeq = struct.add(Changelog.SeqCol, LongType)
    spark.createDataFrame(java.util.List.of(Row.fromSeq(Seq.fill(withSeq.length)(null))), withSeq)
  }

  private def sources(p: PipelineDef): Seq[(TableId, DataFrame)] = p.source.kind match {
    case "parquet" =>
      val included = p.source.options.get("tables").map(graft.model.Selectors.parse)
      Composer.discoverTables(sf, p.source.options.get("schema-name"))
        .filter { case (id, _) => included.forall(_.matches(id)) }
        .map { case (id, path) => id -> spark.read.parquet(path).limit(1) }
    case _ => Cli.declaredTables(p).map(e => e.tableId -> oneRow(e.schema.struct))
  }

  test("the examples directory holds example pipelines") {
    assert(examples.nonEmpty, s"run from the repository root (cwd ${new java.io.File("").getAbsolutePath})")
  }

  for (f <- examples) test(s"examples/${f.getName}: transforms analyze and run on its source columns") {
    val p = PipelineDef.fromYaml(java.nio.file.Files.readString(f.toPath))
    val tables = sources(p)
    assert(p.transforms.nonEmpty)
    for (rule <- p.transforms) {
      val matched = tables.filter { case (id, _) => rule.selectors.matches(id) }
      assert(matched.nonEmpty, s"no source table for transform ${rule.sourceTable}")
      for ((id, df) <- matched)
        Transform.apply(df, id, rule, passthrough = Seq(Changelog.SeqCol)).collect()
    }
  }
}
