package graft
import java.nio.file.{Files, Paths}
import graft.Bench.jstr
/** Driver-run correctness dump: each SparkEntry.catalog result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: only dump queries whose name contains one of them
    val filters = args.drop(2).toSeq
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // ONE filtered collection: the dump loop and the summary line's count
    // must not re-derive the predicate separately and drift
    val selected = SparkEntry.catalog
      .filter(q => filters.isEmpty || filters.exists(q.name.contains))
    for (q <- selected) {
      val name = q.name
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = (e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)).take(300)
      }
    }
    // RowsOnly entries get no key: check_oracle.py then checks rows > 0
    val json = SparkEntry.catalog
      .collect { case SparkEntry.Q(name, SparkEntry.Oracle(sql), _) => name -> sql }.toMap
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // durable per-query failure record: a query that dies in analysis is
    // otherwise ABSENT from the dump, and a downstream correctness report
    // built from present dirs alone silently shrinks its denominator
    // (exactly the round-9 artifact defect). Empty object when clean.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}"))
    // compact self-describing summary as the LAST stdout line — the
    // driver's artifact capture keeps only the stdout tail (see
    // Bench.summaryLine); per-query detail stays in the outDir files.
    // Every variable-width field goes through Bench.jsonStr (escaped,
    // bounded by UTF-8 bytes of the ESCAPED form, surrogate-safe), so the
    // whole line stays under the same ≤500-byte tail budget summaryLine
    // pins — a non-ASCII outDir or a pathological query name can only
    // truncate, never grow the line (the size is pinned in spec).
    val summary = summaryLine(selected.size, failures.size,
      failures.keys.toSeq, outDir)
    // ...and to a fixed liftable path: the bench-side stdout-tail
    // mitigation worked (the driver's BENCH record carried an intact
    // bench_summary line in r17); give the correctness side the same two
    // chances — a tail line AND a file any future driver capture can lift
    try {
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/verify-latest.json"), summary + "\n")
      ()
    } catch { case _: Exception => () } // the stdout line still carries it
    // scalastyle:off println
    println(summary)
    // scalastyle:on
    spark.stop()
  }

  /** The compact verify record line — byte-bounded so it survives a
    * stdout tail window intact (Bench.summaryLine's contract), pinned
    * ≤500 bytes in BenchAdjudicateSpec ("Verify summary line stays under
    * the tail window with hostile fields").
    */
  def summaryLine(nQueries: Int, nFailures: Int, failedKeys: Seq[String],
                  outDir: String): String =
    s"""{"metric":"verify_summary","n_queries":$nQueries,""" +
      s""""n_failures":$nFailures,""" +
      s""""failed":${failedKeys.take(5).map(Bench.jsonStr(_, maxBytes = 48))
        .mkString("[", ",", "]")},""" +
      s""""out":${Bench.jsonStr(outDir, maxBytes = 120)}}"""
}
