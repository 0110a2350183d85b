package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson & Spärck Jones probabilistic model,
  * the Okapi BM25 form) — the text-search side of a RAG stack, complementing
  * the ANN operators: score every document for a literal query, return the
  * top k.
  *
  * Scale shape: ONE tokenization pass. Tokens explode and aggregate by
  * doc id into a slim per-doc row carrying `dl` (doc length) plus one
  * bounded conditional count per QUERY term — map-side partials collapse
  * the token stream before the exchange, so the shuffle carries
  * O(docs × |query|) integers, never the token stream. Corpus statistics
  * (N, avgdl, per-term df) are ONE bounded aggregate row collected to the
  * driver (|query|-bounded, the decision-table stance); the score is then a
  * single narrow projection over the per-doc relation feeding
  * `TakeOrderedAndProject` — no second scan, no join.
  *
  * Determinism: the per-term score addends fold in PINNED ascending term
  * order as an explicit left-associated sum, every constant enters the
  * expression the same way on the oracle side, and idf uses
  * `Math.log` ↔ DuckDB `ln` on bit-identical arguments (integer-and-half
  * values — exact), so scores are bit-identical across engines and
  * partitionings. Ties in the top-k cut break by doc id.
  */
object Bm25 {

  /** Lower-cased `[a-z]+` query terms, distinct, ascending — the pinned
    * fold order of [[topK]].
    */
  def queryTerms(query: String): Seq[String] =
    "[a-z]+".r.findAllIn(query.toLowerCase).toSeq.distinct.sorted

  def topK(docs: DataFrame, idCol: String, textCol: String, query: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, "BM25 query has no [a-z]+ terms")
    val toks = docs.select(col(idCol),
      explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("tok"))
    val per = toks.groupBy(col(idCol)).agg(
      count(lit(1)).as("dl"),
      terms.zipWithIndex.map { case (t, i) =>
        count(when(col("tok") === t, 1)).as(s"tf_$i")
      }: _*)
    // bounded corpus statistics: one row, |query|+2 numbers
    val statCols = sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i => count(when(col(s"tf_$i") > 0, 1)).as(s"df_$i"))
    val statsRow = per.agg(count(lit(1)).as("n"), statCols: _*).head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n.toDouble
    // idf_i = ln(1 + (N - df + 0.5)/(df + 0.5)) computed on the driver —
    // exact integer-and-half inputs, one division, one add, one ln: the
    // same op sequence the oracle's ln((n - df + 0.5)/(df + 0.5) + 1.0) runs
    val idf = terms.indices.map { i =>
      val df = statsRow.getLong(2 + i).toDouble
      math.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    }
    val anyHit = terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _)
    per.where(anyHit)
      .select(col(idCol), scoreExpr(terms.size, idf, avgdl, k1, b).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** The pinned-order BM25 score fold over `tf_0..tf_{nTerms-1}` and `dl`
    * columns — ONE expression shared by the brute path and the postings
    * index path, so "indexed == brute" holds bit-for-bit by construction.
    */
  private def scoreExpr(nTerms: Int, idf: Seq[Double], avgdl: Double,
                        k1: Double, b: Double): Column = {
    val k1p1 = lit(k1) + lit(1.0)
    val lenNorm = lit(1.0) - lit(b) + lit(b) * (col("dl") / lit(avgdl))
    (0 until nTerms).foldLeft(lit(0.0): Column) { (acc, i) =>
      acc + lit(idf(i)) *
        (col(s"tf_$i").cast("double") * k1p1 /
          (col(s"tf_$i").cast("double") + lit(k1) * lenNorm))
    }
  }

  private val What = "postings index"

  /** Persist the inverted index, one [[IndexMaintenance]] build: postings
    * (tok, doc_id, tf) Hive-partitioned by `pmod(xxhash64(tok),
    * termBuckets)` — a probe reads ONLY the partitions its own query terms
    * hash into (file-listing pruning, the IVF-lists stance) — plus the
    * doc-length table and the one-row corpus stats. `termBuckets` is pinned
    * in the manifest. Build cost is the same single tokenization pass the
    * brute path pays ONCE, amortized over every subsequent query.
    */
  def writePostings(docs: DataFrame, idCol: String, textCol: String,
                    path: String, termBuckets: Int = 64): Unit =
    IndexMaintenance.build(docs.sparkSession, path) { fresh =>
      writeDocs(docs, idCol, textCol, path, termBuckets, fresh)
      termBuckets
    }

  /** Postings, doc lengths and one stats delta row (n, sum_dl) of `docs`,
    * each into a fresh dir: stats are delta rows because increments
    * commute, and probes SUM them.
    */
  private def writeDocs(docs: DataFrame, idCol: String, textCol: String, path: String,
                        termBuckets: Int, fresh: IndexMaintenance.Fresh): Unit = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(termBuckets)))
      .write.partitionBy("bucket").parquet(s"$path/${fresh("postings")}")
    val doclens = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    doclens.write.parquet(s"$path/${fresh("doclens")}")
    doclens.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.parquet(s"$path/${fresh("stats")}")
  }

  /** Append a DISJOINT batch of new documents to a persisted postings
    * index — the streaming-ingest growth path ([[IndexMaintenance.append]]).
    * Postings and doc lengths are purely additive because doc sets are
    * disjoint; corpus stats land as one more delta row. df/avgdl/N at probe
    * time therefore reflect every append, so an incremental index scores
    * IDENTICALLY to a fresh full build. Each append adds one dir per
    * relation; [[compactPostings]] coalesces them.
    */
  def appendToPostings(docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    IndexMaintenance.append(docs.sparkSession, path, What) { (base, fresh) =>
      writeDocs(docs, idCol, textCol, path, base.partitions, fresh)
    }

  /** Compact a persisted postings index: rewrite its postings, doc lengths
    * and stats deltas, which every append grows by one dir each, as one dir
    * each — the stats as ONE (n, sum_dl) row — so a probe again lists one
    * dir per relation ([[IndexMaintenance.compact]]). Scores are unchanged:
    * the rows are the same and the stats sums are exact. An append that
    * published meanwhile keeps its dirs.
    */
  def compactPostings(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    IndexMaintenance.compact(spark, path, What, Seq("postings", "doclens", "stats")) { (base, fresh) =>
      def rel(name: String) = IndexMaintenance.read(spark, path, base, name)
      rel("postings").repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(s"$path/${fresh("postings")}")
      rel("doclens").write.parquet(s"$path/${fresh("doclens")}")
      rel("stats").agg(sum(col("n")).as("n"), sum(col("sum_dl")).as("sum_dl"))
        .coalesce(1).write.parquet(s"$path/${fresh("stats")}")
    }

  /** Query the persisted index: read only the query terms' bucket
    * partitions, pivot the matching postings to per-doc tf columns, join
    * doc lengths for the survivors, score with the SAME fold as [[topK]].
    * Output is bit-identical to the brute path by construction — same
    * stats, same tf values, same expression.
    */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                  query: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val idx = IndexMaintenance.current(spark, path, What)
    def rel(name: String) = IndexMaintenance.read(spark, path, idx, name)
    val termBuckets = idx.partitions
    val terms = queryTerms(query)
    require(terms.nonEmpty, "BM25 query has no [a-z]+ terms")
    val statsRow = rel("stats")
      .agg(sum(col("n")), sum(col("sum_dl"))).head()
    val n = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / n.toDouble
    // bucket pruning: the partition-column IN-list prunes at listing time
    val buckets = terms.map(t =>
      spark.range(1).select(pmod(xxhash64(lit(t)), lit(termBuckets)))
        .head().getLong(0)).distinct
    val hits = rel("postings")
      .where(col("bucket").isin(buckets: _*) && col("tok").isin(terms: _*))
    val perDoc = hits.groupBy("doc_id").agg(
      terms.zipWithIndex.map { case (t, i) =>
        coalesce(max(when(col("tok") === t, col("tf"))), lit(0L)).as(s"tf_$i")
      }.head,
      terms.zipWithIndex.drop(1).map { case (t, i) =>
        coalesce(max(when(col("tok") === t, col("tf"))), lit(0L)).as(s"tf_$i")
      }: _*)
    val dfRow = perDoc.agg(
      count(when(col("tf_0") > 0, 1)).as("df_0"),
      terms.indices.drop(1).map(i =>
        count(when(col(s"tf_$i") > 0, 1)).as(s"df_$i")): _*).head()
    val idf = terms.indices.map { i =>
      val df = dfRow.getLong(i).toDouble
      math.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    }
    perDoc
      .join(rel("doclens"), Seq("doc_id"))
      .select(col("doc_id"), scoreExpr(terms.size, idf, avgdl, k1, b).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The DuckDB replay of [[topK]] — identical op sequence, term-for-term. */
  def oracleSql(table: String, idCol: String, textCol: String, query: String,
                k: Int, k1: Double = 1.2, b: Double = 0.75): String = {
    val terms = queryTerms(query)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"count(*) FILTER (WHERE tok = '$t') AS tf_$i"
    }.mkString(",\n         ")
    val dfCols = terms.indices.map(i =>
      s"count(*) FILTER (WHERE tf_$i > 0) AS df_$i").mkString(",\n         ")
    val addends = terms.indices.map { i =>
      s"""ln((CAST(st.n AS DOUBLE) - CAST(df_$i AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |        / (CAST(df_$i AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
         |      * (CAST(tf_$i AS DOUBLE) * (CAST($k1 AS DOUBLE) + CAST(1.0 AS DOUBLE))
         |        / (CAST(tf_$i AS DOUBLE) + CAST($k1 AS DOUBLE)
         |          * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)
         |            + CAST($b AS DOUBLE) * (CAST(dl AS DOUBLE) / st.avgdl))))""".stripMargin
    }
    val score = addends.foldLeft("CAST(0.0 AS DOUBLE)")((acc, a) => s"($acc\n    + $a)")
    val anyHit = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""WITH toks AS (
       |  SELECT $idCol, unnest(regexp_extract_all(lower($textCol), '[a-z]+', 0)) AS tok
       |  FROM $table),
       |per AS (
       |  SELECT $idCol, count(*) AS dl,
       |         $tfCols
       |  FROM toks GROUP BY 1),
       |st AS (
       |  SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
       |         $dfCols
       |  FROM per)
       |SELECT $idCol, $score AS score
       |FROM per, st WHERE $anyHit
       |ORDER BY score DESC, $idCol LIMIT $k""".stripMargin
  }
}
