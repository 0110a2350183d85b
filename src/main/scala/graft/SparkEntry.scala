package graft

import graft.model.TableId
import graft.operators.{AsOfJoin, Changelog, RangeJoin, RouteRule, SchemaDerivator, Sessionize, TableIdRouter, Transform, TransformRule}
import graft.ops.{Dedup, Multimodal, Reputation, Similarity, TextAnalysis}
import graft.pipeline.{Composer, PipelineDef}
import graft.sources.ChunkSplitter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every entry in [[catalog]] is one operator from SURVEY.md §2 (or one of the
  * training-data-pipeline extensions), run over the driver-provided parquet
  * tables at the given sf dir. Its [[Oracle]] carries a DuckDB-equivalent ANSI
  * SQL statement; `tools/check_oracle.py` hash-compares the two after sorting
  * columns by name, so every computed column is aliased identically on both
  * sides.
  */
object SparkEntry {

  /** One memo for every fixture: a table's frame, a persisted index, a
    * loaded pipeline. Keyed on (session, name, dir), so a fixture built
    * under one session is never served to another. Entries live for the
    * JVM and pin their session: nothing is ever evicted. The map holds a
    * lazy holder that is forced outside the map's compute, so a build may
    * itself call `memo` or [[t]] (a re-entrant
    * `ConcurrentHashMap.computeIfAbsent` throws "Recursive update").
    */
  private[graft] def memo[T](name: String, dir: String)(build: => T)(
      implicit spark: SparkSession): T =
    memos.computeIfAbsent((spark, name, dir), _ => new Once(build)).value.asInstanceOf[T]
  private final class Once[T](build: => T) { lazy val value: T = build }
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Once[Any]]()

  /** A fresh dir under `java.io.tmpdir`; one shutdown hook deletes every dir
    * handed out, so fixtures and per-run query state do not outlive the JVM.
    */
  private[graft] def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }
  private lazy val tempDirs = {
    val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))))
    dirs
  }

  // NOTE (r19, measured): do NOT blanket-spread this accessor. The driver
  // fixtures are single-row-group files (scans can't split), but an
  // in-JVM alternating A/B of Spread.across here read 1.5-2.6x SLOWER on
  // 14 of 20 hot queries (TPC-H join trees, changelog folds, scan-bound
  // text passes) — the extra round-robin stage costs more than the
  // unlocked cores return except where a genuinely expensive per-row
  // chain sits above the scan (JSON wire codecs: see ChangelogJson).
  //
  // The RELATION (not its data) is memoized: every bare
  // `spark.read.parquet` lists the path and reads a footer for schema
  // inference ON THE DRIVER at construction time, and the suite builds
  // each table's frame thousands of times over a fixed dir. Reusing the
  // immutable DataFrame removes that driver-side metadata cost (guide
  // §5/§6: listing and planning are single-process driver work) while
  // every action still scans the parquet — nothing about RESULTS is
  // cached, exactly like a catalog table's resolved relation.
  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    memo(s"table/$name", dir)(spark.read.parquet(s"$dir/$name.parquet"))

  /** Flagship: the minimum end-to-end YAML pipeline slice (SURVEY.md §7.3)
    * on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    query("q_pipeline_yaml").build(spark, "/root/testdata/sf0.001")

  // ---- changelog fixture: events table replayed as a CDC stream ----
  // pk = user_id, seq = event_id (monotone), op: 'error' events are DELETEs,
  // everything else an upsert (REPLACE) — the shape a Debezium feed lands in.
  /** Payload shape of the events changelog on the debezium/canal wire. */
  private val eventsPayloadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))

  /** Once-per-session persisted fuzzy-join blocking-key index over the
    * non-probe documents (doc_id % 4 != 0): `q_fuzzy_join_probe` measures
    * the steady-state per-batch probe, with the one-time build outside its
    * timed body (the [[minhashIndexFor]] split). Returns (path, dfCap) —
    * the cap is part of the index's frozen-order contract and must be
    * identical on the probe side.
    */
  private def fuzzyIndexFor(dir: String)(implicit spark: SparkSession): (String, Int) =
    memo("fuzzyIndex", dir) {
      val idxDir = tempDir("graft-fzidx-shared")
      val keys = t(dir, "documents")
        .select(col("doc_id"), expr("substring(text, 1, 32)").as("k"))
        .where(length(col("k")) >= 3)
      val idxSide = keys.where(col("doc_id") % 4 =!= 0)
      // same corpus-scaling discipline as q_fuzzy_join, over the INDEXED side
      val dfCap = math.max(100L, idxSide.count() / 25).toInt
      graft.ops.FuzzyJoin.writeIndex(idxSide, "doc_id", "k", idxDir, dfCap = dfCap)
      (idxDir, dfCap)
    }

  /** Once-per-session shared IVF-SQ8 index over the embeddings table (the
    * steady-state deployment shape: the index exists, queries pay only the
    * pruned probe — like [[minhashIndexFor]]).
    */
  private def ivfSq8IndexFor(dir: String)(implicit spark: SparkSession): String =
    memo("ivfSq8Index", dir) {
      val idxDir = tempDir("graft-ivfsq8-shared")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      graft.ops.Ivf.writeIndexSq8(emb, "vec_id", "embedding", model, idxDir)
      idxDir
    }
  /** Once-per-session shared FLOAT IVF index ([[graft.ops.Ivf.writeIndex]])
    * over the embeddings table — the list side `q_knn_join_indexed` reads,
    * so the bench row times the PROBE alone: the train + corpus assignment
    * a deployment pays once live here, not in the timed query. Same model
    * constants as `q_knn_join` (k=16, iters=2, deterministic seeding), so
    * both queries share one oracle replay.
    */
  private def ivfFloatIndexFor(dir: String)(implicit spark: SparkSession): String =
    memo("ivfFloatIndex", dir) {
      val idxDir = tempDir("graft-ivf-shared")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      val assigned = graft.ops.Ivf.assign(emb, "vec_id", "embedding", model)
      graft.ops.Ivf.writeIndex(assigned, model, idxDir)
      idxDir
    }

  // one persisted minhash index per (session, sf dir): q_dedup_incremental_probe
  // measures the steady-state probe a deployment pays per micro-batch, so the
  // one-time build must not be inside its timed body
  private def minhashIndexFor(dir: String)(implicit spark: SparkSession): String =
    memo("minhashIndex", dir) {
      val idxDir = tempDir("graft-mhidx-shared")
      Dedup.writeMinhashIndex(spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", idxDir)
      idxDir
    }

  // jsonl mirror of the documents table, written once per (session, dir): the
  // read path under test is `spark.read.schema(...).json` — the query
  // measures reading, not re-exporting
  private def jsonlDocsFor(dir: String)(implicit spark: SparkSession): String =
    memo("jsonlDocs", dir) {
      val out = tempDir("graft-jsonl")
      spark.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").json(out)
      out
    }

  /** The one no-split packing capacity: `q_pack_bins`, its audit's
    * overfull predicate, and the DuckDB oracle contract
    * ([[OracleHashSql.packBinsAudit]], which pins overfull bins to literal
    * 0 regardless) all key off this single constant so a capacity change
    * cannot silently drift one of them.
    */
  private[graft] val PackCapacity = 128

  private def orcDocsFor(dir: String)(implicit spark: SparkSession): String =
    memo("orcDocs", dir) {
      val out = tempDir("graft-orc")
      spark.read.parquet(s"$dir/documents.parquet")
        .write.mode("overwrite").orc(out)
      out
    }

  private def csvEventsFor(dir: String)(implicit spark: SparkSession): String =
    memo("csvEvents", dir) {
      val out = tempDir("graft-csv")
      events(dir).select("event_id", "user_id", "event_type", "value", "ts_us")
        .write.mode("overwrite").option("header", "true").csv(out)
      out
    }

  // trained-tokenizer cache: a deployment trains the tokenizer ONCE and
  // applies it per batch — q_bpe_encode measures the apply (broadcast
  // word→subwords join), not the training loop (q_bpe_merges measures that)
  private def bpeVocabFor(dir: String)(implicit spark: SparkSession): DataFrame =
    memo("bpeVocab", dir) {
      val (_, vocab) = graft.ops.Bpe.trainMerges(
        t(dir, "documents"), col("text"), numMerges = 10)
      vocab.localCheckpoint() // pin: the cached plan must not re-train
    }

  /** Once-per-(session, dir) persisted budget-histogram asset for
    * `q_token_budget_incremental` — the bpeVocabFor discipline: a
    * deployment maintains the asset continuously and SELECTS per run, so
    * the query measures the selection off the maintained asset, not
    * asset bring-up; and repeated bench/probe invocations stop leaking a
    * fresh temp directory each (the asset dir is reclaimed at JVM exit).
    * Two half-corpus appends: per-bin integer sums are a commutative
    * monoid, folded == one-shot exactly.
    */
  private def budgetHistFor(dir: String)(implicit spark: SparkSession): String =
    memo("budgetHist", dir) {
      val root = tempDir("graft-tb-incr")
      val path = s"$root/hist"
      val docs = t(dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("tok"))
        .where(col("tok") >= 1)
      val score = col("n_chars").cast("double") / col("tok")
      graft.ops.Sampling.appendBudgetHistogram(
        docs.where(col("doc_id") % 2 === 0), score, col("tok"),
        path, lo = 0.0, hi = 64.0)
      graft.ops.Sampling.appendBudgetHistogram(
        docs.where(col("doc_id") % 2 === 1), score, col("tok"),
        path, lo = 0.0, hi = 64.0)
      path
    }

  /** Once-per-(session, dir) persisted PCA suffstats asset for `q_pca_audit`
    * — the budgetHistFor discipline (VERDICT r15 What's-wrong #4): a
    * deployment maintains the asset continuously and AUDITS per run, so
    * the timed body is the audit READ (one head() off the bounded asset
    * + the d(d+1)/2 driver-side triangle expansion), not temp-dir
    * bring-up. Two half-corpus appends exercise the incremental fold;
    * the asset dir is reclaimed at JVM exit.
    */
  private def pcaStatsFor(dir: String)(implicit spark: SparkSession): String =
    memo("pcaStats", dir) {
      val root = tempDir("graft-pca-audit")
      val path = s"$root/stats"
      val emb = t(dir, "embeddings")
      graft.ops.Pca.appendStats(
        emb.where(col("vec_id") % 2 === 0), "embedding", path)
      graft.ops.Pca.appendStats(
        emb.where(col("vec_id") % 2 === 1), "embedding", path)
      path
    }

  /** Once-per-session LOADED streaming state: the full events changelog already
    * merged into a parquet upsert sink, plus a pinned 10k-row re-batch.
    * `q_stream_steady` measures what a deployment pays PER MICRO-BATCH —
    * merging a batch into existing state — with the one-time bring-up
    * (sink creation + initial snapshot load) outside the timed body, the
    * same split the dedup index gets via `q_dedup_incremental_probe`.
    * Replaying rows the state already holds is the worst-case-shaped but
    * result-neutral batch: last-write-wins on equal `__seq` leaves the
    * state bit-identical, so the oracle is `q_stream_pipeline`'s.
    */
  private def streamSteadyFor(dir: String)(implicit spark: SparkSession) =
    memo("streamSteady", dir) {
      val srcId = TableId.of("db", "events")
      val schema = graft.model.CdcSchema.of(
        "user_id" -> "BIGINT", "event_type" -> "STRING", "value" -> "DOUBLE")
        .copy(primaryKeys = Seq("user_id"))
      val out = tempDir("graft-stream-steady")
      // scale-adaptive layout: bucket count derived from the snapshot batch
      // and pinned in the table's layout meta (r20; guide §6 file sizing)
      val sink = new graft.sinks.ParquetUpsertSink(out,
        buckets = graft.sinks.ParquetUpsertSink.AutoBuckets)
      val pipe = new graft.streaming.StreamingPipeline(
        new graft.operators.SchemaRegistry(), sink = sink)
      pipe.applySchemaChange(graft.model.CreateTableEvent(srcId, schema))
      pipe.processBatch(
        graft.sinks.ChangelogJson.debezium(eventsChangelog(spark, dir), srcId), 0L)
      val batch = graft.sinks.ChangelogJson.debezium(
        eventsChangelog(spark, dir).limit(10000), srcId).localCheckpoint()
      (pipe, sink, batch, srcId)
    }

  // steady-state incremental-view inputs, bootstrapped once per (session, dir):
  // q_agg_view_steady times ONLY the per-micro-batch mergeAggregate — the
  // cost a deployment pays per batch — with the state/view bring-up
  // outside the timed body (the q_stream_steady / q_dedup_incremental_probe
  // split). Real 90/10 seq split, NOT a replay: mergeAggregate's contract
  // requires batch seqs strictly after the state's.
  private def aggViewFor(dir: String)(implicit spark: SparkSession) =
    memo("aggView", dir) {
      val ch = eventsChangelog(spark, dir)
      val maxSeq = t(dir, "events").agg(max("event_id")).head().getLong(0)
      val split = maxSeq * 9 / 10
      val state = Changelog.materialize(
        ch.where(col(Changelog.SeqCol) <= split), Seq("user_id")).localCheckpoint()
      val view = Changelog.aggregate(state, Seq("event_type"), Seq("value"))
        .localCheckpoint()
      val batch = ch.where(col(Changelog.SeqCol) > split).localCheckpoint()
      (view, state, batch)
    }

  /** Once-per-(session, dir) CURATED pipeline: the `curate:` YAML block run on
    * the batch composer path — the pipeline materializes a filtered
    * documents projection to a parquet sink and folds the budget-histogram
    * asset after delivery (Cli.runBatch, the deployed lifecycle).
    * `q_yaml_budget` then measures what an operator pays per selection:
    * `budget-select` off the maintained asset, never the pipeline re-run
    * (the budgetHistFor / bpeVocabFor discipline; a re-run would be
    * IDEMPOTENT on the asset — the batch path rebuilds, not folds — just
    * wasted work). Temp dirs reclaimed at JVM exit.
    */
  private def yamlBudgetFor(dir: String)(implicit spark: SparkSession): graft.pipeline.PipelineDef =
    memo("yamlBudget", dir) {
      val root = tempDir("graft-yaml-budget")
      val yaml =
        s"""source:
           |  type: parquet
           |  path: $dir
           |  schema-name: corpus
           |  tables: corpus.documents
           |transform:
           |  - source-table: corpus.documents
           |    projection: "doc_id, n_chars, source, TOKEN_COUNT(text) AS tok"
           |    filter: "TOKEN_COUNT(text) >= 1"
           |route:
           |  - source-table: corpus.documents
           |    sink-table: out.docs
           |curate:
           |  - source-table: out.docs
           |    id-column: doc_id
           |    score: "CAST(n_chars AS DOUBLE) / tok"
           |    tokens: tok
           |    path: $root/hist
           |    lo: 0.0
           |    hi: 64.0
           |split:
           |  - source-table: out.docs
           |    key: source
           |    splits: "train:0.8,valid:0.1,test:0.1"
           |sample:
           |  - source-table: out.docs
           |    key: doc_id
           |    stratum: source
           |    rates: "src1:0.25,src2:0.5"
           |    default-rate: 0.75
           |mix:
           |  - source-table: out.docs
           |    key: doc_id
           |    stratum: source
           |    temperature: 2.0
           |sink:
           |  type: parquet
           |  path: $root/out
           |""".stripMargin
      val p = graft.pipeline.PipelineDef.fromYaml(yaml)
      Cli.runBatch(spark, p)
      p
    }

  /** Once-per-session RAG store: documents chunked (40-token windows, stride
    * 32), each chunk stub-embedded, the embeddings PERSISTED (at 100 TB
    * the chunk-embedding table is a materialized asset, not a recompute —
    * the exact-rerank IN-pushdown reads it, never re-embeds the corpus),
    * and an IVF-SQ8 index built over them. Chunk identity packs as
    * doc_id·2^20 + chunk_ix, the stable id [[graft.ops.TextAnalysis.chunkText]]
    * exists to provide.
    */
  private def chunkEmbedIndexFor(dir: String)(implicit spark: SparkSession): (String, String) =
    memo("chunkEmbedIndex", dir) {
      val embDir = tempDir("graft-chunkemb")
      val idxDir = tempDir("graft-chunkidx")
      val embedUdf = udf(graft.functions.AiFunctions.fakeEmbed _)
      graft.ops.TextAnalysis.chunkText(
          spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          size = 40, overlap = 8)
        .select((col("doc_id") * 1048576 + col("chunk_ix")).as("chunk_id"),
          embedUdf(col("chunk")).as("embedding"))
        .write.mode("overwrite").parquet(embDir)
      val emb = spark.read.parquet(embDir)
      val model = graft.ops.Ivf.train(emb, "chunk_id", "embedding", k = 16, iters = 2)
      graft.ops.Ivf.writeIndexSq8(emb, "chunk_id", "embedding", model, idxDir)
      (embDir, idxDir)
    }

  /** Once-per-session GROWN IVF-SQ8 index: built over the base corpus
    * (vec_id >= 100), then the first 100 vectors appended with the
    * EXISTING centroids and the per-append file waves compacted — the
    * steady-state lifecycle of a continuously-growing embedding store.
    * Probes must find appended-batch neighbors (the query vector, vec 0,
    * is itself in the appended batch).
    */
  private def ivfSq8GrownIndexFor(dir: String)(implicit spark: SparkSession): String =
    memo("ivfSq8GrownIndex", dir) {
      val idxDir = tempDir("graft-ivfsq8-incr")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val base = emb.where(col("vec_id") >= 100)
      val model = graft.ops.Ivf.train(base, "vec_id", "embedding", k = 16, iters = 2)
      graft.ops.Ivf.writeIndexSq8(base, "vec_id", "embedding", model, idxDir)
      graft.ops.Ivf.appendToIndexSq8(
        emb.where(col("vec_id") < 100), "vec_id", "embedding", idxDir)
      graft.ops.Ivf.compactIndexSq8(spark, idxDir)
      idxDir
    }

  private def bm25IndexFor(dir: String)(implicit spark: SparkSession): String =
    memo("bm25Index", dir) {
      val path = tempDir("graft-bm25-idx")
      graft.ops.Bm25.writePostings(t(dir, "documents"), "doc_id", "text", path)
      path
    }

  private def bm25IncrIndexFor(dir: String)(implicit spark: SparkSession): String =
    memo("bm25IncrIndex", dir) {
      val path = tempDir("graft-bm25-incr")
      val docs = t(dir, "documents")
      graft.ops.Bm25.writePostings(docs.where(col("doc_id") >= 100),
        "doc_id", "text", path)
      graft.ops.Bm25.appendToPostings(docs.where(col("doc_id") < 100),
        "doc_id", "text", path)
      path
    }

  // persisted physical layouts (per session × sf dir): queries pay the read
  // path they'd pay in steady state; the one-time layout write is not in
  // the timed body (same stance as the minhash/IVF index fixtures)
  private def partitionedEventsFor(dir: String)(implicit spark: SparkSession): String =
    memo("partitionedEvents", dir) {
      val path = tempDir("graft-part-events")
      graft.ops.Warehouse.writePartitioned(events(dir), "event_type", path)
      path
    }

  private def bucketedTpchFor(dir: String)(implicit spark: SparkSession): (String, String) =
    memo("bucketedTpch", dir) {
      val tag = java.lang.Long.toHexString(
        graft.ops.Dedup.hash64(dir) & Long.MaxValue)
      val (o, l) = (s"graft_bucketed_orders_$tag", s"graft_bucketed_lineitem_$tag")
      graft.ops.Warehouse.writeBucketed(t(dir, "orders"), "o_orderkey", 8, o)
      graft.ops.Warehouse.writeBucketed(t(dir, "lineitem"), "l_orderkey", 8, l)
      (o, l)
    }

  /** Schema-tolerant events accessor. The driver regenerates
    * `/root/testdata` between rounds and the physical encoding of `ts` has
    * already drifted once (parquet `timestamp[ns]`, bound as BIGINT nanos
    * under the legacy reader flag, → `timestamp[us]`, bound as
    * TIMESTAMP_NTZ). Branch on the BOUND dtype and yield the table with one
    * canonical BIGINT `ts_us` column (µs since epoch) so every event-time
    * query does exact integer µs math — the same value DuckDB's
    * `epoch_us(ts)` computes on the oracle side — and none depends on the
    * physical encoding or a legacy reader flag. NTZ wall-clock equals the
    * UTC instant because [[Sessions.local]] pins
    * `spark.sql.session.timeZone=UTC`.
    */
  private[graft] def events(dir: String)(implicit spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case LongType             => expr("ts DIV 1000") // legacy nanos-as-long
      case TimestampNTZType     => unix_micros(col("ts").cast(TimestampType))
      case _: TimestampType     => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"events.ts bound as unsupported type $other — teach SparkEntry.events the new encoding")
    }
    raw.withColumn("ts_us", tsUs).drop("ts")
  }

  private def eventsChangelog(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    t(dir, "events").select(
      col("user_id"), col("event_type"), col("value"),
      when(col("event_type") === "error", "DELETE").otherwise("REPLACE").as(Changelog.OpCol),
      col("event_id").as(Changelog.SeqCol))
  }

  /** How Verify's DuckDB compare checks a catalog query. */
  sealed trait Check

  /** DuckDB-runnable oracle, hash-compared with the query's rows.
    * Dialect notes: DuckDB regexp_replace needs the 'g' flag to match Spark's
    * replace-all; len()/length() return BIGINT so Spark INT outputs are cast.
    */
  final case class Oracle(sql: String) extends Check

  /** No oracle of its own: the query must return rows, and `audit`, an
    * [[Oracle]]-checked query over the same operator, carries its contract.
    */
  final case class RowsOnly(audit: String) extends Check

  /** One catalog query: its name, its check and its build over a session and
    * an sf dir.
    *
    * `launchBound` marks the composed end-to-end CONTROL-PATH rows whose
    * wall time is dominated by streaming-query launch + checkpoint setup
    * (1-3 `writeStream.start()`s each), measured sf-INVARIANT:
    * q_stream_dedup runs 11.3 s cold at sf0.001 vs 4.9 s warm at sf0.1 —
    * 100× the data costs nothing more. They stay under the correctness gate
    * (Verify) but are reported separately by [[Bench]]: timing them
    * alongside the operator queries would add a fixed ~30 s of launch
    * overhead that says nothing about data-scale throughput.
    */
  final case class Q(name: String, check: Check, launchBound: Boolean = false)(
      val build: (SparkSession, String) => DataFrame)

  /** The catalog's invariants, checked as it is built: names are unique,
    * and every rows-only query names an oracle-checked audit.
    */
  private[graft] def checked(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate catalog names: ${dups.toSeq.sorted.mkString(", ")}")
    val oracled = qs.collect { case Q(n, Oracle(_), _) => n }.toSet
    val unaudited = qs.collect { case Q(n, RowsOnly(a), _) if !oracled(a) => s"$n -> $a" }
    require(unaudited.isEmpty, s"rows-only audits without an oracle: ${unaudited.mkString(", ")}")
    qs
  }

  private lazy val byName: Map[String, Q] = catalog.map(q => q.name -> q).toMap

  /** The one lookup of a catalog query by name. */
  def query(name: String): Q =
    byName.getOrElse(name, throw new NoSuchElementException(s"no catalog query named '$name'"))

  /** The timed queries, sorted by name: every entry but the launch-bound ones. */
  def timed: Seq[Q] = catalog.filterNot(_.launchBound).sortBy(_.name)

  lazy val catalog: Seq[Q] = checked(Seq(

    // ---------- transform engine (SURVEY.md §2.3) ----------

    Q("q_transform_project", Oracle(
      "SELECT c_custkey, UPPER(c_name) AS c_name_upper, c_acctbal FROM customer",
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Transform.applyRules(t(dir, "customer"), TableId.of("tpch", "customer"), Seq(
        TransformRule("tpch.customer",
          projection = Some("c_custkey, UPPER(c_name) AS c_name_upper, c_acctbal"))))
    },

    Q("q_transform_filter", Oracle(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_acctbal > 1000 AND c_mktsegment IN ('BUILDING', 'MACHINERY')""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Transform.applyRules(t(dir, "customer"), TableId.of("tpch", "customer"), Seq(
        TransformRule("tpch.customer",
          projection = Some("c_custkey, c_name, c_acctbal, c_mktsegment"),
          filter = Some("c_acctbal > 1000 AND c_mktsegment IN ('BUILDING', 'MACHINERY')"))))
    },

    Q("q_transform_computed", Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS net_price,
        |  CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS qty_class
        |FROM lineitem WHERE l_returnflag <> 'A'""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Transform.applyRules(t(dir, "lineitem"), TableId.of("tpch", "lineitem"), Seq(
        TransformRule("tpch.lineitem",
          // raw IEEE product (no ROUND): bit-identical in any engine, so it
          // hash-compares exactly; ROUND(double, 2) differs at .005 midpoints
          projection = Some("l_orderkey, l_linenumber, " +
            "l_extendedprice * (1 - l_discount) AS net_price, " +
            "CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS qty_class"),
          filter = Some("l_returnflag <> 'A'"))))
    },

    Q("q_transform_metadata", Oracle(
      "SELECT c_custkey, 'tpch' AS src_schema, 'customer' AS src_table FROM customer",
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Transform.applyRules(t(dir, "customer"), TableId.of("tpch", "customer"), Seq(
        TransformRule("tpch.customer",
          projection = Some("c_custkey, __schema_name__ AS src_schema, __table_name__ AS src_table"))))
    },

    Q("q_transform_wildcard", Oracle(
      """SELECT n_nationkey, n_name, n_regionkey, LOWER(n_name) AS n_name_lower
        |FROM nation WHERE n_regionkey BETWEEN 1 AND 3""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Transform.applyRules(t(dir, "nation"), TableId.of("tpch", "nation"), Seq(
        TransformRule("tpch.nation",
          projection = Some("*, LOWER(n_name) AS n_name_lower"),
          filter = Some("n_regionkey BETWEEN 1 AND 3"))))
    },

    // ---------- routing + N→1 widest-schema merge (SURVEY.md §2.6) ----------

    Q("q_route_merge", Oracle(
      """SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name, c_acctbal AS acctbal,
        |       c_mktsegment AS mktsegment FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal, NULL FROM supplier""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val customer = Transform.applyRules(t(dir, "customer"), TableId.of("tpch", "customer"), Seq(
        TransformRule("tpch.customer", projection = Some(
          "CAST(c_custkey AS INT) AS id, c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment"))))
      val supplier = Transform.applyRules(t(dir, "supplier"), TableId.of("tpch", "supplier"), Seq(
        TransformRule("tpch.supplier", projection = Some(
          "CAST(s_suppkey AS BIGINT) AS id, s_name AS name, s_acctbal AS acctbal"))))
      val router = new TableIdRouter(Seq(
        RouteRule("tpch.customer,tpch.supplier", "out.merged")))
      val routed = Seq(TableId.of("tpch", "customer") -> customer,
                       TableId.of("tpch", "supplier") -> supplier)
        .flatMap { case (id, df) => router.route(id).map(_ -> df) }
      // both route to out.merged → widest-type column union (INT+BIGINT → BIGINT,
      // mktsegment null-padded for supplier)
      SchemaDerivator.mergeUnion(routed.map(_._2))
    },

    // ---------- full YAML pipeline lifecycle (SURVEY.md §3.1, §7.3) ----------

    Q("q_pipeline_yaml", Oracle(
      "SELECT c_custkey, UPPER(c_name) AS c_name, c_acctbal FROM customer WHERE c_acctbal > 100",
    )) { (spark, dir) =>
      val yaml =
        s"""source:
           |  type: parquet
           |  path: $dir
           |  schema-name: tpch
           |  tables: tpch.customer
           |transform:
           |  - source-table: tpch.customer
           |    projection: "c_custkey, UPPER(c_name) AS c_name, c_acctbal"
           |    filter: "c_acctbal > 100"
           |route:
           |  - source-table: tpch.customer
           |    sink-table: out.customer_filtered
           |sink:
           |  type: values
           |pipeline:
           |  parallelism: 1
           |""".stripMargin
      val results = Composer.composeBatch(spark, PipelineDef.fromYaml(yaml))
      results(TableId.of("out", "customer_filtered"))
    },

    Q("q_yaml_corpus", Oracle(yamlCorpusOracleSql)) { (spark, dir) =>
      // corpus cleaning AS a YAML pipeline: the training-data functions are
      // SQL-registered, so transform projections/filters compose them like
      // the reference's built-in function library
      val yaml =
        s"""source:
           |  type: parquet
           |  path: $dir
           |  schema-name: corpus
           |  tables: corpus.documents
           |transform:
           |  - source-table: corpus.documents
           |    projection: "doc_id, LANG_ID(text) AS lang_pred, TOKEN_COUNT(text) AS n_words, REP_RATIO(text) AS rep_ratio"
           |    filter: "TOKEN_COUNT(text) >= 10 AND LANG_ID(text) <> 'und'"
           |route:
           |  - source-table: corpus.documents
           |    sink-table: out.clean_docs
           |sink:
           |  type: values
           |""".stripMargin
      Composer.composeBatch(spark, PipelineDef.fromYaml(yaml))(TableId.of("out", "clean_docs"))
    },

    Q("q_yaml_budget", Oracle(
      // the YAML curate route: same selection semantics as q_token_budget
      // (TOKEN_COUNT replays as the trim/split SQL), same naive-window oracle
      """WITH scored AS (
        |  SELECT doc_id,
        |         CAST(n_chars AS DOUBLE) / tok AS score,
        |         CAST(tok AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, n_chars,
        |          CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        |        FROM documents)
        |  WHERE tok >= 1),
        |ord AS (
        |  SELECT doc_id, score, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM scored)
        |SELECT doc_id, score, n_tokens FROM ord WHERE cum <= 20000""".stripMargin,
    )) { (spark, dir) =>
      // the curation tier through the reference's primary entry point
      // (YAML pipeline + `curate:` block + the budget-select read
      // surface): selection off the asset the pipeline maintained, over
      // the sink's materialized table. Pipeline runs once per (session, dir)
      // — see yamlBudgetFor; the selection semantics are exactly
      // q_token_budget's (the same score/tokens expressions through
      // TOKEN_COUNT), so the oracle is the same naive global window —
      // binning, the YAML route, and the asset affect only the plan
      Cli.budgetSelect(spark, yamlBudgetFor(dir)(spark), "out.docs", 20000L)
    },

    Q("q_yaml_split", Oracle(
      // the YAML split over the pipeline's filtered projection: the same
      // md5 band arithmetic as q_split_grouped (cum weights 0.8/0.9 →
      // bounds cccd/e666), valid = [cccd, e666)
      """SELECT doc_id, n_chars, source, tok FROM (
        |  SELECT doc_id, n_chars, source,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END
        |              AS BIGINT) AS tok
        |  FROM documents)
        |WHERE tok >= 1
        |  AND substring(md5(source), 1, 4) >= 'cccd'
        |  AND substring(md5(source), 1, 4) < 'e666'""".stripMargin,
    )) { (spark, dir) =>
      // the split tier through the same YAML entry point: a `split:`
      // block keyed on `source` — every doc of one source lands in ONE
      // split (leakage-free by group) — read via the split-select
      // surface over the sink's materialized table. A pure md5-band
      // membership function of the key: no asset, no shuffle; the oracle
      // recomputes the identical bands (the q_split_grouped arithmetic
      // composed with the pipeline's transform/filter).
      Cli.splitSelect(spark, yamlBudgetFor(dir)(spark), "out.docs", "valid")
        .select(col("doc_id"), col("n_chars"), col("source"),
          col("tok").cast("long").as("tok"))
    },

    Q("q_yaml_sample", Oracle(
      // the YAML stratified sample over the pipeline's filtered projection:
      // per-source md5 thresholds (0.25→4000, 0.5→8000, default 0.75→c000)
      """SELECT doc_id, source, tok FROM (
        |  SELECT doc_id, source,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END
        |              AS BIGINT) AS tok
        |  FROM documents)
        |WHERE tok >= 1
        |  AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |      CASE source WHEN 'src1' THEN '4000'
        |                  WHEN 'src2' THEN '8000' ELSE 'c000' END""".stripMargin,
    )) { (spark, dir) =>
      // the sample tier through the same YAML entry point: a `sample:`
      // block stratified on `source` (downsample two named sources, keep
      // the rest at the default rate) read via the sample-select surface
      // over the sink's materialized table. A pure md5-threshold
      // membership function of the key — no asset, no shuffle — and the
      // oracle recomputes the identical per-stratum thresholds
      // (0.25→4000, 0.5→8000, 0.75→c000).
      Cli.sampleSelect(spark, yamlBudgetFor(dir)(spark), "out.docs")
        .select(col("doc_id"), col("source"), col("tok").cast("long").as("tok"))
    },

    Q("q_yaml_mix", Oracle(
      // the YAML temperature mix over the pipeline's filtered projection:
      // the q_mix_temperature decision-table arithmetic re-derived off the
      // same base (alpha = 1/T = 0.5; z summed in stratum order — the
      // engine's pinned fold order)
      """WITH flt AS (
        |  SELECT doc_id, source, tok FROM (
        |    SELECT doc_id, source,
        |           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                ELSE len(string_split_regex(trim(text), '\s+')) END
        |                AS BIGINT) AS tok
        |    FROM documents)
        |  WHERE tok >= 1),
        |cnt AS (SELECT source AS s, CAST(count(*) AS DOUBLE) AS n
        |        FROM flt WHERE source IS NOT NULL GROUP BY 1),
        |z AS (SELECT list_reduce(list_prepend(0.0, list(pow(n, 0.5) ORDER BY s)),
        |             (a, x) -> a + x) AS z FROM cnt),
        |w AS (SELECT s, n, pow(n, 0.5) / z.z AS wt FROM cnt, z),
        |budget AS (SELECT min(n / wt) AS t FROM w),
        |rates AS (
        |  SELECT w.s, round(least(1.0, w.wt * b.t / w.n) * 65536) AS thr
        |  FROM w CROSS JOIN budget b)
        |SELECT f.doc_id, f.source, f.tok
        |FROM flt f JOIN rates r ON r.s = f.source
        |WHERE CASE WHEN r.thr >= 65536 THEN TRUE WHEN r.thr <= 0 THEN FALSE
        |  ELSE substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 4) < printf('%04x', CAST(r.thr AS INTEGER))
        |  END""".stripMargin,
    )) { (spark, dir) =>
      // the mixing tier through the same YAML entry point: a `mix:` block
      // at temperature 2 (q_d ∝ n_d^0.5) over `source` strata, read via
      // mix-select. Rates derive from the materialized table's CURRENT
      // per-source counts (one bounded decision-table aggregate), then
      // the same md5 thresholds apply — the q_mix_temperature arithmetic
      // composed with the pipeline's transform/filter, so the oracle
      // re-derives the identical decision table off the same base.
      Cli.mixSelect(spark, yamlBudgetFor(dir)(spark), "out.docs")
        .select(col("doc_id"), col("source"), col("tok").cast("long").as("tok"))
    },

    Q("q_curate_audit", Oracle(
      // the curate drift audit over the YAML pipeline's rebuilt asset: the
      // asset leg must equal the table leg's token mass under the fold's
      // exact row filter (tok >= 1 from the pipeline filter; score/tokens
      // non-null and tokens >= 0 from the fold) — both legs re-derive as
      // ONE sum in DuckDB, and `consistent` is asserted TRUE
      """WITH flt AS (
        |  SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |         AS BIGINT) AS tok,
        |         n_chars
        |  FROM documents)
        |SELECT CAST(sum(tok) AS BIGINT) AS asset_tokens,
        |       CAST(sum(tok) AS BIGINT) AS table_tokens,
        |       TRUE AS consistent
        |FROM flt
        |WHERE tok >= 1 AND (CAST(n_chars AS DOUBLE) / tok) IS NOT NULL""".stripMargin,
    )) { (spark, dir) =>
      // the drift audit that guards every other audit's input asset: the
      // maintained budget-histogram's total token mass vs the surviving
      // materialized table's under the fold's exact row filter — equal
      // when every offer folded exactly (here: the batch composer's
      // REBUILD, so by construction), a mismatch the mechanical symptom
      // of the otherwise-silent drift modes (no before-images, grow-only
      // over deletes, mixed maintainers). One bounded asset read + one
      // aggregation scan; the oracle recomputes the table leg's sum and
      // asserts consistency.
      Cli.curateCheck(spark, yamlBudgetFor(dir)(spark), "out.docs")
    },

    // ---------- changelog materialization / upsert semantics (§2.2, §7.4) ----------

    Q("q_materialize", Oracle(
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    )) { (spark, dir) =>
      Changelog.materialize(eventsChangelog(spark, dir), Seq("user_id"))
    },

    Q("q_softdelete", Oracle(
      """SELECT user_id, event_type, value, event_type = 'error' AS __deleted FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    )) { (spark, dir) =>
      Changelog.materialize(Changelog.softDelete(eventsChangelog(spark, dir)), Seq("user_id"))
    },

    // ---------- debezium wire format + streaming pipeline (§2.1/§2.2, §7.2 step 7) ----------

    Q("q_debezium_roundtrip", Oracle(
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    )) { (spark, dir) =>
      // serialize → parse → materialize ≡ materialize (proves the Kafka wire
      // path is lossless); same oracle as q_materialize
      val id = TableId.of("db", "events")
      val json = graft.sinks.ChangelogJson.debezium(eventsChangelog(spark, dir), id)
      val schema = eventsPayloadSchema
      val back = graft.sources.DebeziumJson.parse(json, schema).drop("__db", "__table")
      Changelog.materialize(back, Seq("user_id"))
    },

    Q("q_cube", Oracle(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // full CUBE lattice (q_rollup covers the hierarchy): partial-aggregated
      // like any groupBy, one exchange
      t(dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
    },

    Q("q_pivot", Oracle(
      """SELECT user_id,
        |  ROUND(SUM(value) FILTER (event_type = 'click'), 2) AS click,
        |  ROUND(SUM(value) FILTER (event_type = 'view'), 2) AS view,
        |  ROUND(SUM(value) FILTER (event_type = 'purchase'), 2) AS purchase,
        |  ROUND(SUM(value) FILTER (event_type = 'signup'), 2) AS signup,
        |  ROUND(SUM(value) FILTER (event_type = 'error'), 2) AS error
        |FROM events GROUP BY user_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // pivot with an EXPLICIT value list: one pass, no distinct-values job,
      // stable schema at any scale
      t(dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum("value"), 2))
    },

    Q("q_unpivot", Oracle(
      """WITH u AS (
        |  SELECT c_custkey, 'acctbal' AS measure, c_acctbal AS value FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer)
        |SELECT measure, count(*) AS n, round(sum(value), 2) AS total
        |FROM u GROUP BY measure""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // UNPIVOT (wide → long): stack() is a generator, not a join — one
      // narrow pass, row count = rows × measures, no shuffle before the
      // rollup. The inverse of q_pivot, closing the reshape pair.
      t(dir, "customer")
        .select(col("c_custkey"),
          expr("stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) " +
            "AS (measure, value)"))
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    },

    Q("q_route_replace", Oracle(
      """SELECT event_id,
        |  CASE WHEN user_id % 2 = 0 THEN 'ods.events_even'
        |       ELSE 'ods.events_odd' END AS routed_to
        |FROM events""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // replace-symbol routing over real data: two logical source tables
      // route through `db.\.* -> ods.<>` and rows carry their ROUTED target
      import graft.operators.{RouteRule, TableIdRouter}
      val router = new TableIdRouter(Seq(RouteRule("db.\\.*", "ods.<>", Some("<>"))))
      val ev = t(dir, "events")
      Seq("events_even" -> ev.where(pmod(col("user_id"), lit(2)) === 0),
          "events_odd" -> ev.where(pmod(col("user_id"), lit(2)) === 1))
        .map { case (name, df) =>
          val target = router.route(TableId.of("db", name)).head
          df.select(col("event_id"), lit(target.identifier).as("routed_to"))
        }.reduce(_ unionByName _)
    },

    Q("q_startup_timestamp", Oracle(
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id >= 500) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    )) { (spark, dir) =>
      // startup-mode pruning on the RAW feed: serialize the events changelog
      // to debezium lines, resume at ts_ms >= 500, parse + materialize —
      // the filter must run before payload parsing and skip the backlog
      val id = TableId.of("db", "events")
      val json = graft.sinks.ChangelogJson.debezium(eventsChangelog(spark, dir), id)
      val resumed = graft.sources.StartupOptions(
        json, graft.sources.StartupOptions.Timestamp(500L), 0L)
      val schema = eventsPayloadSchema
      val back = graft.sources.DebeziumJson.parse(resumed, schema).drop("__db", "__table")
      Changelog.materialize(back, Seq("user_id"))
    },

    Q("q_scd2_history", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_type, value, op, seq AS valid_from,
        |    lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT user_id, event_type, value, valid_from, valid_to
        |FROM iv WHERE op <> 'DELETE'""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // temporal-table materialization: the changelog as validity
      // intervals (state WITH history) — deletes close intervals without
      // opening one; NULL valid_to marks current rows
      Changelog.history(eventsChangelog(spark, dir), Seq("user_id"))
    },

    Q("q_scd2_asof", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_type, value, op, seq AS valid_from,
        |    lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        |  FROM ch),
        |sp AS (SELECT max(event_id) // 2 AS s FROM events)
        |SELECT user_id, event_type, value FROM iv, sp
        |WHERE op <> 'DELETE' AND valid_from <= s
        |  AND (valid_to IS NULL OR valid_to > s)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // time travel: state as of the changelog's midpoint offset
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      Changelog.asOf(
        Changelog.history(eventsChangelog(spark, dir), Seq("user_id")), split)
    },

    Q("q_scd2_merge", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_type, value, op, seq AS valid_from,
        |    lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        |  FROM ch)
        |SELECT user_id, event_type, value, valid_from, valid_to
        |FROM iv WHERE op <> 'DELETE'""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // incremental SCD2 maintenance: bootstrap the history table from the
      // first half of the changelog, then fold the second half in as a
      // micro-batch — the oracle is the FULL-recompute SQL, so the compare
      // proves incremental == batch recompute
      val ch = eventsChangelog(spark, dir)
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      Changelog.mergeHistory(
        Changelog.history(ch.where(col(Changelog.SeqCol) <= split), Seq("user_id")),
        ch.where(col(Changelog.SeqCol) > split), Seq("user_id"))
    },

    Q("q_temporal_join", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_type, value, op, seq AS valid_from,
        |    lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        |  FROM ch),
        |hist AS (
        |  SELECT user_id, event_type, value, valid_from, valid_to
        |  FROM iv WHERE op <> 'DELETE'),
        |probes AS (
        |  SELECT user_id, seq AS probe_seq FROM ch WHERE event_type = 'purchase')
        |SELECT p.user_id, p.probe_seq,
        |       h.event_type AS prev_type, h.value AS prev_value
        |FROM probes p LEFT JOIN hist h
        |  ON p.user_id = h.user_id AND h.valid_from <= p.probe_seq - 1
        | AND (h.valid_to IS NULL OR h.valid_to > p.probe_seq - 1)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // temporal table join (Flink FOR SYSTEM_TIME AS OF): every purchase
      // probe enriched with its user's state JUST BEFORE the purchase
      // (probe at seq−1) — per-row as-of points, the leakage-free feature
      // enrichment shape. First-ever events and probes inside deleted
      // gaps survive null-extended (dropping them would bias a sample).
      val ch = eventsChangelog(spark, dir)
      val hist = Changelog.history(ch, Seq("user_id"))
      val probes = ch.where(col("event_type") === "purchase")
        .select(col("user_id"), col(Changelog.SeqCol).as("probe_seq"))
      Changelog.temporalJoin(probes, hist, Seq("user_id"),
          col("probe_seq") - 1)
        .select(col("user_id"), col("probe_seq"),
          col("event_type").as("prev_type"), col("value").as("prev_value"))
    },

    Q("q_stream_agg_view", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |state AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value, op,
        |           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1 AND op <> 'DELETE')
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM state GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the steady-state LOOP of incremental view maintenance: the view
      // folds forward through THREE successive micro-batches (view and
      // base state both advance between batches — in production the
      // sink's maintained table plays the state role, here it is
      // recomputed per step so the query stays self-contained). The
      // oracle is the one-shot full recompute, so the compare proves the
      // fold is associative end-to-end, not just for a single merge.
      val ch = eventsChangelog(spark, dir)
      val maxSeq = t(dir, "events").agg(max("event_id")).head().getLong(0)
      val splits = Seq(maxSeq / 4, maxSeq / 2, 3 * maxSeq / 4)
      val st0 = Changelog.materialize(
        ch.where(col(Changelog.SeqCol) <= splits.head), Seq("user_id"))
      var view = Changelog.aggregate(st0, Seq("event_type"), Seq("value"))
      for ((lo, hi) <- splits.zip(splits.tail :+ Long.MaxValue)) {
        val state = Changelog.materialize(
          ch.where(col(Changelog.SeqCol) <= lo), Seq("user_id"))
        val batch = ch.where(col(Changelog.SeqCol) > lo &&
          col(Changelog.SeqCol) <= hi)
        // the persisted-view boundary between batches: eager persist —
        // the view is a handful of group rows referenced TWICE downstream
        // (the next merge's full-outer join and the final read), so an
        // in-memory cache beats localCheckpoint's block-manager write
        // (measured 0.78 vs 1.7 s sf0.1, 0.93 vs 2.0-3.0 s sf1 — and the
        // checkpoint write was the source of this query's run-to-run
        // noise). The superseded boundary unpersists once its successor
        // is materialized; the final one stays cached for the caller's
        // read and is a few rows.
        val prev = view
        view = Changelog.mergeAggregate(prev, state, batch,
          Seq("user_id"), Seq("event_type"), Seq("value")).persist()
        view.count()
        if (lo != splits.head) { prev.unpersist(); () }
      }
      view.select(col("event_type"), col("cnt"),
        col("sum_value").cast("double").as("sum_value"))
    },

    Q("q_secondary_index", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |state AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type, op,
        |           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1 AND op <> 'DELETE')
        |SELECT event_type, user_id FROM state""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // secondary-index maintenance: the (event_type → user_id) lookup
      // table bootstrapped from the 90% state and folded forward under
      // the last-10% batch — old entries of touched keys drop via a
      // broadcast anti join (the index never shuffles), new entries
      // append batch-bounded. Oracle = the index projected from the
      // fully-recomputed state.
      val ch = eventsChangelog(spark, dir)
      val maxSeq = t(dir, "events").agg(max("event_id")).head().getLong(0)
      val split = maxSeq * 9 / 10
      val state = Changelog.materialize(
        ch.where(col(Changelog.SeqCol) <= split), Seq("user_id"))
      Changelog.mergeIndex(
        Changelog.index(state, Seq("user_id"), Seq("event_type")),
        ch.where(col(Changelog.SeqCol) > split),
        Seq("user_id"), Seq("event_type"))
    },

    Q("q_pmi_collocations", Oracle(
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS tk
        |  FROM documents),
        |uni AS (
        |  SELECT unnest(tk) AS tok FROM toks),
        |ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |n_uni AS (SELECT count(*) AS n FROM uni),
        |bigrams AS (
        |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
        |           i -> struct_pack(a := tk[i], b := tk[i+1]))) AS bg
        |  FROM toks WHERE len(tk) >= 2),
        |bcnt AS (
        |  SELECT bg.a AS a, bg.b AS b, count(*) AS c_ab
        |  FROM bigrams GROUP BY 1, 2 HAVING count(*) >= 20),
        |n_bi AS (SELECT count(*) AS n FROM bigrams)
        |SELECT x.a, x.b, CAST(x.c_ab AS BIGINT) AS c_ab,
        |       ln(CAST(x.c_ab AS DOUBLE) * u.n * u.n / v.n / ca.c / cb.c) AS pmi
        |FROM bcnt x
        |JOIN ucnt ca ON ca.tok = x.a
        |JOIN ucnt cb ON cb.tok = x.b
        |CROSS JOIN n_uni u CROSS JOIN n_bi v
        |ORDER BY pmi DESC, x.a, x.b LIMIT 50""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // corpus collocation mining: pointwise mutual information over
      // adjacent token pairs (Church & Hanks 1990) — counts are exact
      // BIGINTs off ONE tokenization, the PMI argument is a PINNED
      // left-to-right double op sequence on exact integers, and ln() on
      // an identical double is bit-identical in both engines (the
      // bigram-LM stance). Evidence floor c_ab >= 20 kills noise; top-50
      // via heap cut. The unigram-count join-backs carry NO strategy
      // hint: a token vocabulary is NOT dim-bounded (Heaps' law — 1e8+
      // distinct tokens on a 100 TB web corpus with OCR/URL noise), so
      // the strategy is left to stats/AQE — broadcast at bench SF,
      // hash-shuffle at vocab scale. The n_uni/n_bi normalizers are two
      // GLOBAL scalars off one size-only scan (no explode), inlined as ONE
      // struct-valued scalar subquery: construction stays lazy (plan-only
      // consumers run zero jobs) and no join operator is introduced (a
      // 1-row cross join would plan as the CartesianProduct the plan spec
      // bans). The subquery executes once BY CONSTRUCTION: it is
      // referenced in exactly one projected alias ("__t" below), and the
      // nu/nu/nb reads go through that alias — Spark's subquery-reuse
      // rules do NOT merge the three clones that field-level references
      // would create (measured: three independent Subquery instances,
      // zero ReusedSubquery, each re-tokenizing the corpus), while
      // CollapseProject never inlines a non-cheap multiply-referenced
      // alias, so the single-reference shape survives optimization
      // (plan-asserted in PlanInvariantsSpec). coalesce: sum() over zero
      // rows is null — an empty corpus must yield an empty result, not a
      // null normalizer.
      val toks = t(dir, "documents")
        .select(col("doc_id"),
          graft.functions.CdcExpressions.regexTokens(col("text")).as("tk"))
      val totals = toks.agg(struct(
        coalesce(sum(size(col("tk"))), lit(0L)).as("nu"),
        coalesce(sum(greatest(size(col("tk")) - lit(1), lit(0))), lit(0L)).as("nb"))
        .as("t")).scalar()
      val nUni = col("__t").getField("nu")
      val nBi = col("__t").getField("nb")
      // CASE guard: Spark sequence(1, 0) yields a DESCENDING [1,0], not
      // an empty array — short docs must produce zero bigrams explicitly
      val bigrams = toks
        .select(explode(expr(
          """CASE WHEN size(tk) >= 2
            |  THEN transform(sequence(1, size(tk) - 1),
            |                 i -> struct(tk[i-1] AS a, tk[i] AS b))
            |  ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END""".stripMargin)).as("bg"))
        .select(col("bg.a").as("a"), col("bg.b").as("b"))
      val uni = toks.select(explode(col("tk")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val bi = bigrams.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 20)
      bi
        .join(uni.withColumnRenamed("tok", "a").withColumnRenamed("c", "c_a"), "a")
        .join(uni.withColumnRenamed("tok", "b").withColumnRenamed("c", "c_b"), "b")
        .withColumn("__t", totals) // the ONE subquery reference
        .withColumn("pmi", log(
          col("c_ab").cast("double") * nUni * nUni
            / nBi / col("c_a") / col("c_b")))
        .select(col("a"), col("b"), col("c_ab"), col("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(50)
    },

    Q("q_agg_view_steady", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |state AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value, op,
        |           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1 AND op <> 'DELETE')
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM state GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the steady-state cost of keeping an aggregate view fresh: ONE
      // mergeAggregate over the pre-bootstrapped (view, state, batch) —
      // state only broadcast-semi-joined, delta batch-bounded
      val (view, state, batch) = aggViewFor(dir)
      Changelog.mergeAggregate(view, state, batch,
          Seq("user_id"), Seq("event_type"), Seq("value"))
        .select(col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
    },

    Q("q_incremental_agg", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |state AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value, op,
        |           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1 AND op <> 'DELETE')
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM state GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // incremental materialized-view maintenance: bootstrap the per-type
      // (count, decimal-sum) view from the first half of the changelog,
      // then fold the second half in as a retraction/insertion delta —
      // the oracle is the FULL-recompute SQL over the final state, so the
      // compare proves delta-maintained == recomputed. Sums stay DECIMAL
      // through every fold (retractions must cancel bit-exactly); the
      // DOUBLE cast is transport-only, after the math is done
      val ch = eventsChangelog(spark, dir)
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      val oldState = Changelog.materialize(
        ch.where(col(Changelog.SeqCol) <= split), Seq("user_id"))
      val view = Changelog.aggregate(oldState, Seq("event_type"), Seq("value"))
      Changelog.mergeAggregate(view, oldState,
          ch.where(col(Changelog.SeqCol) > split),
          Seq("user_id"), Seq("event_type"), Seq("value"))
        .select(col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
    },

    Q("q_snapshot_diff", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |sp AS (SELECT max(event_id) // 2 AS s FROM events),
        |old_state AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value, op,
        |           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |    FROM ch, sp WHERE seq <= s) WHERE rn = 1 AND op <> 'DELETE'),
        |new_state AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value, op,
        |           row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1 AND op <> 'DELETE')
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |       CASE WHEN n.user_id IS NULL THEN o.event_type ELSE n.event_type END AS event_type,
        |       CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END AS value,
        |       CASE WHEN o.user_id IS NULL THEN 'INSERT'
        |            WHEN n.user_id IS NULL THEN 'DELETE'
        |            ELSE 'UPDATE' END AS __op
        |FROM old_state o FULL OUTER JOIN new_state n ON o.user_id = n.user_id
        |WHERE o.user_id IS NULL OR n.user_id IS NULL
        |   OR o.event_type IS DISTINCT FROM n.event_type
        |   OR o.value IS DISTINCT FROM n.value""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // snapshot-comparison CDC (no binlog available): the state at the
      // changelog midpoint vs the final state, diffed back into the MINIMAL
      // changelog — inserts for new keys, tombstones (old image) for
      // vanished keys, updates only where the payload really changed
      val ch = eventsChangelog(spark, dir)
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      val oldState = Changelog.materialize(
        ch.where(col(Changelog.SeqCol) <= split), Seq("user_id"))
      val newState = Changelog.materialize(ch, Seq("user_id"))
      Changelog.diff(oldState, newState, Seq("user_id"))
    },

    Q("q_functions_time", Oracle(
      """SELECT user_id,
        |  CAST((epoch_us(ts) % 86400000000) // 1000 AS INTEGER) AS t_time,
        |  epoch_us(ts) AS t_tz_us
        |FROM (SELECT user_id, ts,
        |        row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,
    )) { (spark, dir) =>
      // TIME(p) → INT millis-of-day and TIMESTAMP_TZ → instant conventions
      // (model/CdcTypes.scala:11-14) proven end-to-end: build a changelog
      // whose payload uses both conventions, serialize it over the debezium
      // wire format, parse it back at a schema declared in REFERENCE type
      // syntax (so CdcTypes.parse is on the path), materialize, and emit the
      // survivors' time values for DuckDB's independent time math to check
      implicit val s: SparkSession = spark
      val id = TableId.of("db", "events_time")
      val ev = events(dir).select(
        col("user_id"),
        expr("CAST((ts_us % 86400000000) DIV 1000 AS INT)").as("t_time"),
        expr("TIMESTAMP_MICROS(ts_us)").as("t_tz"),
        lit("REPLACE").as(Changelog.OpCol),
        col("event_id").as(Changelog.SeqCol))
      val json = graft.sinks.ChangelogJson.debezium(ev, id)
      val payload = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", graft.model.CdcTypes.parse("BIGINT")),
        org.apache.spark.sql.types.StructField("t_time", graft.model.CdcTypes.parse("TIME(3)")),
        org.apache.spark.sql.types.StructField("t_tz", graft.model.CdcTypes.parse("TIMESTAMP_TZ(6)"))))
      val back = graft.sources.DebeziumJson.parse(json, payload).drop("__db", "__table")
      Changelog.materialize(back, Seq("user_id"))
        .select(col("user_id"), col("t_time"), unix_micros(col("t_tz")).as("t_tz_us"))
    },

    Q("q_functions_tz", Oracle(
      """SELECT user_id, epoch_us(ts) AS t_us, zone AS t_zone,
        |  strftime(make_timestamp(epoch_us(ts) + off), '%Y-%m-%dT%H:%M:%S.%f') || zone AS t_iso
        |FROM (
        |  SELECT user_id, ts,
        |    CASE user_id % 4 WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
        |                     WHEN 2 THEN '-08:00' ELSE '+01:00' END AS zone,
        |    CASE user_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 19800000000
        |                     WHEN 2 THEN -28800000000 ELSE 3600000000 END AS off,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    )) { (spark, dir) =>
      // ZONED timestamp convention (SURVEY §1.3, reference
      // ZonedTimestampType): the wire carries ONE ISO string with the
      // original zone; the engine stores instant + `__zone` sidecar and can
      // render the exact wire form back. Zones vary per row (user_id % 4)
      // so a dropped/constant zone cannot pass.
      implicit val s: SparkSession = spark
      import graft.model.ZonedTime
      val id = TableId.of("db", "events_ztz")
      val zones = array(lit("Z"), lit("+05:30"), lit("-08:00"), lit("+01:00"))
      val ev = events(dir).select(
        col("user_id"),
        ZonedTime.render(
          expr("TIMESTAMP_MICROS(ts_us)"),
          element_at(zones, (pmod(col("user_id"), lit(4)) + 1).cast("int"))).as("t_ztz"),
        lit("REPLACE").as(Changelog.OpCol),
        col("event_id").as(Changelog.SeqCol))
      val json = graft.sinks.ChangelogJson.debezium(ev, id)
      val payload = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", graft.model.CdcTypes.parse("BIGINT")),
        org.apache.spark.sql.types.StructField("t_ztz", graft.model.CdcTypes.parse("STRING"))))
      val back = graft.sources.DebeziumJson.parse(json, payload).drop("__db", "__table")
        // receive-side split into the convention pair: instant + zone sidecar
        .withColumn("t_tz", ZonedTime.instantOf(col("t_ztz")))
        .withColumn("t_tz" + ZonedTime.ZoneSuffix, ZonedTime.zoneOf(col("t_ztz")))
        .drop("t_ztz")
      Changelog.materialize(back, Seq("user_id"))
        .select(col("user_id"),
          unix_micros(col("t_tz")).as("t_us"),          // instant preserved
          col("t_tz" + ZonedTime.ZoneSuffix).as("t_zone"), // zone preserved
          ZonedTime.render(col("t_tz"),
            col("t_tz" + ZonedTime.ZoneSuffix)).as("t_iso")) // wire form re-renderable
    },

    Q("q_canal_roundtrip", Oracle(
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    )) { (spark, dir) =>
      // canal-json wire path is lossless too; same oracle as q_materialize
      val id = TableId.of("db", "events")
      val json = graft.sinks.ChangelogJson.canal(eventsChangelog(spark, dir), id)
      val schema = eventsPayloadSchema
      val back = graft.sources.CanalJson.parse(json, schema).drop("__db", "__table")
      Changelog.materialize(back, Seq("user_id"))
    },

    Q("q_stream_pipeline", Oracle(
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    )) { (spark, dir) =>
      // the full streaming topology run in batch mode (reference BATCH
      // runtime-mode): debezium feed → pipeline → parquet upsert sink state
      import graft.streaming.StreamingPipeline
      import graft.sinks.ParquetUpsertSink
      val srcId = TableId.of("db", "events")
      val schema = graft.model.CdcSchema.of(
        "user_id" -> "BIGINT", "event_type" -> "STRING", "value" -> "DOUBLE")
        .copy(primaryKeys = Seq("user_id"))
      val out = tempDir("graft-q-stream")
      // scale-adaptive layout: bucket count derived from the snapshot batch
      // and pinned in the table's layout meta (r20; guide §6 file sizing)
      val sink = new ParquetUpsertSink(out, buckets = ParquetUpsertSink.AutoBuckets)
      val pipe = new StreamingPipeline(new graft.operators.SchemaRegistry(), sink = sink)
      pipe.applySchemaChange(graft.model.CreateTableEvent(srcId, schema))
      pipe.processBatch(graft.sinks.ChangelogJson.debezium(eventsChangelog(spark, dir), srcId), 0L)
      sink.read(spark, srcId)
    },

    Q("q_stream_steady", Oracle(
      // replaying already-held rows is state-neutral under seq LWW, so the
      // steady-state merge converges to the same materialization
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    )) { (spark, dir) =>
      // the per-micro-batch steady state of the topology above: merge a
      // pinned 10k-row batch into ALREADY-LOADED sink state (bring-up is
      // cached outside the timed body — the widest bench band in r7/r8
      // was q_stream_pipeline timing bring-up + load + read as one number)
      val (pipe, sink, batch, srcId) = streamSteadyFor(dir)(spark)
      pipe.processBatch(batch, 1L)
      sink.read(spark, srcId)
    },

    Q("q_multi_table_pipeline", Oracle(
      """SELECT id, name, acctbal, mktsegment FROM (
        |  SELECT c_custkey * 10 + 1 AS id, c_name AS name, c_acctbal AS acctbal,
        |         c_mktsegment AS mktsegment FROM customer WHERE c_acctbal >= 0
        |  UNION ALL
        |  SELECT s_suppkey * 10 + 2, s_name, s_acctbal, NULL FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey * 10 + 3, n_name, NULL, NULL FROM nation)""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      // parallelized multi-table pipeline (reference
      // FlinkParallelizedPipelineITCase): ONE streaming CLI run carries
      // three interleaved source tables with `table-parallelism: 4`
      // (concurrent per-table slice processing) and a 3→1 route into a
      // single widest-merged sink table — customer INT keys widen to
      // supplier's BIGINT, nation contributes neither acctbal nor
      // mktsegment (null-padded), key spaces kept disjoint by a
      // source-tagged key transform. Negative-balance customers arrive as
      // DELETEs and must not materialize.
      implicit val s: SparkSession = spark
      import org.apache.spark.sql.streaming.Trigger
      val base = tempDir("graft-multitbl")
      val in = s"$base/in"
      graft.sinks.ChangelogJson.debezium(
        t(dir, "customer").select(
          (col("c_custkey") * 10 + 1).cast("int").as("id"),
          col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("mktsegment"),
          when(col("c_acctbal") < 0, "DELETE").otherwise("REPLACE").as(Changelog.OpCol),
          col("c_custkey").as(Changelog.SeqCol)),
        TableId.of("tpch", "customer")).write.mode("overwrite").text(in)
      graft.sinks.ChangelogJson.debezium(
        t(dir, "supplier").select(
          (col("s_suppkey") * 10 + 2).as("id"),
          col("s_name").as("name"), col("s_acctbal").as("acctbal"),
          lit("REPLACE").as(Changelog.OpCol),
          col("s_suppkey").as(Changelog.SeqCol)),
        TableId.of("tpch", "supplier")).write.mode("append").text(in)
      graft.sinks.ChangelogJson.debezium(
        t(dir, "nation").select(
          (col("n_nationkey") * 10 + 3).cast("int").as("id"),
          col("n_name").as("name"),
          lit("REPLACE").as(Changelog.OpCol),
          col("n_nationkey").as(Changelog.SeqCol)),
        TableId.of("tpch", "nation")).write.mode("append").text(in)
      val yaml =
        s"""source:
           |  type: debezium-json
           |  path: $in
           |  schema.tpch.customer: "id INT, name STRING, acctbal DOUBLE, mktsegment STRING"
           |  schema.tpch.supplier: "id BIGINT, name STRING, acctbal DOUBLE"
           |  schema.tpch.nation: "id INT, name STRING"
           |transform:
           |  - source-table: tpch.customer
           |    primary-keys: id
           |  - source-table: tpch.supplier
           |    primary-keys: id
           |  - source-table: tpch.nation
           |    primary-keys: id
           |route:
           |  - source-table: tpch.customer,tpch.supplier,tpch.nation
           |    sink-table: out.parties
           |sink:
           |  type: parquet-upsert
           |  path: $base/out
           |  buckets: 32
           |pipeline:
           |  name: multi-table-e2e
           |  table-parallelism: 4
           |""".stripMargin
      val (_, sink, q) = Cli.buildStreaming(spark, PipelineDef.fromYaml(yaml),
        Trigger.AvailableNow())
      q.awaitTermination()
      sink.asInstanceOf[graft.sinks.ParquetUpsertSink].read(spark, TableId.of("out", "parties"))
    },

    Q("q_kafka_pipeline", Oracle(
      """SELECT user_id, event_type, value FROM (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      // the kafka-source seam end-to-end: events changelog serialized to
      // debezium lines = the topic backlog; the injected reader stands in
      // for the broker (same classpath-guard design as the sink); YAML CLI
      // drives readStream → pipeline → parquet-upsert state. Lossless, so
      // it shares q_materialize's oracle.
      import org.apache.spark.sql.streaming.Trigger
      val id = TableId.of("db", "events")
      val in = tempDir("graft-q-kafka-in")
      val out = tempDir("graft-q-kafka-out")
      graft.sinks.ChangelogJson.debezium(eventsChangelog(spark, dir), id)
        .write.mode("overwrite").text(in)
      val yaml =
        s"""source:
           |  type: kafka
           |  properties.bootstrap.servers: broker:9092
           |  topic: db.events
           |  schema.db.events: "user_id BIGINT, event_type STRING, value DOUBLE"
           |sink:
           |  type: parquet-upsert
           |  path: $out
           |  buckets: 32
           |pipeline:
           |  name: kafka-events
           |""".stripMargin
      val reader = (s: SparkSession, opts: Map[String, String]) => {
        require(opts("subscribe") == "db.events" && opts("startingOffsets") == "earliest")
        s.readStream.format("text").load(in)
      }
      val (_, sink, q) = Cli.buildStreaming(spark, PipelineDef.fromYaml(yaml),
        Trigger.AvailableNow(), kafkaReader = Some(reader))
      q.awaitTermination()
      sink.asInstanceOf[graft.sinks.ParquetUpsertSink].read(spark, id)
    },

    Q("q_schema_evolution", Oracle(
      """SELECT user_id, event_type,
        |  CASE WHEN event_id <= (SELECT MAX(event_id) // 2 FROM events)
        |       THEN NULL ELSE value END AS value
        |FROM (
        |  SELECT user_id, event_type, value, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      // composed schema-evolution e2e (reference SchemaEvolveE2eITCase):
      // half the changelog streams under schema v1 (no `value` column) and
      // materializes; an IN-BAND AddColumn control record plus the second
      // half (with `value`) arrive mid-stream on a checkpointed restart.
      // The sink must evolve, upsert the new shape, and read old-state rows
      // COERCED (null value) — the oracle nulls `value` exactly where the
      // winning event predates the evolve.
      implicit val s: SparkSession = spark
      import org.apache.spark.sql.streaming.Trigger
      val id = TableId.of("db", "events")
      val base = tempDir("graft-evolve")
      val in = s"$base/in"
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      val ev = eventsChangelog(spark, dir)
      graft.sinks.ChangelogJson.debezium(
        ev.where(col(Changelog.SeqCol) <= split).drop("value"), id)
        .write.mode("overwrite").text(in)
      val yaml =
        s"""source:
           |  type: debezium-json
           |  path: $in
           |  schema.db.events: "user_id BIGINT, event_type STRING"
           |transform:
           |  - source-table: db.events
           |    primary-keys: user_id
           |sink:
           |  type: parquet-upsert
           |  path: $base/out
           |  buckets: 32
           |pipeline:
           |  name: evolve-e2e
           |""".stripMargin
      val p = PipelineDef.fromYaml(yaml)
      val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q1.awaitTermination()
      // mid-stream: in-band DDL + the second half under the evolved schema
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/zz_ddl.json"),
        graft.model.SchemaChangeJson.toJson(graft.model.AddColumnEvent(
          id, "value", org.apache.spark.sql.types.DoubleType,
          graft.model.ColumnPosition.Last)) + "\n")
      graft.sinks.ChangelogJson.debezium(
        ev.where(col(Changelog.SeqCol) > split), id)
        .write.mode("append").text(in)
      val (_, sink2, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q2.awaitTermination()
      sink2.asInstanceOf[graft.sinks.ParquetUpsertSink].read(spark, id)
    },

    Q("q_schema_evolution_multi", Oracle(
      """SELECT user_id,
        |  CASE WHEN event_id > (SELECT MAX(event_id) // 2 FROM events)
        |       THEN event_type END AS kind,
        |  CASE WHEN event_id <= (SELECT MAX(event_id) // 2 FROM events)
        |       THEN CAST(event_id % 1000 AS BIGINT)
        |       ELSE event_id * 1000000 END AS score
        |FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      // composed schema-evolution e2e over the REMAINING evolution types
      // (reference SchemaEvolveE2eITCase): phase 1 materializes under
      // (user_id, event_type, value, score INT); an in-band DropColumn +
      // RenameColumn + AlterColumnType(widening) arrive on a checkpointed
      // restart, then phase 2 streams under the evolved shape (payload field
      // renamed upstream, scores past INT range). The sink must drop
      // `value`, surface the rename as add+drop (the routed-schema
      // normalization — phase-1 winners read kind NULL), and widen the
      // phase-1 scores losslessly to BIGINT.
      implicit val s: SparkSession = spark
      import org.apache.spark.sql.streaming.Trigger
      val id = TableId.of("db", "events")
      val base = tempDir("graft-evolve-multi")
      val in = s"$base/in"
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      val ev = eventsChangelog(spark, dir)
      graft.sinks.ChangelogJson.debezium(
        ev.where(col(Changelog.SeqCol) <= split)
          .withColumn("score", (col(Changelog.SeqCol) % 1000).cast("int")), id)
        .write.mode("overwrite").text(in)
      val yaml =
        s"""source:
           |  type: debezium-json
           |  path: $in
           |  schema.db.events: "user_id BIGINT, event_type STRING, value DOUBLE, score INT"
           |transform:
           |  - source-table: db.events
           |    primary-keys: user_id
           |sink:
           |  type: parquet-upsert
           |  path: $base/out
           |  buckets: 32
           |pipeline:
           |  name: evolve-multi-e2e
           |""".stripMargin
      val p = PipelineDef.fromYaml(yaml)
      val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q1.awaitTermination()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/zz_ddl.json"),
        graft.model.SchemaChangeJson.toJson(graft.model.DropColumnEvent(id, "value")) + "\n" +
        graft.model.SchemaChangeJson.toJson(
          graft.model.RenameColumnEvent(id, "event_type", "kind")) + "\n" +
        graft.model.SchemaChangeJson.toJson(graft.model.AlterColumnTypeEvent(
          id, "score", org.apache.spark.sql.types.LongType)) + "\n")
      graft.sinks.ChangelogJson.debezium(
        ev.where(col(Changelog.SeqCol) > split)
          .withColumnRenamed("event_type", "kind").drop("value")
          .withColumn("score", col(Changelog.SeqCol) * 1000000L), id)
        .write.mode("append").text(in)
      val (_, sink2, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q2.awaitTermination()
      sink2.asInstanceOf[graft.sinks.ParquetUpsertSink].read(spark, id)
    },

    Q("q_schema_evolution_lenient", Oracle(
      """SELECT user_id,
        |  CASE WHEN event_id <= (SELECT MAX(event_id) // 2 FROM events)
        |       THEN event_type END AS event_type,
        |  CASE WHEN event_id <= (SELECT MAX(event_id) // 2 FROM events)
        |       THEN value END AS value,
        |  CASE WHEN event_id > (SELECT MAX(event_id) // 2 FROM events)
        |       THEN event_type END AS kind
        |FROM (
        |  SELECT user_id, event_type, value, event_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      // LENIENT behavior through the same CLI restart path: the rename
      // becomes AddColumn(kind) with the OLD column kept (nulled for new
      // rows), and the drop is deferred (column kept, new rows null it) —
      // existing sink consumers keep every column they know
      // (SchemaDerivator.java:154-296 lenientization).
      implicit val s: SparkSession = spark
      import org.apache.spark.sql.streaming.Trigger
      val id = TableId.of("db", "events")
      val base = tempDir("graft-evolve-lenient")
      val in = s"$base/in"
      val split = t(dir, "events").agg(max("event_id")).head().getLong(0) / 2
      val ev = eventsChangelog(spark, dir)
      graft.sinks.ChangelogJson.debezium(
        ev.where(col(Changelog.SeqCol) <= split), id)
        .write.mode("overwrite").text(in)
      val yaml =
        s"""source:
           |  type: debezium-json
           |  path: $in
           |  schema.db.events: "user_id BIGINT, event_type STRING, value DOUBLE"
           |transform:
           |  - source-table: db.events
           |    primary-keys: user_id
           |sink:
           |  type: parquet-upsert
           |  path: $base/out
           |  buckets: 32
           |pipeline:
           |  name: evolve-lenient-e2e
           |  schema.change.behavior: lenient
           |""".stripMargin
      val p = PipelineDef.fromYaml(yaml)
      val (_, _, q1) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q1.awaitTermination()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/zz_ddl.json"),
        graft.model.SchemaChangeJson.toJson(
          graft.model.RenameColumnEvent(id, "event_type", "kind")) + "\n" +
        graft.model.SchemaChangeJson.toJson(graft.model.DropColumnEvent(id, "value")) + "\n")
      graft.sinks.ChangelogJson.debezium(
        ev.where(col(Changelog.SeqCol) > split)
          .withColumnRenamed("event_type", "kind").drop("value"), id)
        .write.mode("append").text(in)
      val (_, sink2, q2) = Cli.buildStreaming(spark, p, Trigger.AvailableNow())
      q2.awaitTermination()
      sink2.asInstanceOf[graft.sinks.ParquetUpsertSink].read(spark, id)
    },

    // ---------- chunked snapshot source (§2.1) ----------

    Q("q_chunked_read", Oracle(
      """SELECT l_returnflag, count(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    )) { (spark, dir) =>
      val df = ChunkSplitter.chunkedRead(spark, s"$dir/lineitem.parquet", "l_orderkey")
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
    },

    // ---------- scalar function library parity (§2.4) ----------

    Q("q_functions_string", Oracle(
      """SELECT p_partkey,
        |  CONCAT(p_brand, '#', p_type) AS brand_type,
        |  UPPER(p_name) AS name_upper,
        |  LOWER(p_brand) AS brand_lower,
        |  TRIM(p_name) AS name_trim,
        |  SUBSTRING(p_name, 1, 5) AS name_pfx,
        |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        |  REGEXP_REPLACE(p_type, ' ', '_', 'g') AS type_u
        |FROM part""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "part").selectExpr(
        "p_partkey",
        "CONCAT(p_brand, '#', p_type) AS brand_type",
        "UPPER(p_name) AS name_upper",
        "LOWER(p_brand) AS brand_lower",
        "TRIM(p_name) AS name_trim",
        "SUBSTRING(p_name, 1, 5) AS name_pfx",
        "CAST(CHAR_LENGTH(p_name) AS BIGINT) AS name_len",
        "REGEXP_REPLACE(p_type, ' ', '_') AS type_u")
    },

    Q("q_functions_math", Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * l_discount AS disc_amt,
        |  ABS(l_quantity - 25) AS qty_dev,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(l_orderkey % 7 AS BIGINT) AS mod7
        |FROM lineitem""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "lineitem").selectExpr(
        "l_orderkey", "l_linenumber",
        "l_extendedprice * l_discount AS disc_amt",
        "ABS(l_quantity - 25) AS qty_dev",
        "CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil",
        "CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor",
        "CAST(l_orderkey % 7 AS BIGINT) AS mod7")
    },

    Q("q_functions_conditional", Oracle(
      """SELECT o_orderkey,
        |  CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open' ELSE 'other' END AS status_word,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_class,
        |  COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio,
        |  CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS is_large
        |FROM orders""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "orders").selectExpr(
        "o_orderkey",
        "CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open' ELSE 'other' END AS status_word",
        "CASE WHEN o_totalprice > 200000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS size_class",
        "COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT!') AS prio",
        "IF(o_totalprice > 150000, 1, 0) AS is_large")
    },

    Q("q_functions_cast", Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS INTEGER) AS qty_int,
        |  CAST(l_orderkey AS VARCHAR) AS ok_str,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        |  (l_returnflag = 'R') AS is_return
        |FROM lineitem""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_linenumber",
        "CAST(l_quantity AS INT) AS qty_int",
        "CAST(l_orderkey AS STRING) AS ok_str",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec",
        "CAST(l_returnflag = 'R' AS BOOLEAN) AS is_return")
    },

    Q("q_functions_temporal", Oracle(
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS od_fmt,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS od_year,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS od_month,
        |  CAST(FLOOR(date_diff('second', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) / 86400.0) AS BIGINT) AS days_since
        |FROM orders""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // parquet NTZ timestamps cast to LTZ under the UTC session zone = same wall time
      t(dir, "orders").selectExpr(
        "o_orderkey",
        "CDC_DATE_FORMAT(CAST(o_orderdate AS TIMESTAMP), 'yyyy-MM-dd') AS od_fmt",
        "CAST(YEAR(o_orderdate) AS BIGINT) AS od_year",
        "CAST(MONTH(o_orderdate) AS BIGINT) AS od_month",
        "CDC_TIMESTAMP_DIFF('DAY', CAST(TIMESTAMP'1995-01-01 00:00:00' AS TIMESTAMP), CAST(o_orderdate AS TIMESTAMP)) AS days_since")
    },

    // ---------- dedup suite (training-data ops) ----------

    Q("q_dedup_exact", Oracle(
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt FROM documents
        |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Dedup.exact(t(dir, "documents"), "doc_id", TextAnalysis.fingerprint(col("text")))
    },

    Q("q_dedup_pairs", Oracle(
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -doc_id - 1, text FROM documents WHERE doc_id % 50 = 0),
        |fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |       FROM all_docs),
        |sized AS (SELECT *, count(*) OVER (PARTITION BY f) AS csz FROM fp)
        |SELECT x.doc_id AS a, y.doc_id AS b
        |FROM sized x JOIN sized y ON x.f = y.f AND x.doc_id < y.doc_id
        |WHERE x.csz BETWEEN 2 AND 64""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // audit view: which doc duplicates which (exact fingerprint pairs).
      // The corpus has no natural exact duplicates, so plant some: every
      // 50th doc re-appears under a NEGATED id — a disjoint id space at any
      // sf (a fixed +1000000 shift would collide with real doc_ids once the
      // corpus reaches 1M documents) — the audit must report exactly those
      // (planted, original) pairs at every sf.
      val docs = t(dir, "documents")
      val planted = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .withColumn("doc_id", -col("doc_id") - lit(1L))
      Dedup.exactPairs(docs.unionByName(planted), "doc_id",
        TextAnalysis.fingerprint(col("text")))
    },

    Q("q_fingerprint", Oracle(
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "documents").select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    },

    Q("q_text_normalize", Oracle(
      // decomposed accent (chr 769 = U+0301), vertical tab, BEL and ragged
      // whitespace appended — NFC must compose, controls strip, runs collapse
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  nfc_normalize(text || ' caf' || chr(101) || chr(769) || '  ' ||
        |                chr(11) || chr(9) || 'z' || chr(7) || ' '),
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |  '[ \t\n\r]+', ' ', 'g')) AS clean
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // canonical cleaning: NFC + control strip + whitespace collapse. The
      // appended suffix plants a DECOMPOSED accent (e + U+0301), a vertical
      // tab, a BEL and ragged whitespace, so the oracle genuinely exercises
      // cross-engine Unicode composition on the ASCII fixture
      val messy = concat(col("text"),
        lit(" cafe\u0301  \u000b\tz\u0007 "))
      t(dir, "documents").select(col("doc_id"),
        TextAnalysis.cleanText(messy).as("clean"))
    },

    Q("q_dedup_minhash", Oracle(OracleHashSql.dedupMinhash)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // survivors after MinHash-LSH near-dup removal (keep-min-id greedy)
      Dedup.minhashDedup(t(dir, "documents"), "doc_id", "text", threshold = 0.8)
        .select("doc_id", "lang", "source")
    },

    Q("q_dedup_clusters", Oracle(OracleHashSql.dedupClusters)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // transitive closure of near-duplication: a~b, b~c puts a,b,c in ONE
      // cluster (keep-first pair greedy under-approximates this)
      Dedup.minhashClusters(t(dir, "documents"), "doc_id", "text", threshold = 0.8)
    },

    Q("q_span_dedup", Oracle(
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS tk
        |  FROM documents),
        |base AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM toks),
        |w AS (
        |  SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+9], ' ') AS win
        |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 9)) AS i
        |        FROM base WHERE n_tokens >= 10)),
        |d AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1),
        |dup AS (SELECT w.doc_id, w.start FROM w JOIN d USING (win)),
        |cov AS (
        |  SELECT doc_id, count(*) AS dup_tokens FROM (
        |    SELECT DISTINCT doc_id, j FROM (
        |      SELECT doc_id, unnest(generate_series(start, start + 9)) AS j FROM dup))
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |       coalesce(c.dup_tokens, 0) AS dup_tokens,
        |       CASE WHEN b.n_tokens = 0 THEN 0.0
        |            ELSE coalesce(c.dup_tokens, 0) / b.n_tokens END AS dup_frac
        |FROM base b LEFT JOIN cov c USING (doc_id)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // span-granular exact-substring dedup (Lee '21): per-doc fraction of
      // tokens covered by a 10-token window occurring verbatim in ANOTHER
      // doc — catches embedded boilerplate that doc-level near-dup and
      // within-doc repetition both miss
      Dedup.spanProfile(t(dir, "documents"), "doc_id", "text", k = 10)
    },

    Q("q_text_topk", Oracle(OracleHashSql.textTopk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // text similarity SEARCH (retrieval twin of dedup): top-10 docs most
      // similar to doc 0's text by MinHash-estimated Jaccard — one narrow
      // codegen scan into TakeOrderedAndProject; deterministic doc_id
      // tie-break makes the k-boundary engine-independent
      val docs = t(dir, "documents")
      val queryText = docs.where(col("doc_id") === 0).select("text").head().getString(0)
      Dedup.textTopK(docs.where(col("doc_id") =!= 0), "doc_id", "text", queryText, k = 10)
    },

    Q("q_dedup_incremental_probe", Oracle(OracleHashSql.dedupIncremental)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the STEADY-STATE half of the ingest loop: the persisted index
      // already exists (built once per session, shared across runs), so a
      // micro-batch pays only the pruned probe + verify join — the number a
      // deployment pays per batch, vs q_dedup_incremental which also times
      // the one-time full-corpus index build
      val idxDir = minhashIndexFor(dir)
      val docs = t(dir, "documents")
      val batch = docs.where(pmod(col("doc_id"), lit(25)) === 0)
        .select((-col("doc_id") - lit(1L)).as("doc_id"),
          concat(col("text"), lit(" planted drift suffix")).as("text"))
      Dedup.incrementalCandidates(batch, "doc_id", "text", idxDir, threshold = 0.8)
    },

    Q("q_dedup_incremental", Oracle(OracleHashSql.dedupIncremental)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // streaming-ingest dedup shape: the corpus is a PERSISTED MinHash-LSH
      // index on disk; a new batch (every 25th doc re-appearing under a
      // negated id with a drift suffix) is checked against it, reading only
      // the index partitions the batch's own band keys hash into
      val docs = t(dir, "documents")
      val idxDir = tempDir("graft-mhidx")
      Dedup.writeMinhashIndex(docs, "doc_id", "text", idxDir)
      val batch = docs.where(pmod(col("doc_id"), lit(25)) === 0)
        .select((-col("doc_id") - lit(1L)).as("doc_id"),
          concat(col("text"), lit(" planted drift suffix")).as("text"))
      Dedup.incrementalCandidates(batch, "doc_id", "text", idxDir, threshold = 0.8)
    },

    Q("q_dedup_simhash", Oracle(OracleHashSql.dedupSimhash)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      Dedup.simhashCandidates(t(dir, "documents"), "doc_id", "text", maxHamming = 3)
        .select("a", "b", "hamming")
    },

    Q("q_dedup_ngram", Oracle(OracleHashSql.dedupNgram)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val docs = t(dir, "documents")
      val cands = Dedup.minhashCandidates(docs, "doc_id", "text", threshold = 0.5)
      Dedup.ngramJaccardVerify(docs, cands.select("a", "b"), "doc_id", "text", threshold = 0.8)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
    },

    Q("q_paragraph_dedup", Oracle(
      """WITH pages AS (
        |  SELECT doc_id // 4 AS page_id,
        |         'begin boilerplate header end' || chr(10) || chr(10) ||
        |           string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        |parts AS (
        |  SELECT page_id, u.pos - 1 AS pos, u.para
        |  FROM (SELECT page_id, string_split(text, chr(10) || chr(10)) AS arr FROM pages),
        |       LATERAL (SELECT unnest(arr) AS para,
        |                       unnest(generate_series(1, len(arr))) AS pos) u
        |  WHERE trim(u.para) <> ''),
        |kept AS (
        |  SELECT page_id, pos, para, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(para)), '\s+', ' ', 'g'))
        |    ORDER BY page_id, pos) AS rn
        |  FROM parts)
        |SELECT page_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |FROM kept WHERE rn = 1 GROUP BY page_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // C4-style span dedup: the corpus has no paragraph structure, so
      // synthesize multi-paragraph "pages" (4 docs joined by \n\n behind a
      // shared boilerplate header) — cross-page boilerplate is exactly what
      // paragraph dedup removes and doc-level near-dup passes cannot see
      val pages = t(dir, "documents")
        .groupBy((col("doc_id") / 4).cast("long").as("page_id"))
        .agg(concat(lit("begin boilerplate header end\n\n"),
          array_join(transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x("text")), "\n\n")).as("text"))
      Dedup.paragraphDedup(pages, "page_id", "text")
    },

    Q("q_dedup_embedding", Oracle(OracleHashSql.dedupEmbedding)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // documents contain genuine near-dup texts; embed them (stub embedding
      // UDF) and find cosine near-dup pairs — the composed LLM-pipeline shape
      val embedded = t(dir, "documents")
        .selectExpr("doc_id", "GET_EMBEDDING(text) AS embedding")
      Dedup.embeddingCandidates(embedded, "doc_id", "embedding", threshold = 0.95)
        .select("a", "b")
    },

    Q("q_semdedup", Oracle(OracleHashSql.semdedupSurvivors)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // SemDeDup survivor selection: the curation-pipeline output shape —
      // one representative (min id) per semantic-duplicate chain, wide
      // vectors confined to the bounded per-bucket stage, id-only anti-join
      val embedded = t(dir, "documents")
        .selectExpr("doc_id", "GET_EMBEDDING(text) AS embedding")
      Dedup.semanticSurvivors(embedded, "doc_id", "embedding").select("doc_id")
    },

    // ---------- similarity search ----------

    Q("q_embed_topk", Oracle(
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id FROM embeddings e, q
        |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id
        |LIMIT 10""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10).select("vec_id")
    },

    Q("q_embed_ivf_topk", Oracle(OracleHashSql.embedIvfTopk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      val assigned = graft.ops.Ivf.assign(emb, "vec_id", "embedding", model)
      graft.ops.Ivf.topK(assigned, "vec_id", "embedding", model, query, 10, nprobe = 4)
        .select("vec_id")
    },

    Q("q_knn_join", Oracle(OracleHashSql.knnJoin)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // bulk k-NN self-join: every vector → its 5 nearest neighbors,
      // IVF-pruned on BOTH sides (left probes 4 lists inside one codegen
      // projection — no per-query jobs; right reads its single list).
      // Candidate volume is nprobe/k_centroids of the cross join; the
      // per-left top-k is bounded-heap-pruned (graft.plans.HeapTopK)
      // before its exchange — the candidate stream is never sorted.
      val emb = t(dir, "embeddings")
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      graft.ops.Ivf.knnJoin(emb, emb, "vec_id", "embedding", model, k = 5, nprobe = 4)
    },

    Q("q_knn_join_indexed", Oracle(OracleHashSql.knnJoin)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the same bulk k-NN join in its DEPLOYMENT shape: the list side is
      // the persisted float IVF index (train + corpus assignment paid once
      // at build time, outside this query), so the timed plan is probe
      // projection → pair loop over pre-assigned lists → bounded-heap
      // top-k. Bit-identical results to q_knn_join — one oracle replay
      // covers both
      val emb = t(dir, "embeddings")
      val idx = ivfFloatIndexFor(dir)
      graft.ops.Ivf.knnJoinIndexed(emb, idx, "vec_id", "embedding",
        k = 5, nprobe = 4)
    },

    Q("q_retrieval_eval", Oracle(OracleHashSql.retrievalEval)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // index-quality evaluation: the IVF index's top-10 per query vs the
      // brute-force ground truth — per-query recall@10 / MRR@10 / nDCG@10,
      // the accept gate an ANN deployment reads before shipping an index.
      // Truth drives the output: a query the index lost entirely scores 0,
      // not a missing row. Both inputs are rank-bounded, so the metric
      // stage touches 10·|queries| rows — the corpus-scale work happened
      // in the retrieval legs
      val emb = t(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      val cand = graft.ops.Ivf.knnJoin(queries, emb, "vec_id", "embedding",
          model, k = 10, nprobe = 4)
        .withColumnRenamed("vec_id", "q_id")
      // brute-force truth: the 20 queries broadcast across the corpus,
      // exact cosine, per-query top-10 WindowGroupLimit heaps
      val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("__qe"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
        .orderBy(graft.functions.CdcExpressions
          .cosineSim(col("__qe"), col("embedding")).desc, col("vec_id"))
      val truth = emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select(col("q_id"), col("vec_id").as("nn_id"), col("rank"))
      graft.ops.Retrieval.evalMetrics(cand, truth, "q_id", "nn_id", "rank", 10)
    },

    Q("q_recall_curve", Oracle(OracleHashSql.recallCurve)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the recall/latency tuning curve: per-query recall@10 at nprobe
      // 1/2/4/8 against ONE brute-force truth — the sweep an operator
      // reads to pick the index's operating point. recall values are
      // exact rationals (nhits / min(k, |truth|)), so the whole curve
      // hash-compares exactly; one model, one truth, four rank-bounded
      // candidate legs
      val emb = t(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("__qe"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
        .orderBy(graft.functions.CdcExpressions
          .cosineSim(col("__qe"), col("embedding")).desc, col("vec_id"))
      val truth = emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select(col("q_id"), col("vec_id").as("nn_id"), col("rank"))
      Seq(1, 2, 4, 8).map { np =>
        val cand = graft.ops.Ivf.knnJoin(queries, emb, "vec_id", "embedding",
            model, k = 10, nprobe = np)
          .withColumnRenamed("vec_id", "q_id")
        graft.ops.Retrieval.evalMetrics(cand, truth, "q_id", "nn_id", "rank", 10)
          .select(lit(np).as("nprobe"), col("q_id"), col("recall"))
      }.reduce(_ unionByName _)
    },

    Q("q_hard_negatives", Oracle(OracleHashSql.hardNegatives)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // hard-negative mining for embedding-model training: each vector's
      // top-5 nearest DIFFERENT-label neighbors — the knnJoin plan with
      // the exclusion applied BEFORE the per-left heap (a same-label
      // neighbor must not eat a rank slot); the label rides the slim
      // probe/list rows, so the plan shape is unchanged
      val emb = t(dir, "embeddings")
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      graft.ops.Ivf.hardNegatives(emb, "vec_id", "embedding", "label", model,
        k = 5, nprobe = 4)
    },

    Q("q_embed_ivfsq_topk", Oracle(OracleHashSql.embedIvfSq8Topk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the Faiss IVF,SQ8 layout: nprobe file-listing pruning × 4x less
      // scan bandwidth (uint8 codes); exact cosine re-ranks the top 40 via
      // an IN-pushdown join back to the float table
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = ivfSq8IndexFor(dir)
      graft.ops.Ivf.topKSq8(spark, idx, emb, "vec_id", "embedding", query,
        k = 10, nprobe = 4, rerank = 40)
    },

    Q("q_embed_ivfsq_incremental", Oracle(OracleHashSql.embedIvfSq8Incremental)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // index LIFECYCLE, not just layout: base build (vec_id >= 100) →
      // append the first 100 vectors with the EXISTING centroids →
      // compact the append's file waves → probe. The query vector (vec 0)
      // is in the APPENDED batch, so a hit proves appended vectors are
      // probe-visible; the plan still prunes to nprobe lists at the listing
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val idx = ivfSq8GrownIndexFor(dir)
      graft.ops.Ivf.topKSq8(spark, idx, emb, "vec_id", "embedding", query,
        k = 10, nprobe = 4, rerank = 40)
    },

    Q("q_chunk_embed_topk", Oracle(OracleHashSql.chunkEmbedTopk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // composed RAG assembly: chunk → stub-embed → IVF-SQ8 probe → top-k
      // chunks WITH (doc_id, chunk_ix) provenance — the downstream consumer
      // the stable chunk identity exists for. Retrieval plan = the grown
      // index's (file-listing pruning × uint8 bandwidth × IN-pushdown
      // exact rerank against the PERSISTED embedding table)
      val (embDir, idxDir) = chunkEmbedIndexFor(dir)
      val query = graft.functions.AiFunctions.fakeEmbed(OracleHashSql.chunkQueryText)
      graft.ops.Ivf.topKSq8(spark, idxDir, spark.read.parquet(embDir),
          "chunk_id", "embedding", query, k = 10, nprobe = 4, rerank = 40)
        .select(expr("chunk_id DIV 1048576").as("doc_id"),
          expr("chunk_id % 1048576").as("chunk_ix"))
    },

    Q("q_cluster_balance", Oracle(OracleHashSql.clusterBalance)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // SemDeDup/DataComp-style curation: k-means-cluster the embedding
      // space, then rebalance the corpus to a UNIFORM cluster mix so no
      // semantic neighborhood dominates pretraining — IVF assignment
      // (broadcast centroids, codegen NearestCentroid) composed with the
      // bounded-decision-table rebalance filter
      val emb = t(dir, "embeddings")
      val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
      val assigned = graft.ops.Ivf.assign(emb, "vec_id", "embedding", model)
      val uniform = (0 until 16).map(c => c.toString -> 1.0 / 16).toMap
      graft.ops.Sampling.rebalance(assigned, col("vec_id"), col("centroid_id"), uniform)
        .select(col("vec_id"), col("centroid_id").cast("long").as("cid"))
    },

    Q("q_embed_sq8_topk", Oracle(OracleHashSql.embedSq8Topk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // SQ8 quantized ANN: uint8 codes (4x less scan bandwidth than floats)
      // rank candidates by the dequantized approximate dot; exact cosine
      // re-ranks the top 40
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.sq8TopK(emb, "vec_id", "embedding", query, k = 10, rerank = 40)
    },

    Q("q_embed_pq_topk", Oracle(OracleHashSql.embedPqTopk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // product-quantization ADC: 8 subspace codebooks, codes packed into
      // one int64 (32x less candidate-scan bandwidth than floats), m-lookup
      // approximate dot, exact cosine re-rank of the top 40
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val model = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
      graft.ops.Pq.topK(emb, "vec_id", "embedding", model, query, k = 10, rerank = 40)
    },

    Q("q_embed_project_topk", Oracle(OracleHashSql.embedProjectTopk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // JL sign-projection ANN: rank in 16-dim projected space (4x fewer
      // bytes than the 64-dim floats when the projection is persisted),
      // exact cosine re-rank of the top 40
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.projectedTopK(emb, "vec_id", "embedding", query,
        k = 10, outDim = 16, rerank = 40)
    },

    Q("q_embed_lsh_topk", Oracle(OracleHashSql.embedLshTopk)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val emb = t(dir, "embeddings")
      val query = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      // 6 planes → 64 buckets: right bucket granularity for this table size
      val bucketed = Similarity.withBuckets(emb, "vec_id", "embedding", numPlanes = 6)
      Similarity.lshTopK(bucketed, "vec_id", "embedding", query, 10, numPlanes = 6)
        .select("vec_id")
    },

    // ---------- text analysis ----------

    Q("q_text_quality", Oracle(
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS n_words,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
        |  ROUND(CASE WHEN length(text) > 0
        |    THEN CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) / length(text)
        |    ELSE 0.0 END, 4) AS alpha_ratio,
        |  ROUND(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
        |               / len(string_split_regex(trim(text), '\s+')) END, 4) AS rep_ratio
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val d = t(dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_words"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        round(when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[^\\p{L}]", "")).cast("double") / length(col("text")))
          .otherwise(0.0), 4).as("alpha_ratio"),
        TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
    },

    Q("q_repetition_stats", Oracle(repetitionStatsOracleSql)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // within-document repetition profile (Gopher §A1.1 rule family): six
      // doc-local metrics from ONE codegen'd text pass — no explode, no
      // shuffle (see ops/Repetition.scala)
      graft.ops.Repetition.profile(t(dir, "documents"), "doc_id", "text")
    },

    Q("q_repetition_filter", Oracle(
      (s"""SELECT doc_id FROM ($repetitionStatsOracleSql)
         |WHERE dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2
         |  AND dup_para_frac <= 0.3 AND dup_para_char_frac <= 0.2
         |  AND top_bigram_frac <= 0.05 AND dup_5gram_frac <= 0.15""".stripMargin),
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the curation filter: fused single-expression keep/drop over the
      // scan. The synthetic corpus has no line/paragraph boilerplate (those
      // caps ride at Gopher defaults and are proven on crafted inputs in
      // RepetitionSpec); the bigram cap is tightened to 0.05 so the gate
      // actually splits this corpus
      graft.ops.Repetition.filter(t(dir, "documents"), "text",
        maxTopBigram = 0.05).select("doc_id")
    },

    Q("q_gopher_stats", Oracle(
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS words,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(words) = 0 THEN 0.0
        |       ELSE list_sum(list_transform(words, w -> length(w))) / len(words) END
        |    AS mean_word_len,
        |  CASE WHEN len(words) = 0 THEN 0.0
        |       ELSE (hashes + ellipses) / len(words) END AS symbol_word_ratio,
        |  CASE WHEN len(lines) = 0 THEN 0.0
        |       ELSE len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*')
        |                                     OR starts_with(l, '•'))) / len(lines) END
        |    AS bullet_line_frac,
        |  CASE WHEN len(lines) = 0 THEN 0.0
        |       ELSE len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…')))
        |            / len(lines) END AS ellipsis_line_frac,
        |  CASE WHEN len(words) = 0 THEN 0.0
        |       ELSE len(list_filter(words, w -> regexp_matches(w, '[\p{L}]'))) / len(words) END
        |    AS alpha_word_frac,
        |  len(list_filter(['the','be','to','of','and','that','have','with'],
        |      sw -> list_contains(list_transform(words, w -> lower(w)), sw))) AS stopword_hits
        |FROM base""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the Gopher word/line-level rules the repetition family doesn't
      // cover (Rae '21 §A1.1): all integer-ratio doubles, one codegen scan
      TextAnalysis.gopherProfile(t(dir, "documents"), "doc_id", "text")
    },

    Q("q_gopher_filter", Oracle(
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS words,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
        |  FROM documents)
        |SELECT doc_id FROM base
        |WHERE len(words) > 0
        |  AND list_sum(list_transform(words, w -> length(w))) / len(words) >= 4.2
        |  AND list_sum(list_transform(words, w -> length(w))) / len(words) <= 10.0
        |  AND (hashes + ellipses) / len(words) <= 0.1
        |  AND (len(lines) = 0 OR
        |       len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*')
        |                                OR starts_with(l, '•'))) / len(lines) <= 0.9)
        |  AND (len(lines) = 0 OR
        |       len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…')))
        |       / len(lines) <= 0.3)
        |  AND len(list_filter(words, w -> regexp_matches(w, '[\p{L}]'))) / len(words) >= 0.8
        |  AND len(list_filter(['the','be','to','of','and','that','have','with'],
        |          sw -> list_contains(list_transform(words, w -> lower(w)), sw))) >= 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the composable keep gate; thresholds tuned so the gate splits this
      // fixture (synthetic docs have no bullets/ellipses — those caps ride
      // at Gopher defaults and are proven on crafted inputs in the spec)
      t(dir, "documents")
        .where(TextAnalysis.gopherKeep(col("text"),
          minMeanWordLen = 4.2, minStopwords = 1))
        .select("doc_id")
    },

    Q("q_lang_id", Oracle(langIdOracleSql)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "documents").select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    },

    Q("q_token_count", Oracle(
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) END AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS INTEGER) AS subword_tokens
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.subwordCount(col("text")).as("subword_tokens"))
    },

    Q("q_functions_null", Oracle(
      """SELECT c_custkey,
        |  coalesce(nullif(c_mktsegment, 'BUILDING') = 'MACHINERY', false) AS eq_null_lit,
        |  coalesce(nullif(c_mktsegment, c_mktsegment)
        |           = nullif(c_mktsegment, c_mktsegment), false) AS eq_both_null,
        |  coalesce(c_mktsegment = 'BUILDING', false) AS eq_plain
        |FROM customer""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the reference's `=` returns FALSE (not NULL) on null operands
      // (CdcFunctions.cdcEquals parity, model/CdcTypes NULL semantics)
      import graft.functions.CdcFunctions.cdcEquals
      t(dir, "customer").select(
        col("c_custkey"),
        cdcEquals(expr("nullif(c_mktsegment, 'BUILDING')"), lit("MACHINERY")).as("eq_null_lit"),
        cdcEquals(expr("nullif(c_mktsegment, c_mktsegment)"),
          expr("nullif(c_mktsegment, c_mktsegment)")).as("eq_both_null"),
        cdcEquals(col("c_mktsegment"), lit("BUILDING")).as("eq_plain"))
    },

    Q("q_split", Oracle(
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // disjoint deterministic train/val/test split by key-hash bands
      t(dir, "documents").select(col("doc_id"),
        graft.ops.Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    },

    Q("q_jsonl_read", Oracle(
      "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 200",
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // JSONL corpus ingestion with an EXPLICIT schema — inference costs a
      // full extra scan of the data (a non-starter at 100 TB) and types
      // drift with the sample; the declared schema also lets the json
      // reader prune fields it never parses. Filter + projection on the
      // jsonl mirror of documents; oracle reads the parquet table
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema).json(jsonlDocsFor(dir))
        .where(col("n_chars") >= 200)
        .select("doc_id", "lang", "n_chars")
    },

    Q("q_orc_read", Oracle(
      "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 200",
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORC corpus ingestion — the other columnar warehouse format; the
      // same filter must reach the ORC reader as a pushed predicate
      // (min/max stripe stats pruning, asserted in PlanInvariantsSpec),
      // and the projection must prune the read schema to 3 columns
      spark.read.orc(orcDocsFor(dir))
        .where(col("n_chars") >= 200)
        .select("doc_id", "lang", "n_chars")
    },

    Q("q_csv_read", Oracle(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 100.0""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // CSV bulk-load with an EXPLICIT schema + header (inference = an
      // extra full scan at 100 TB, and types drift with the sample); CSV
      // cannot prune columns at the byte level, which is exactly why the
      // engine's first move on CSV input is a one-time parquet conversion
      // — this query is the ingest-side read that feeds it
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema).option("header", "true")
        .csv(csvEventsFor(dir))
        .where(col("event_type") === "purchase" && col("value") > 100.0)
        .select("event_id", "user_id", "value")
    },

    Q("q_split_grouped", Oracle(
      """SELECT doc_id, source,
        |  CASE WHEN substring(md5(source), 1, 4) < 'cccd' THEN 'train'
        |       WHEN substring(md5(source), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // group-coherent split: keyed by SOURCE, so a domain lands whole in
      // one split — the cheap leakage guard (templated pages from one
      // site never straddle train/val)
      t(dir, "documents").select(col("doc_id"), col("source"),
        graft.ops.Sampling.splitColumn(col("source"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    },

    Q("q_split_leakfree", Oracle(OracleHashSql.splitLeakfree)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // leakage-FREE split: keyed by the near-dup CLUSTER id, so a cluster
      // lands whole in one split and no eval doc has a train near-dup —
      // the in-corpus counterpart of benchmark decontamination
      val docs = t(dir, "documents")
      val clusters = Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.8)
      docs.join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          graft.ops.Sampling.splitColumn(coalesce(col("cluster_id"), col("doc_id")),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    },

    Q("q_decontaminate", Oracle(
      // hash-math oracles (full SQL re-implementations of the 64-bit hash
      // pipelines — FNV-1a/splitmix64/xxhash64 in UBIGINT+HUGEINT arithmetic)
      OracleHashSql.decontaminate,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // eval-set contamination check: benchmark = 12-token snippets of every
      // 20th doc; flag training docs sharing >= 2 distinct shingles
      val docs = t(dir, "documents")
      val bench = docs.where(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id"),
          // filter the empty token split() keeps for leading non-word chars
          // (the oracle's tokenizer filters them too)
          expr("array_join(slice(filter(split(lower(text), '\\\\W+'), x -> x != ''), 3, 12), ' ')")
            .as("text"))
      graft.ops.Decontaminate.flag(docs, bench, "doc_id", "text", minShingles = 2)
    },

    Q("q_decontaminate_bloom", Oracle(OracleHashSql.decontaminateBloom)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the big-bench regime: bloom-prefiltered exact contamination check —
      // same answer as the broadcast path, but the train shuffle carries
      // only bloom survivors (bench = 12-token snippets of every 10th doc,
      // snippet starting at token 5)
      val docs = t(dir, "documents")
      val bench = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"),
          expr("array_join(slice(filter(split(lower(text), '\\\\W+'), x -> x != ''), 5, 12), ' ')")
            .as("text"))
      graft.ops.Decontaminate.flagBloom(docs, bench, "doc_id", "text", minShingles = 2)
    },

    Q("q_shuffle_deterministic", Oracle(OracleHashSql.shuffleDeterministic)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // epoch shuffle: exact rank in xxhash64-of-key order, computed with
      // the distributed prefix sum (reproducible across runs/partitionings)
      graft.ops.Sampling.deterministicShuffle(t(dir, "documents"), col("doc_id"))
        .select(col("doc_id"), col("shuffle_pos"))
    },

    Q("q_pack_windows", Oracle(
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n
        |  FROM documents),
        |offs AS (
        |  SELECT doc_id, n,
        |    sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS start
        |  FROM toks)
        |SELECT doc_id, n AS n_tokens, CAST(start AS BIGINT) AS start,
        |  CAST(start // 512 AS BIGINT) AS first_window,
        |  CAST((start + n - 1) // 512 AS BIGINT) AS last_window,
        |  CAST(start % 512 AS BIGINT) AS offset_in_window
        |FROM offs WHERE n > 0""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // pretraining sequence packing: concatenate docs in doc_id order, cut
      // into 512-token context windows (two-phase distributed prefix sum —
      // no single-partition global window)
      graft.ops.Pack.packWindows(t(dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), windowTokens = 512)
    },

    Q("q_heavy_hitters", Oracle(
      """SELECT w AS word, count(*) AS cnt FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                            x -> x <> '')) AS w
        |  FROM documents)
        |GROUP BY w HAVING count(*) >= 300""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // sketch-prefilter + exact-verify two-phase: CMS never undercounts,
      // so the candidate set is a superset and the output is IDENTICAL to
      // the exact aggregation (the oracle) — but the exact pass only ever
      // aggregates candidates, so its state is bounded at 100 TB
      val tokens = t(dir, "documents").select(
        explode(graft.functions.CdcExpressions.regexTokens(col("text"))).as("word"))
      graft.ops.Sketch.heavyHitters(tokens, "word", threshold = 300)
    },

    Q("q_vocab_sketch", Oracle(OracleHashSql.vocabSketch)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // frequency estimation at bounded memory: a 4×8192 count-min sketch
      // is the whole artifact at ANY corpus size (the exact vocab agg is
      // itself corpus-scale state at 100 TB); estimates only overcount —
      // checked here against the exact top-20 (oracle replays the sketch
      // bit-for-bit in SQL: same hash family, same bucket bits)
      val words = graft.ops.Bpe.wordCounts(t(dir, "documents"), col("text"))
      val sketch = graft.ops.Sketch.countMin(words, "word", col("freq"))
      val top = words.orderBy(col("freq").desc, col("word")).limit(20)
        .withColumnRenamed("freq", "exact_cnt")
      graft.ops.Sketch.estimate(sketch, top, "word")
    },

    Q("q_bpe_pairs", Oracle(
      """WITH words AS (
        |  SELECT w AS word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                              x -> x <> '')) AS w
        |    FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT word[i:i] AS a, word[i+1:i+1] AS b, freq FROM (
        |    SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
        |    FROM words WHERE length(word) >= 2))
        |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM pairs GROUP BY a, b
        |ORDER BY cnt DESC, a, b LIMIT 30""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // tokenizer induction, the per-iteration statistic: frequency-weighted
      // adjacent-pair counts over the word-frequency table (corpus scanned
      // once; the pair agg is vocab-bounded). Top-30, lexicographic
      // tie-break so the cut is engine-independent
      graft.ops.Bpe.pairCounts(graft.ops.Bpe.seedVocab(
          graft.ops.Bpe.wordCounts(t(dir, "documents"), col("text"))))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(30)
    },

    Q("q_bpe_merges", RowsOnly("q_bpe_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      // the full BPE training loop (10 merges over the bounded vocab table;
      // each ROUND: pair explode + bounded agg + top-of-rank collect + one
      // codegen'd batch rewrite of a provably-independent merge prefix).
      // Not SQL-expressible (sequential argmax chain) → rows-only gate;
      // BpeSpec proves the loop equals a naive reference implementation
      val (merges, _) = graft.ops.Bpe.trainMerges(
        t(dir, "documents"), col("text"), numMerges = 10)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b, a + b) }
        .toDF("rank", "a", "b", "merged")
    },

    Q("q_bpe_audit", Oracle(
      // the vocab's bookkeeping replayed independently: same tokenization as
      // q_bpe_pairs, freq per word, rejoins pinned to literal TRUE
      """SELECT w AS word, CAST(count(*) AS BIGINT) AS freq, TRUE AS rejoins
        |FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                x -> x <> '')) AS w
        |  FROM documents)
        |GROUP BY w""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated audit of the trained vocab's bookkeeping (the
      // q_pack_bins_audit pattern): one row per corpus word with its
      // frequency — which must equal DuckDB's independent tokenize+count —
      // and a rejoins flag pinned to the oracle's literal TRUE (the merge
      // passes may only RE-GROUP a word's characters: concat(syms) must
      // reproduce the word byte-for-byte). A dropped/duplicated word
      // breaks the row count, a corrupted merge breaks rejoins, a freq
      // drift breaks the count — the training loop's bookkeeping lands in
      // the hard gate while the argmax chain stays rows-only
      bpeVocabFor(dir).select(col("word"), col("freq"),
        (concat_ws("", col("syms")) === col("word")).as("rejoins"))
    },

    Q("q_bpe_encode", RowsOnly("q_bpe_encode_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the trained tokenizer APPLIED: corpus re-tokenized through the
      // broadcast word→subwords table (never re-segmented symbol by
      // symbol); emits per-doc BPE token counts. The tokenizer is trained
      // ONCE per (session, dir) — the steady-state split every deployment
      // runs (q_bpe_merges times the training loop itself). Rows-only
      // gate (the merge chain is not SQL-expressible); BpeSpec proves
      // encode against the naive reference
      val docs = t(dir, "documents")
      graft.ops.Bpe.encode(docs, "doc_id", col("text"), bpeVocabFor(dir))
        .groupBy("doc_id")
        .agg(sum(size(col("tokens"))).as("bpe_tokens"),
          count(lit(1)).as("words"))
    },

    Q("q_bpe_encode_audit", Oracle(
      // the encode path's bookkeeping: per-doc word-occurrence counts from an
      // independent tokenize, rejoins pinned to literal TRUE
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(lower(text), '\W+'),
        |                            x -> x <> '')) AS BIGINT) AS n_words,
        |       TRUE AS rejoins
        |FROM documents
        |WHERE len(list_filter(string_split_regex(lower(text), '\W+'),
        |                      x -> x <> '')) > 0""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated audit of the encode path (broadcast vocab join + OOV
      // char fallback): per doc, the encoded word-occurrence count must
      // equal DuckDB's independent tokenize count, and every occurrence's
      // subwords must concatenate back to its word (pinned to literal
      // TRUE) — a dropped occurrence, a duplicated join match, or a
      // corrupting split breaks a row
      val docs = t(dir, "documents")
      graft.ops.Bpe.encode(docs, "doc_id", col("text"), bpeVocabFor(dir))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          expr("bool_and(concat_ws('', tokens) = word)").as("rejoins"))
    },

    Q("q_pack_stats", Oracle(
      """WITH tok AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM documents)
        |SELECT (n // 16) * 16 AS len_bucket,
        |       count(*) AS docs,
        |       CAST(sum(n) AS BIGINT) AS tokens,
        |       CAST(sum((n + 127) // 128) AS BIGINT) AS padded_windows,
        |       CAST(sum((n + 127) // 128) * 128 - sum(n) AS BIGINT) AS waste_tokens
        |FROM tok WHERE n > 0 GROUP BY len_bucket""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // packing-efficiency report: per length bucket, padded windows vs
      // actual tokens — the numbers that justify concat-packing and pick
      // the context length (exact BIGINT sums, bounded agg). Window/bucket
      // sized to the fixture's 10-99-token docs so the report has spread
      graft.ops.Pack.paddingStats(t(dir, "documents"),
        TextAnalysis.tokenCount(col("text")), windowTokens = 128, bucketSize = 16)
    },

    Q("q_pack_bins", RowsOnly("q_pack_bins_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // NO-SPLIT packing (SFT mode): best-fit-decreasing into
      // PackCapacity-token bins, hash-banded so each band packs
      // independently in parallel. Rows-only gate (the per-band best-fit
      // fold is a sequential argmin chain, not SQL-expressible);
      // PackBinsSpec proves the assignment equals a naive single-node
      // best-fit-decreasing reference per band, capacity is never
      // exceeded, and the layout is partitioning-invariant
      graft.ops.Pack.packBins(t(dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), capacity = PackCapacity, bands = 32)
    },

    Q("q_pack_bins_audit", Oracle(OracleHashSql.packBinsAudit(bands = 32))) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated aggregate invariants of the packing above (the argmin
      // chain itself stays rows-only): per band, the packed doc count /
      // token sum / token sum-of-squares must equal the same pure input
      // functions DuckDB recomputes from `documents` (multiset-of-lengths
      // preservation), and the overfull-bin count must equal the oracle's
      // literal 0 (capacity arithmetic — the predicate below shares the
      // ONE PackCapacity constant with the packing call, so a capacity
      // change cannot drift the audit). ONE scan of the packing: bin-level
      // partial sums roll up to the band level.
      val asg = graft.ops.Pack.packBins(t(dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), capacity = PackCapacity, bands = 32)
      asg.groupBy(col("band"), col("bin"))
        .agg(count(lit(1)).as("bin_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          sum(col("n_tokens") * col("n_tokens")).as("bin_tok2"))
        .groupBy(col("band"))
        .agg(sum(col("bin_docs")).as("n_docs"),
          sum(col("bin_tokens")).as("sum_tokens"),
          sum(col("bin_tok2")).as("sum_tokens_sq"),
          sum(when(col("bin_tokens") > PackCapacity, 1L).otherwise(0L))
            .as("n_overfull_bins"))
    },

    // ---------- multimodal plumbing ----------

    Q("q_multimodal_decode", Oracle(OracleHashSql.multimodalDecode)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val assets = Multimodal.syntheticAssets(t(dir, "part"), "p_partkey", "image")
      Multimodal.decodeImages(assets).select("asset_id", "width", "height", "channels")
    },

    Q("q_frame_sample", Oracle(
      """SELECT CAST(p_partkey AS BIGINT) AS asset_id,
        |       CAST(unnest(range(0, (p_partkey % 32) + 1, 4)) AS BIGINT) AS frame_idx
        |FROM part""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      val assets = Multimodal.syntheticAssets(t(dir, "part"), "p_partkey", "video")
      Multimodal.sampleFrames(assets, everyNth = 4)
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"))
    },

    // ---------- beyond-parity relational ops at scale ----------

    Q("q1_agg", Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(AVG(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      t(dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02")) // string coerces to the column's timestamp type
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    Q("q_join_broadcast", Oracle(
      """SELECT r_name, n_name, count(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // dim tables broadcast: no shuffle of the fact side
      t(dir, "customer")
        .join(broadcast(t(dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("sum_bal"))
    },

    Q("q_ai_chat", Oracle(
      """SELECT doc_id, '[stub-model] ' || substring(text, 1, 64) AS reply,
        |       64 AS embed_dim
        |FROM documents""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // AI transform functions as projection expressions (§2.4): stubbed
      // deterministically, so even the chat output is oracle-checkable
      t(dir, "documents").selectExpr(
        "doc_id",
        "AI_CHAT_PREDICT(text) AS reply",
        "SIZE(GET_EMBEDDING(text)) AS embed_dim")
    },

    Q("q3_shipping", Oracle(
      """SELECT l_orderkey, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q3 shape (no LIMIT: driver compare is set-based): shuffle join
      // on orderkey, broadcast-able customer filter
      t(dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(t(dir, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1998-01-01"))
        .join(t(dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > lit("1998-01-01"))
        .groupBy("l_orderkey")
        // decimal-exact: products live on a 4-decimal grid, so ROUND(double)
        // hits .005 midpoints; summing as DECIMAL makes rounding well-defined
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
    },

    Q("q4_order_priority", Oracle(
      """SELECT o_orderpriority, count(*) AS order_count FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q4 shape — a correlated EXISTS subquery planned as a LEFT SEMI
      // join: both sides shuffle once on orderkey (no fact-side row ever
      // duplicates — semi joins emit each order at most once, so a
      // many-line order costs nothing extra), the late-shipment range
      // predicate rides inside the join condition, and the final priority
      // agg is 5 groups after map-side partials. lineitem lacks
      // l_commitdate/l_receiptdate in this fixture, so "late" =
      // shipped > 60 days after the order date
      val o = t(dir, "orders").where(
        col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1995-07-01"))
      val l = t(dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },

    Q("q13_custdist", Oracle(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q13 shape — customer order-count distribution INCLUDING
      // zero-order customers: left outer join with the filter inside the
      // join condition (pushing it below the join would turn absent
      // matches into lost customers), count(col) counting matches only,
      // then the tiny second distribution agg
      t(dir, "customer")
        .join(t(dir, "orders"),
          col("c_custkey") === col("o_custkey") && col("o_orderpriority") =!= "1-URGENT",
          "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    },

    Q("q22_idle_balance", Oracle(
      """WITH s AS (
        |  SELECT count(*) AS n, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS tot
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
        |FROM customer c, s
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) * s.n > s.tot
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q22 shape — high-balance customers with no URGENT orders
      // (every customer in this fixture has SOME order, so the classic
      // no-order form is empty — the urgent restriction keeps the
      // anti-join non-degenerate): scalar
      // aggregate subquery (bounded 1-row collect) + LEFT ANTI join. The
      // above-average test is the EXACT cross-multiplied form
      // bal·N > Σbal in DECIMAL — an avg() of doubles differs by
      // summation order across engines at the boundary ULP, the product
      // form cannot
      val cust = t(dir, "customer")
      val stats = cust.where(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,4)")).as("tot")).head()
      val (n, tot) = (stats.getLong(0), stats.getDecimal(1))
      cust
        .where(col("c_acctbal").cast("decimal(18,4)") * n > lit(tot))
        .join(t(dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double").as("totacctbal"))
    },

    Q("q10_returned_items", Oracle(
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name,
        |       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE) AS c_acctbal,
        |       revenue
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q10 shape — returned-item reporting: the returns slice of
      // lineitem (filter pushed to the scan) joins a date-bounded orders
      // slice, rolls up revenue per CUSTOMER (a large-cardinality group —
      // map-side partials before the one customer-key exchange), then the
      // customer/nation dims attach by broadcast AFTER the rollup, so the
      // wide name columns never ride the fact shuffle.
      val rev = t(dir, "lineitem").where(col("l_returnflag") === "R")
        .join(t(dir, "orders").where(
          col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1996-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
      rev.join(t(dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          round(col("c_acctbal").cast("decimal(18,4)"), 2).cast("double").as("c_acctbal"),
          col("revenue"))
    },

    Q("q14_promo_share", Oracle(
      """SELECT
        |  CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS promo_revenue,
        |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q14 shape — conditional aggregation over a broadcast part
      // join: promo vs total revenue in one pass (two CASE'd decimal sums,
      // no second scan). The classic form divides them; emitting BOTH
      // exact decimal sums keeps engine-dependent decimal-division scale
      // rules off the compare (consumers divide).
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      t(dir, "lineitem").where(
          col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
        .join(broadcast(t(dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(18,4)"))), 2)
            .cast("double").as("promo_revenue"),
          round(sum(rev), 2).cast("double").as("total_revenue"),
          count(lit(1)).as("n_lines"))
    },

    Q("q17_small_qty_revenue", Oracle(
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |bl AS (SELECT l_partkey, l_quantity, l_extendedprice
        |       FROM lineitem JOIN bp ON l_partkey = p_partkey),
        |st AS (SELECT l_partkey AS s_partkey, count(*) AS cnt_qty,
        |              SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
        |       FROM bl GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM bl JOIN st ON l_partkey = s_partkey
        |WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * cnt_qty < sum_qty""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q17 shape — correlated per-part scalar subquery
      // (qty < 0.2 * avg(qty) over the part) decorrelated into a per-part
      // aggregate joined back. The brand filter semi-joins lineitem FIRST
      // (broadcast part-id set), so the per-part stats aggregate runs over
      // the ~1/25 surviving slice, and its output is bounded by the brand's
      // part count — broadcast back, lineitem never shuffles. Exactness:
      // the 0.2·avg test is cross-multiplied (5·qty·cnt < Σqty) in DECIMAL,
      // so no engine-dependent double division sits on the decision path.
      val brand = t(dir, "part").where(col("p_brand") === "Brand#23")
        .select("p_partkey")
      val bl = t(dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      val stats = bl.groupBy(col("l_partkey").as("s_partkey"))
        .agg(count(lit(1)).as("cnt_qty"),
          sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"))
      bl.join(broadcast(stats), col("l_partkey") === col("s_partkey"))
        .where(col("l_quantity").cast("decimal(18,4)") * 5 * col("cnt_qty") < col("sum_qty"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
    },

    Q("q18_large_orders", Oracle(
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS o_total,
        |       CAST(qty_dec AS DOUBLE) AS sum_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q18 shape — HAVING on a per-order rollup: lineitem aggregates
      // once on its own key (map-side partials), the >250 gate keeps ~1% of
      // orders, and that slim survivor set joins back to orders/customer.
      // The fact table pays exactly one shuffle — its own aggregate.
      val bigOrders = t(dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("qty_dec"))
        .where(col("qty_dec") > 250)
      t(dir, "orders").join(bigOrders, col("o_orderkey") === col("l_orderkey"))
        .join(t(dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice").cast("decimal(18,4)"), 2).cast("double").as("o_total"),
          col("qty_dec").cast("double").as("sum_qty"))
    },

    Q("q19_disjunctive", Oracle(
      """SELECT count(*) AS n_lines,
        |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity BETWEEN 1 AND 30
        |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q19 shape — OR-of-ANDs join predicate. The partkey equi-key
      // is common to every branch, so this stays a broadcast HASH join with
      // the disjunction as a residual filter — never a nested loop — and
      // the factored-out quantity envelope (1..30) is pushed to the
      // lineitem scan as a plain conjunct.
      val p = t(dir, "part").select("p_partkey", "p_brand", "p_size")
      val l = t(dir, "lineitem")
        .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      l.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg(count(lit(1)).as("n_lines"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
    },

    Q("q21_waiting_supplier", Oracle(
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, count(*) AS numwait
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE is_late) l1
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lo l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lo l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
        |GROUP BY s_name""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q21 shape — EXISTS(another supplier on the order) AND
      // NOT EXISTS(another LATE supplier) decorrelated into ONE per-order
      // aggregate: distinct-supplier and distinct-late-supplier counts.
      // A supplier "kept the order waiting" iff it is late, the order is
      // multi-supplier, and it is the only late one (n_supp >= 2,
      // n_late = 1). One orderkey shuffle for the rollup + one join back —
      // the textbook correlated form re-shuffles lineitem for each of its
      // three self-references. "Late" = shipped > 60 days after the order
      // date (this fixture has no l_commitdate/l_receiptdate, same
      // convention as q4). The oracle runs the classic EXISTS/NOT EXISTS
      // form, independently validating the decorrelation.
      // the explicit suppkey not-null filter does double duty: it keeps the
      // fold's group-count semantics identical to the countDistinct it
      // replaces (countDistinct ignores nulls; a groupBy would count a
      // null-key group), and it makes BOTH legs' scan predicates equal —
      // without it the supplier join infers isnotnull(l_suppkey) into only
      // leg1's scan and the otherwise-identical exchange subtrees stop
      // canonicalizing equal, killing the reuse below
      val lo = t(dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .where(col("l_suppkey").isNotNull)
        .join(t(dir, "orders").where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("is_late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      // BOTH legs fold onto ONE per-(order, supplier) aggregate: n_supp =
      // count of its rows per order, n_late = count of its late rows (a
      // supplier is "late" iff ANY of its lines is — exactly what the old
      // countDistinct(when(is_late, suppkey)) counted), and the late-pair
      // distinct IS its late rows. The two consumers then share an
      // IDENTICAL exchange subtree, so ReuseExchange computes the
      // lineitem ⋈ orders scan + partial aggregate ONCE where the previous
      // shape (differently-shaped aggregates per leg) ran it twice (r20;
      // guide §2.4 share-one-exchange). The oracle runs the classic
      // EXISTS/NOT EXISTS form, independently validating this fold.
      val perSupp = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("is_late")).as("late"))
      val perOrder = perSupp.groupBy(col("l_orderkey").as("po_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          count(when(col("late"), lit(1))).as("n_late"))
      perSupp.where(col("late"))
        .select("l_orderkey", "l_suppkey")
        .join(perOrder, col("l_orderkey") === col("po_orderkey"))
        .where(col("n_supp") >= 2 && col("n_late") === 1)
        .join(broadcast(t(dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    },

    Q("q5_local_supplier", Oracle(
      """SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q5 shape: star join, dims broadcast, co-located nation check
      t(dir, "customer")
        .join(t(dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(dir, "supplier")), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
    },

    Q("q6_forecast", Oracle(
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q6 shape: pure scan+filter+scalar agg — pushdown showcase
      t(dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01")
          && col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
    },

    Q("q_quality_filter", Oracle(qualityFilterOracleSql)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // corpus cleaning: quality-gate filter over computed features — the
      // standard pre-training text filter stage
      val d = t(dir, "documents")
      d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .where(col("n_words").between(20, 500) && col("lang_pred") =!= "und")
    },

    Q("q_source_filter", Oracle(
      """WITH stats AS (
        |  SELECT source, count(*) AS total,
        |         count(*) FILTER (
        |           CASE WHEN length(trim(text)) = 0 THEN 0
        |                ELSE len(string_split_regex(trim(text), '\s+')) END < 40) AS bad
        |  FROM documents GROUP BY source)
        |SELECT doc_id, source FROM documents
        |WHERE source IN (SELECT source FROM stats WHERE bad / total <= 0.35)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // domain-reputation gate (C4/Gopher/RefinedWeb curation rule): a
      // source whose short-doc fraction exceeds 35% is dropped WHOLE —
      // its individually-good docs go with it (boilerplate farms), and
      // good sources keep their odd short page
      Reputation.groupFilter(t(dir, "documents"), col("source"),
        TextAnalysis.tokenCount(col("text")) < 40, maxBadFraction = 0.35)
        .select("doc_id", "source")
    },

    Q("q_window_agg", Oracle(
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |       count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // tumbling 1h event-time window over canonical µs; integer division
      // keeps full precision — the batch shape of the streaming
      // `window(ts, "1 hour")` aggregation
      events(dir)
        .selectExpr("ts_us DIV 3600000000 AS hour_bucket", "event_type", "value")
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    },

    Q("q_window_topn", Oracle(
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket, user_id,
        |         ROUND(SUM(value), 2) AS sum_value, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY hour_bucket
        |        ORDER BY sum_value DESC, user_id) AS rn FROM hourly)
        |SELECT hour_bucket, user_id, sum_value, cnt FROM r WHERE rn <= 3""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // hottest 3 users per hour by summed value: the rank-filter plans as
      // WindowGroupLimit per-partition heaps BEFORE the hour exchange, so
      // the shuffle carries ≤3 rows per (partition, hour). Ranking uses the
      // ROUNDED aggregate (the emitted value) + user_id tie-break — the
      // rank decision never sees partitioning-order double noise
      val hourly = events(dir)
        .selectExpr("ts_us DIV 3600000000 AS hour_bucket", "user_id", "value")
        .groupBy("hour_bucket", "user_id")
        .agg(round(sum("value"), 2).as("sum_value"), count(lit(1)).as("cnt"))
      hourly
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("hour_bucket")
            .orderBy(col("sum_value").desc, col("user_id"))))
        .where(col("rn") <= 3).drop("rn")
    },

    Q("q_asof_join", Oracle(
      """SELECT l.user_id, l.event_id, l.event_type, l.value, r.last_purchase
        |FROM events l ASOF LEFT JOIN (
        |  SELECT user_id, event_id, value AS last_purchase FROM events
        |  WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.event_id >= r.event_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // point-in-time feature attach: each event carries the user's most
      // recent purchase value at-or-before it (union-trick as-of join —
      // one shuffle, no row explosion; see operators/AsOfJoin)
      val ev = t(dir, "events").select("event_id", "user_id", "event_type", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value").as("last_purchase"))
      AsOfJoin.backward(ev, purchases, on = "event_id", by = Seq("user_id"))
    },

    Q("q_profile", Oracle(
      """SELECT 'o_orderkey' AS "column", count(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_v, CAST(max(o_orderkey) AS VARCHAR) AS max_v
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT o_orderpriority),
        |  CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
        |FROM orders""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // data-quality profiling: one pass, long format (exact distinct for
      // the oracle; production uses approx_count_distinct)
      graft.ops.Profile.summarize(t(dir, "orders"),
        Seq("o_orderkey", "o_orderstatus", "o_orderpriority"), exact = true)
    },

    Q("q_asof_forward", Oracle(
      """SELECT l.user_id, l.event_id, l.event_type, l.value, r.next_purchase
        |FROM events l ASOF LEFT JOIN (
        |  SELECT user_id, event_id, value AS next_purchase FROM events
        |  WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.event_id <= r.event_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // forward direction: each event sees the user's NEXT purchase value
      val ev = t(dir, "events").select("event_id", "user_id", "event_type", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value").as("next_purchase"))
      AsOfJoin.forward(ev, purchases, on = "event_id", by = Seq("user_id"))
    },

    Q("q_pii_redact", Oracle(
      """WITH blob AS (
        |  SELECT c_custkey,
        |    CONCAT(c_name, ' user', c_custkey, '@ex', c_nationkey, '.com ip 10.0.',
        |      c_custkey % 256, '.', c_custkey * 7 % 256, ' tel ',
        |      c_custkey % 89 + 10, '-', c_custkey * 3 % 899 + 100, '-',
        |      c_custkey * 5 % 900 + 100, '-', c_custkey * 11 % 9000 + 1000) AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{2,3}[- .]\d{3}[- .]\d{3,4}[- .]\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean,
        |  CAST(
        |    len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(contact, '\d{2,3}[- .]\d{3}[- .]\d{3,4}[- .]\d{4}'))
        |  + len(regexp_extract_all(contact, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |  AS BIGINT) AS n_pii
        |FROM blob""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // corpus scrub stage: redact PII from a contact blob (synthesized
      // deterministically from keys — the slim testdata has no PII columns);
      // narrow codegen'd projection, scan-bound
      val contact = t(dir, "customer").select(col("c_custkey"), expr(
        """CONCAT(c_name, ' user', c_custkey, '@ex', c_nationkey, '.com ip 10.0.',
          |  c_custkey % 256, '.', c_custkey * 7 % 256, ' tel ',
          |  c_custkey % 89 + 10, '-', c_custkey * 3 % 899 + 100, '-',
          |  c_custkey * 5 % 900 + 100, '-', c_custkey * 11 % 9000 + 1000)""".stripMargin).as("contact"))
      contact.select(
        col("c_custkey"),
        graft.ops.Pii.redact(col("contact")).as("clean"),
        graft.ops.Pii.piiCount(col("contact")).as("n_pii"))
    },

    Q("q_sample_stratified", Oracle(
      """SELECT doc_id, lang, source FROM documents
        |WHERE CASE WHEN lang = 'en'
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  ELSE TRUE END""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // deterministic hash sampling: downsample 'en' to 25%, keep the rest —
      // reproducible across engines/partitionings (md5-prefix threshold)
      graft.ops.Sampling.stratified(t(dir, "documents"),
        key = col("doc_id"), stratum = col("lang"),
        rates = Map("en" -> 0.25), defaultRate = 1.0)
        .select("doc_id", "lang", "source")
    },

    Q("q_mix_rebalance", Oracle(
      """WITH w(s, wt) AS (SELECT s, CAST(wt AS DOUBLE) FROM (VALUES ('en', 0.4), ('zh', 0.15),
        |                  ('es', 0.15), ('de', 0.15), ('fr', 0.15)) t(s, wt)),
        |cnt AS (SELECT lang AS s, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
        |budget AS (SELECT min(c.n / w.wt) AS t FROM cnt c JOIN w USING (s)),
        |rates AS (
        |  SELECT c.s, round(least(1.0, w.wt * b.t / c.n) * 65536) AS thr
        |  FROM cnt c JOIN w USING (s) CROSS JOIN budget b)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r ON r.s = d.lang
        |WHERE CASE WHEN r.thr >= 65536 THEN TRUE WHEN r.thr <= 0 THEN FALSE
        |  ELSE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', CAST(r.thr AS INTEGER))
        |  END""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // pretraining data mixing: rebalance the language mix to target
      // proportions — the binding language (fr: smallest n/w) is kept whole,
      // every other language downsamples to its proportional share
      graft.ops.Sampling.rebalance(t(dir, "documents"),
        key = col("doc_id"), stratum = col("lang"),
        targetWeights = Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15,
          "de" -> 0.15, "fr" -> 0.15))
        .select("doc_id", "lang")
    },

    Q("q_mix_temperature", Oracle(
      // temperature mixing: q_d ∝ n_d^0.5 derived from observed counts; Z is
      // folded in stratum-sorted order (the engine's fixed accumulation
      // order), then the same budget/rate/threshold math as q_mix_rebalance
      """WITH cnt AS (SELECT lang AS s, CAST(count(*) AS DOUBLE) AS n
        |            FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |z AS (SELECT list_reduce(list_prepend(0.0, list(pow(n, 0.5) ORDER BY s)),
        |             (a, x) -> a + x) AS z FROM cnt),
        |w AS (SELECT s, n, pow(n, 0.5) / z.z AS wt FROM cnt, z),
        |budget AS (SELECT min(n / wt) AS t FROM w),
        |rates AS (
        |  SELECT w.s, round(least(1.0, w.wt * b.t / w.n) * 65536) AS thr
        |  FROM w CROSS JOIN budget b)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r ON r.s = d.lang
        |WHERE CASE WHEN r.thr >= 65536 THEN TRUE WHEN r.thr <= 0 THEN FALSE
        |  ELSE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < printf('%04x', CAST(r.thr AS INTEGER))
        |  END""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // temperature mixing (mC4/mT5): surviving language mix follows
      // n^alpha — alpha=0.5 halves the log-gap between high- and
      // low-resource languages; derived decision table, md5 thresholds
      graft.ops.Sampling.temperatureRebalance(t(dir, "documents"),
          key = col("doc_id"), stratum = col("lang"), alpha = 0.5)
        .select("doc_id", "lang")
    },

    Q("q_zorder_layout", Oracle(OracleHashSql.zorderLayout)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // z-order layout key: Morton-interleave (custkey, order-day) so a
      // range-partitioned write prunes on BOTH dimensions; pure codegen
      // integer projection (the clustering itself is zOrderBy2, spec'd)
      t(dir, "orders").select(col("o_orderkey"),
        graft.ops.Layout.zValue2(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01"))).as("zval"))
    },

    Q("q_corpus_assembly", Oracle(
      """WITH surv AS (
        |  SELECT doc_id, lang, text,
        |         row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |                            ORDER BY doc_id) AS rn
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM surv WHERE rn = 1),
        |gated2 AS (SELECT * FROM gated WHERE n_tok >= 30),
        |w(s, wt) AS (SELECT s, CAST(wt AS DOUBLE) FROM (VALUES ('en', 0.4), ('zh', 0.15),
        |             ('es', 0.15), ('de', 0.15), ('fr', 0.15)) t(s, wt)),
        |cnt AS (SELECT lang AS s, CAST(count(*) AS DOUBLE) AS n FROM gated2 GROUP BY 1),
        |budget AS (SELECT min(c.n / w.wt) AS t FROM cnt c JOIN w USING (s)),
        |rates AS (
        |  SELECT c.s, round(least(1.0, w.wt * b.t / c.n) * 65536) AS thr
        |  FROM cnt c JOIN w USING (s) CROSS JOIN budget b),
        |bal AS (
        |  SELECT g.* FROM gated2 g JOIN rates r ON r.s = g.lang
        |  WHERE CASE WHEN r.thr >= 65536 THEN TRUE WHEN r.thr <= 0 THEN FALSE
        |    ELSE substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 4) < printf('%04x', CAST(r.thr AS INTEGER))
        |    END),
        |spl AS (
        |  SELECT lang, n_tok,
        |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM bal)
        |SELECT lang, split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM spl GROUP BY 1, 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the full corpus-assembly chain in one query: exact-dedup survivors →
      // quality gate → language-mix rebalance → disjoint train/val/test
      // split → per-(lang, split) stats; every stage is the operator the
      // standalone queries verify, composed
      val survivors = Dedup.exactSurvivors(t(dir, "documents"), "doc_id",
        TextAnalysis.fingerprint(col("text")))
      val gated = survivors.where(TextAnalysis.tokenCount(col("text")) >= 30)
      val balanced = graft.ops.Sampling.rebalance(gated, col("doc_id"), col("lang"),
        Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.15))
      balanced
        .withColumn("split", graft.ops.Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
    },

    Q("q_vocab_topk", Oracle(
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS tok
        |      FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 50""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // corpus vocabulary heavy hitters: exact token counts (map-side
      // partial agg collapses the explode before the one shuffle), top-k
      // via per-partition heaps (TakeOrderedAndProject — no global sort)
      t(dir, "documents")
        .select(explode(split(lower(col("text")), "\\W+")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(50)
    },

    Q("q_doc_rarity", Oracle(
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+'))) AS tok
        |  FROM documents),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
        |SELECT t.doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(d.df) AS BIGINT) AS df_sum, MIN(d.df) AS df_min
        |FROM toks t JOIN dfreq d USING (tok) GROUP BY t.doc_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // corpus-statistics quality signal: per doc, the count / df-sum /
      // df-min of its DISTINCT tokens' document frequencies (boilerplate
      // scores high frequencies, rare vocabulary low). Integer aggregates
      // only — exact and summation-order-free, so it hash-compares
      TextAnalysis.rarityProfile(t(dir, "documents"), "doc_id", "text")
    },

    Q("q_sample_weighted", Oracle(
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    CAST(round(least(greatest(
        |      1.0 - (CASE WHEN length(trim(text)) = 0 THEN 0.0
        |             ELSE ROUND(1.0 -
        |               CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
        |               / len(string_split_regex(trim(text), '\s+')), 4) END),
        |      0.0), 1.0) * 65536) AS INTEGER) AS thr
        |  FROM documents)
        |SELECT doc_id, lang FROM s
        |WHERE CASE WHEN thr >= 65536 THEN TRUE WHEN thr <= 0 THEN FALSE
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr) END""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // quality-weighted pruning: keep probability = unique-token ratio
      // (1 - repetition), so boilerplate-heavy docs are down-weighted
      val d = t(dir, "documents")
      graft.ops.Sampling.weightedSample(d, col("doc_id"),
        lit(1.0) - TextAnalysis.repetitionRatio(col("text")))
        .select("doc_id", "lang")
    },

    Q("q_corpus_curation", Oracle(
      """WITH stats AS (
        |  SELECT source, count(*) AS total,
        |         count(*) FILTER (
        |           CASE WHEN length(trim(text)) = 0 THEN 0
        |                ELSE len(string_split_regex(trim(text), '\s+')) END < 40) AS bad
        |  FROM documents GROUP BY source),
        |src_ok AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  WHERE source IN (SELECT source FROM stats WHERE bad / total <= 0.35)),
        |g_base AS (
        |  SELECT doc_id, lang, source, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS words,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS hashes,
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
        |  FROM src_ok),
        |g_ok AS (
        |  SELECT doc_id, lang, source, text FROM g_base
        |  WHERE len(words) > 0
        |    AND list_sum(list_transform(words, w -> length(w))) / len(words) >= 4.2
        |    AND list_sum(list_transform(words, w -> length(w))) / len(words) <= 10.0
        |    AND (hashes + ellipses) / len(words) <= 0.1
        |    AND (len(lines) = 0 OR
        |         len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*')
        |                                  OR starts_with(l, '•'))) / len(lines) <= 0.9)
        |    AND (len(lines) = 0 OR
        |         len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…')))
        |         / len(lines) <= 0.3)
        |    AND len(list_filter(words, w -> regexp_matches(w, '[\p{L}]'))) / len(words) >= 0.8
        |    AND len(list_filter(['the','be','to','of','and','that','have','with'],
        |            sw -> list_contains(list_transform(words, w -> lower(w)), sw))) >= 1),
        |toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS tk
        |  FROM g_ok),
        |sbase AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM toks),
        |w AS (
        |  SELECT doc_id, i - 1 AS start, array_to_string(tk[i:i+9], ' ') AS win
        |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 9)) AS i
        |        FROM sbase WHERE n_tokens >= 10)),
        |d AS (SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1),
        |dup AS (SELECT w.doc_id, w.start FROM w JOIN d USING (win)),
        |cov AS (
        |  SELECT doc_id, count(*) AS dup_tokens FROM (
        |    SELECT DISTINCT doc_id, j FROM (
        |      SELECT doc_id, unnest(generate_series(start, start + 9)) AS j FROM dup))
        |  GROUP BY doc_id),
        |span_ok AS (
        |  SELECT g.doc_id, g.lang, g.source FROM g_ok g
        |  JOIN sbase b USING (doc_id) LEFT JOIN cov c USING (doc_id)
        |  WHERE (CASE WHEN b.n_tokens = 0 THEN 0.0
        |              ELSE coalesce(c.dup_tokens, 0) / b.n_tokens END) <= 0.3)
        |SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM span_ok) t WHERE rn <= 10""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the round-10 gates composed as ONE curation chain: source
      // reputation (domain-level) → Gopher word rules (doc-level) →
      // cross-doc span-dup gate (corpus-level, over the survivors) →
      // exactly-10-per-language holdout. Three narrow gates and two
      // bounded exchanges (span stats + the top-k stratum exchange).
      // The gated survivor set feeds FIVE plan subtrees (span base, span
      // stats, the stats join-back, the id join, the holdout), so it is
      // materialized once — the single-JVM analog of writing each
      // curation stage to a table, which is what a 100 TB deployment does
      // between stages (recomputing the regex-heavy gate per subtree was
      // a measured 5× on this query's wall time)
      // spread the compact fixture scan so the regex-heavy gates (and the
      // localCheckpoint that materializes them ONCE for the five
      // downstream subtrees) run at the session's parallelism — without
      // it the checkpoint inherits the scan's single partition and every
      // downstream stage stays single-task (guarded no-op at scale)
      val docs = graft.ops.Spread.across(t(dir, "documents"))
      val srcOk = Reputation.groupFilter(docs, col("source"),
        TextAnalysis.tokenCount(col("text")) < 40, maxBadFraction = 0.35)
      val gOk = srcOk.where(TextAnalysis.gopherKeep(col("text"),
        minMeanWordLen = 4.2, minStopwords = 1)).localCheckpoint()
      val spanOk = gOk.join(
        Dedup.spanProfile(gOk, "doc_id", "text", k = 10)
          .where(col("dup_frac") <= 0.3).select("doc_id"), "doc_id")
      graft.ops.Sampling.fixedPerStratum(spanOk, col("doc_id"), col("lang"), k = 10)
        .select("doc_id", "lang", "source")
    },

    Q("q_sample_fixed_k", Oracle(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 25""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // exactly-k-per-language holdout: rank-based (exact size per stratum
      // however skewed), WindowGroupLimit per-partition heaps before the
      // stratum exchange
      graft.ops.Sampling.fixedPerStratum(t(dir, "documents"),
        col("doc_id"), col("lang"), k = 25).select("doc_id", "lang")
    },

    Q("q_token_budget", Oracle(
      // the naive single-window form of the budget prefix — the engine's
      // histogram-fold + bin-local-window plan must equal it bit-for-bit
      """WITH scored AS (
        |  SELECT doc_id,
        |         CAST(n_chars AS DOUBLE) / tok AS score,
        |         CAST(tok AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, n_chars,
        |          CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        |        FROM documents)
        |  WHERE tok >= 1),
        |ord AS (
        |  SELECT doc_id, score, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM scored)
        |SELECT doc_id, score, n_tokens FROM ord WHERE cum <= 20000""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // token-budget curation: the best-scored docs whose cumulative token
      // count fits the budget — exact (score desc, id) prefix semantics,
      // computed WITHOUT a global sort (bounded histogram fold + one
      // bin-local window; see Sampling.tokenBudgetSelect). Score here is
      // chars-per-token (one IEEE division off two table-derived integers,
      // bit-identical in DuckDB); zero-token docs are excluded upstream so
      // neither engine divides by zero
      val tok = TextAnalysis.tokenCount(col("text"))
      graft.ops.Sampling.tokenBudgetSelect(
        t(dir, "documents")
          .select(col("doc_id"), col("n_chars"), tok.as("tok"))
          .where(col("tok") >= 1),
        "doc_id", col("n_chars").cast("double") / col("tok"), col("tok"),
        budget = 20000L)
    },

    Q("q_token_budget_incremental", Oracle(
      // binning affects only the plan, never the result — the incremental
      // asset's selection replays as the same naive global window
      """WITH scored AS (
        |  SELECT doc_id,
        |         CAST(n_chars AS DOUBLE) / tok AS score,
        |         CAST(tok AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, n_chars,
        |          CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        |        FROM documents)
        |  WHERE tok >= 1),
        |ord AS (
        |  SELECT doc_id, score, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM scored)
        |SELECT doc_id, score, n_tokens FROM ord WHERE cum <= 20000""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the incremental tier: two corpus halves folded ONCE per (session, dir)
      // into a persisted budget-histogram asset (per-bin integer sums — a
      // commutative monoid, folded == one-shot exactly; see
      // budgetHistFor), selection off the asset over the union. Each
      // append scans only ITSELF; the accumulated corpus is never
      // re-scanned for the histogram. Binning affects only the plan,
      // never the result, so the oracle is the SAME naive global window
      // as q_token_budget
      val docs = graft.ops.Spread.across(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.tokenCount(col("text")).as("tok"))
        .where(col("tok") >= 1)
      val score = col("n_chars").cast("double") / col("tok")
      graft.ops.Sampling.tokenBudgetSelectFromStats(docs, "doc_id",
        score, col("tok"), budgetHistFor(dir), budget = 20000L)
    },

    Q("q_corpus_holdout", Oracle(
      (s"""WITH surv AS (
         |  SELECT doc_id, lang, text FROM (
         |    SELECT doc_id, lang, text, row_number() OVER (
         |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |reps AS (${repetitionStatsOracleSqlFrom("surv")}),
         |kept AS (
         |  SELECT s.doc_id, s.lang FROM surv s JOIN reps r USING (doc_id)
         |  WHERE r.dup_line_frac <= 0.3 AND r.dup_line_char_frac <= 0.2
         |    AND r.dup_para_frac <= 0.3 AND r.dup_para_char_frac <= 0.2
         |    AND r.top_bigram_frac <= 0.05 AND r.dup_5gram_frac <= 0.15)
         |SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM kept) t WHERE rn <= 10""".stripMargin),
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the composed holdout-assembly chain: exact-dedup survivors →
      // repetition gate → exactly-k-per-language sample. Three stages,
      // two narrow (fingerprint window reuses one shuffle; the repetition
      // gate is a scan-bound filter), one bounded top-k exchange
      val docs = t(dir, "documents")
      val survivors = graft.ops.Dedup.exactSurvivors(docs, "doc_id",
        TextAnalysis.fingerprint(col("text")))
      val clean = graft.ops.Repetition.filter(survivors, "text", maxTopBigram = 0.05)
      graft.ops.Sampling.fixedPerStratum(clean, col("doc_id"), col("lang"), k = 10)
        .select("doc_id", "lang")
    },

    Q("q_chunk_text", Oracle(
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r]+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |nc AS (
        |  SELECT doc_id, tk,
        |         CASE WHEN len(tk) <= 8 THEN 1
        |              ELSE (len(tk) - 8 + 31) // 32 END AS nchunks
        |  FROM base),
        |ex AS (
        |  SELECT doc_id, tk, unnest(generate_series(0, nchunks - 1)) AS chunk_ix
        |  FROM nc)
        |SELECT doc_id, chunk_ix,
        |       array_to_string(tk[chunk_ix*32 + 1 : chunk_ix*32 + 40], ' ') AS chunk
        |FROM ex""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // RAG/embedding prep: overlapping 40-token windows, stride 32 —
      // stable (doc_id, chunk_ix) identity for incremental re-embedding
      TextAnalysis.chunkText(t(dir, "documents"), "doc_id", "text",
        size = 40, overlap = 8)
    },

    Q("q_tfidf_terms", Oracle(
      // raw (log-free) idf: tf·N exact integer, one correctly-rounded division
      // — bit-identical ranking in every IEEE engine (ln is not)
      """WITH tfc AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS tok
        |    FROM documents) GROUP BY doc_id, tok),
        |dfq AS (
        |  SELECT tok, count(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+', 0))) AS tok
        |    FROM documents) GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |ranked AS (
        |  SELECT t.doc_id, t.tok AS term,
        |         row_number() OVER (PARTITION BY t.doc_id ORDER BY
        |           CAST(t.tf * n.n AS DOUBLE) / CAST(d.df AS DOUBLE) DESC, t.tok) AS rnk
        |  FROM tfc t JOIN dfq d USING (tok), n)
        |SELECT doc_id, term, rnk FROM ranked WHERE rnk <= 3""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // per-doc top-3 characteristic terms: tf·(N/df) raw-idf keyword
      // extraction — WindowGroupLimit per-partition heaps, no global sort
      TextAnalysis.tfidfTopTerms(t(dir, "documents"), "doc_id", "text", k = 3)
    },

    Q("q_dsir_select", Oracle(OracleHashSql.dsirSelect)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // DSIR importance resampling (Xie et al. 2023): select the 100 raw
      // docs whose hashed unigram+bigram profile most over-indexes on the
      // English-document target distribution — slim (id, bucket, cnt)
      // shuffles, broadcast bucket-stats join, TakeOrderedAndProject
      val docs = t(dir, "documents")
      graft.ops.Dsir.select(docs, docs.where(col("lang") === "en"),
          "doc_id", "text", k = 100)
        .select("doc_id")
    },

    Q("q_lm_head", Oracle(OracleHashSql.lmHead)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // CCNet-style fluency selection (Wenzek et al. 2019): the 100 docs
      // with the lowest avg bigram negative log-prob under a hashed bigram
      // LM fitted on the English slice — two broadcast-bounded count
      // tables, slim (id, b1, b12, cnt) shuffle, TakeOrderedAndProject
      val docs = t(dir, "documents")
      graft.ops.LmScore.headSelect(docs, docs.where(col("lang") === "en"),
          "doc_id", "text", k = 100)
        .select("doc_id", "n_bigrams")
    },

    Q("q_quality_model", Oracle(OracleHashSql.qualityModel)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // learned-quality-filter inference (fastText-shaped linear model over
      // hashed n-gram buckets, deterministic stub weights): one narrow
      // codegen projection — no shuffle, no join, model as plan reference
      graft.ops.QualityModel.logits(t(dir, "documents"), "doc_id", "text",
        graft.ops.QualityModel.stubModel())
    },

    Q("q_salt_join", Oracle(
      """SELECT o_orderpriority, count(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // salted skew join must be result-identical to the plain join
      // (operators/Salt: hot-key splitting for planned-ahead skew)
      import graft.operators.Salt
      val li = t(dir, "lineitem").select(
        col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val orders = t(dir, "orders").select(
        col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        .where(col("o_orderpriority") === "1-URGENT")
      Salt.skewJoin(li, orders, Seq("l_orderkey"), buckets = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    },

    Q("q_interval_join", Oracle(
      """SELECT l.event_id, count(r.event_id) AS n_errors
        |FROM (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase') l
        |LEFT JOIN (SELECT event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error') r
        |  ON r.ts_us > l.ts_us - 300000000 AND r.ts_us <= l.ts_us
        |GROUP BY l.event_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // key-less range join, binned: per purchase, platform-wide error count
      // in the preceding 5 minutes — hash join on bins, never a nested loop
      val ev = events(dir).selectExpr("event_id", "event_type", "ts_us")
      val purchases = ev.where(col("event_type") === "purchase").select("event_id", "ts_us")
      val errors = ev.where(col("event_type") === "error").select("event_id", "ts_us")
      RangeJoin.binned(purchases, errors, on = "ts_us",
        lower = -300000000L, upper = 0L)
        .groupBy("event_id")
        .agg(count(col("r_event_id")).as("n_errors"))
    },

    Q("q_sessionize", Oracle(
      """WITH tagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM tagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM numbered GROUP BY user_id, session_idx""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // session windows (1h inactivity gap) over the event stream — batch
      // backfill shape of streaming session_window aggregation, on the
      // canonical µs column (DuckDB side is epoch_us)
      Sessionize.sessions(events(dir).selectExpr("user_id", "ts_us AS ts"),
        key = "user_id", on = "ts", gap = 3600000000L)
    },

    // ---------- streaming-NATIVE twins under the correctness gate ----------
    // Each drives the actual streaming engine (readStream file source,
    // watermarks, state store, Append-mode sealing) via StreamingNative's
    // sentinel-flush runs — not the batch shape of the operator. Event-time
    // µs values ride in the TIMESTAMP ms slot (TIMESTAMP_MILLIS(ts_us)),
    // so the engine's ms-granular event-time math (getTime,
    // watermark, gap) is EXACT integer µs math and cannot diverge from the
    // µs oracle by sub-ms truncation.

    Q("q_stream_session_window", Oracle(
      """WITH tagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM tagged)
        |SELECT user_id, count(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM numbered GROUP BY user_id, session_idx""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      val base = tempDir("graft-ssw")
      val in = s"$base/in"
      events(dir).select(col("user_id"), expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      def sentinel(id: Long): () => Unit = () => {
        Seq((id, new java.sql.Timestamp(8000000000000000L))).toDF("user_id", "ts_t")
          .write.mode("append").parquet(in); ()
      }
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq(sentinel(-1L), sentinel(-2L))) { stream =>
        stream.withWatermark("ts_t", "1 second")
          // gap+1ms: session_window merges on STRICT start < end while the
          // batch twin/oracle merge INCLUSIVELY (diff <= gap); +1 unit makes
          // the streaming boundary inclusive at exactly-gap diffs too
          .groupBy(session_window(col("ts_t"), "3600000001 milliseconds"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), min("ts_t").as("smin"), max("ts_t").as("smax"))
          .select(col("user_id"), unix_millis(col("smin")).as("session_start"),
            unix_millis(col("smax")).as("session_end"), col("n_events"))
      }.where(col("user_id") >= 0)
    },

    Q("q_stream_dedup", Oracle(
      "SELECT DISTINCT user_id FROM events",
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      val base = tempDir("graft-sdd")
      val in = s"$base/in"
      events(dir).select(col("user_id"), expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      def sentinel(id: Long): () => Unit = () => {
        Seq((id, new java.sql.Timestamp(8000000000000000L))).toDF("user_id", "ts_t")
          .write.mode("append").parquet(in); ()
      }
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq(sentinel(-1L), sentinel(-2L))) { stream =>
        // at-least-once ingest dedup: first arrival per key survives; keyed
        // state expires on the watermark horizon. Key-only projection keeps
        // the output independent of WHICH replay arrived first.
        stream.withWatermark("ts_t", "1 second")
          .dropDuplicatesWithinWatermark("user_id")
          .select("user_id")
      }.where(col("user_id") >= 0)
    },

    Q("q_stream_sessions_state", Oracle(
      """WITH tagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM tagged)
        |SELECT user_id, count(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM numbered GROUP BY user_id, session_idx""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      val base = tempDir("graft-sfs")
      val in = s"$base/in"
      events(dir).select(col("user_id"), expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      def sentinel(id: Long): () => Unit = () => {
        Seq((id, new java.sql.Timestamp(8000000000000000L))).toDF("user_id", "ts_t")
          .write.mode("append").parquet(in); ()
      }
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq(sentinel(-1L), sentinel(-2L))) { stream =>
        Sessionize.streamingSessions(stream.withWatermark("ts_t", "1 second"),
            "user_id", "ts_t", gapMs = 3600000000L)
          .toDF()
          .withColumnRenamed("key", "user_id")
      }.where(col("user_id") >= 0)
    },

    Q("q_stream_interval_join", Oracle(
      """SELECT l.event_id AS p_event_id, r.event_id AS e_event_id,
        |       l.ts_us AS p_ts_us, r.ts_us AS e_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase') l
        |JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id
        | AND r.ts_us > l.ts_us - 86400000000 AND r.ts_us <= l.ts_us""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      // STREAM-STREAM equi-join with an event-time range condition — the
      // streaming-native twin of q_interval_join's batch range join: each
      // purchase pairs with the SAME user's errors in the preceding 24
      // hours. Both sides branch from one watermarked readStream (a
      // self-join of the stream); the time bound in the join condition is
      // what lets the engine evict state (left rows die when the watermark
      // passes p_ts, right rows at e_ts + 24 h) — an unbounded-state join
      // would be the 100 TB failure mode. Inner joins emit on match, so no
      // sentinel flush runs are needed; µs ride the ms slot as in the other
      // twins, making the 86400000000 µs window exact integer math.
      val base = tempDir("graft-ssj")
      val in = s"$base/in"
      events(dir).select(col("event_id"), col("user_id"), col("event_type"),
          expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq.empty) { stream =>
        val wm = stream.withWatermark("ts_t", "1 second")
        val l = wm.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
            col("ts_t").as("p_ts"))
        val r = wm.where(col("event_type") === "error")
          .select(col("event_id").as("e_event_id"), col("user_id").as("e_user_id"),
            col("ts_t").as("e_ts"))
        l.join(r, expr(
            """p_user_id = e_user_id AND
              |e_ts > p_ts - INTERVAL 86400000 SECONDS AND e_ts <= p_ts""".stripMargin))
          .select(col("p_event_id"), col("e_event_id"),
            unix_millis(col("p_ts")).as("p_ts_us"), unix_millis(col("e_ts")).as("e_ts_us"))
      }
    },

    Q("q_stream_full_outer", Oracle(
      """SELECT l.event_id AS p_event_id, r.event_id AS e_event_id,
        |       l.ts_us AS p_ts_us, r.ts_us AS e_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase') l
        |FULL JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id
        | AND r.ts_us > l.ts_us - 86400000000 AND r.ts_us <= l.ts_us""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      // FULL OUTER watermarked stream-stream join — both directions'
      // unmatched rows emit null-extended at state eviction: purchases
      // with no error in their preceding 24 h AND errors that never
      // preceded any purchase. Same join-reaching sentinel discipline as
      // the left-outer twin (eviction only fires in batches whose rows
      // reach the join operator); the time bound still evicts both
      // sides' state.
      val base = tempDir("graft-ssfo")
      val in = s"$base/in"
      events(dir).select(col("event_id"), col("user_id"), col("event_type"),
          expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      def sentinel(tag: Long): () => Unit = () => {
        Seq((-(100L + tag), -1L, "purchase",
              new java.sql.Timestamp(8000000000000000L + tag * 2000)),
            (-(200L + tag), -2L, "error",
              new java.sql.Timestamp(8000000000000000L + tag * 2000)))
          .toDF("event_id", "user_id", "event_type", "ts_t")
          .write.mode("append").parquet(in); ()
      }
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq(sentinel(1), sentinel(2))) { stream =>
        val wm = stream.withWatermark("ts_t", "1 second")
        val l = wm.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
            col("ts_t").as("p_ts"))
        val r = wm.where(col("event_type") === "error")
          .select(col("event_id").as("e_event_id"), col("user_id").as("e_user_id"),
            col("ts_t").as("e_ts"))
        l.join(r, expr(
            """p_user_id = e_user_id AND
              |e_ts > p_ts - INTERVAL 86400000 SECONDS AND e_ts <= p_ts""".stripMargin),
            "full_outer")
          .select(col("p_event_id"), col("e_event_id"),
            unix_millis(col("p_ts")).as("p_ts_us"), unix_millis(col("e_ts")).as("e_ts_us"))
      }.where(coalesce(col("p_event_id"), lit(0L)) >= 0 &&
        coalesce(col("e_event_id"), lit(0L)) >= 0)
    },

    Q("q_stream_outer_join", Oracle(
      """SELECT l.event_id AS p_event_id, r.event_id AS e_event_id,
        |       l.ts_us AS p_ts_us, r.ts_us AS e_ts_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'purchase') l
        |LEFT JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |      FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id
        | AND r.ts_us > l.ts_us - 86400000000 AND r.ts_us <= l.ts_us""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      // stream-stream LEFT OUTER interval join — the delayed-null half of
      // q_stream_interval_join's matrix: a purchase with NO same-user error
      // in its preceding 24 h must STILL emit (null-extended), which the
      // engine can only do once the watermark proves no matching error can
      // arrive. That is why outer joins need the sentinel flush runs the
      // inner twin doesn't: sentinel 1 advances the watermark past every
      // real event, sentinel 2's batch evicts left state and emits the
      // unmatched rows. Same state-eviction bounds as the inner join.
      // Sentinel rows are typed 'zz_sentinel_*', so neither side filter
      // admits them — they advance time, never data.
      val base = tempDir("graft-ssoj")
      val in = s"$base/in"
      events(dir).select(col("event_id"), col("user_id"), col("event_type"),
          expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      // Outer-join sentinels must REACH THE JOIN: null emission rides
      // state EVICTION, and the join only evicts in a batch where rows
      // arrive at the operator itself — a sentinel filtered out by the
      // event_type split advances the watermark but flushes nothing
      // (verified: with type-'zz' sentinels exactly the latest unmatched
      // purchase never emits, however many runs follow). So sentinels are
      // typed 'purchase'/'error' with NEGATIVE ids and two different
      // impossible user_ids (they can't match each other or any real
      // row), and the output drops p_event_id < 0. Two runs: run 1
      // evicts lefts older than max−24h, run 2 (watermark far future)
      // evicts the tail.
      def sentinel(tag: Long): () => Unit = () => {
        Seq((-(100L + tag), -1L, "purchase",
              new java.sql.Timestamp(8000000000000000L + tag * 2000)),
            (-(200L + tag), -2L, "error",
              new java.sql.Timestamp(8000000000000000L + tag * 2000)))
          .toDF("event_id", "user_id", "event_type", "ts_t")
          .write.mode("append").parquet(in); ()
      }
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq(sentinel(1), sentinel(2))) { stream =>
        val wm = stream.withWatermark("ts_t", "1 second")
        val l = wm.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"), col("user_id").as("p_user_id"),
            col("ts_t").as("p_ts"))
        val r = wm.where(col("event_type") === "error")
          .select(col("event_id").as("e_event_id"), col("user_id").as("e_user_id"),
            col("ts_t").as("e_ts"))
        l.join(r, expr(
            """p_user_id = e_user_id AND
              |e_ts > p_ts - INTERVAL 86400000 SECONDS AND e_ts <= p_ts""".stripMargin),
            "left_outer")
          .select(col("p_event_id"), col("e_event_id"),
            unix_millis(col("p_ts")).as("p_ts_us"), unix_millis(col("e_ts")).as("e_ts_us"))
      }.where(col("p_event_id") >= 0)
    },

    Q("q_json_extract", Oracle(
      """SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_decade,
        |       count(*) AS cnt, CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
        |       MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
        |FROM events
        |WHERE json_extract(props, '$.k') IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // semi-structured payload extraction with an EXPLICIT schema:
      // from_json against a declared struct — never schema inference,
      // which costs a full extra scan at 100 TB and drifts with the
      // sample. Integer aggregates only (exact, order-free).
      t(dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .where(col("k").isNotNull)
        .groupBy(col("event_type"), expr("k DIV 10").as("k_decade"))
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
    },

    Q("q7_nation_volume", Oracle(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       EXTRACT(year FROM l_shipdate) AS l_year,
        |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q7 shape — two dimension paths into one fact join: supplier
      // nation and customer nation both resolve via BROADCAST dim joins,
      // the lineitem-orders join is the only fact-scale shuffle, and the
      // (supp_nation, cust_nation, year) rollup groups after map-side
      // partials. The nation pair filter keeps both directions.
      val n1 = broadcast(t(dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(dir, "nation")
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
      t(dir, "lineitem")
        .join(t(dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(n1, col("s_nationkey") === col("s_nkey"))
        .join(n2, col("c_nationkey") === col("c_nkey"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
    },

    Q("q8_market_share", Oracle(
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_5'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |  AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'AMERICA'
        |GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q8 shape — market share: one fact-scale join chain
      // (lineitem→orders→customer), every dimension path a BROADCAST
      // (supplier-nation for the numerator tag, customer-nation→region
      // for the scope filter); both volume sums are DECIMAL per year and
      // the share is one double division of two exact decimals — no
      // partial-sum order can move it
      val supNation = broadcast(t(dir, "supplier")
        .join(t(dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val amerCust = broadcast(t(dir, "customer")
        .join(t(dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "AMERICA")
        .select(col("c_custkey")))
      t(dir, "lineitem")
        .join(t(dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(amerCust, col("o_custkey") === col("c_custkey"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(
          (sum(when(col("supp_nation") === "NATION_5",
              (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double")
            / sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(18,4)")).cast("double")).as("mkt_share"))
    },

    Q("q9_profit", Oracle(
      """SELECT sn.n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    - p_retailprice * l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY 1, 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q9 shape — product-type profit by (nation, year): the
      // lineitem→orders join is the only fact-scale shuffle; part (name
      // filter pushed to ITS scan) and supplier→nation broadcast. Profit
      // adapts Q9's ps_supplycost (no partsupp table in this corpus) to
      // retailprice·quantity — same multi-path join + decimal rollup.
      val greenParts = broadcast(t(dir, "part")
        .where(col("p_type") === "ECONOMY")
        .select(col("p_partkey"), col("p_retailprice")))
      val supNation = broadcast(t(dir, "supplier")
        .join(t(dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation")))
      t(dir, "lineitem")
        .join(greenParts, col("l_partkey") === col("p_partkey"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .join(t(dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity")).cast("decimal(18,4)")), 2)
          .cast("double").as("profit"))
    },

    Q("q11_important_parts", Oracle(
      """WITH per_part AS (
        |  SELECT l_partkey,
        |         SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS part_value
        |  FROM lineitem GROUP BY 1),
        |total AS (SELECT SUM(part_value) AS total_value FROM per_part)
        |SELECT l_partkey, CAST(ROUND(part_value, 2) AS DOUBLE) AS part_value
        |FROM per_part, total
        |WHERE part_value * 10000 > total_value""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q11 shape — HAVING against a GLOBAL scalar subquery: parts
      // whose inventory value exceeds a fixed fraction of the corpus
      // total. The per-part rollup is the one fact shuffle; the global
      // total is a 1-row broadcast joined into the HAVING predicate as a
      // cross-multiplied DECIMAL comparison (value · 10000 > total) — no
      // double division on the decision path (the Q17/Q22 stance).
      val value = (col("l_extendedprice") * col("l_quantity")).cast("decimal(18,4)")
      val perPart = t(dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(value).as("part_value"))
      val total = perPart.agg(sum(col("part_value")).as("total_value"))
      perPart.join(broadcast(total))
        .where(col("part_value") * 10000 > col("total_value"))
        .select(col("l_partkey"),
          round(col("part_value"), 2).cast("double").as("part_value"))
    },

    Q("q15_top_supplier", Oracle(
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |       CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q15 shape — argmax via a scalar subquery over a derived
      // view: quarterly revenue per supplier, keep the supplier(s) whose
      // revenue EQUALS the max. The revenue view computes once and AQE
      // reuses its exchange for the max branch; equality compares exact
      // DECIMALs, never doubles.
      val revenue = t(dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).as("total_revenue"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
      revenue.join(broadcast(maxRev))
        .where(col("total_revenue") === col("max_revenue"))
        .join(broadcast(t(dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_revenue"), 2).cast("double").as("total_revenue"))
    },

    Q("q16_supplier_cnt", Oracle(
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q16 shape — DISTINCT-count rollup behind an anti-join
      // exclusion: suppliers per (brand, type, size) bucket, excluding a
      // brand and a NOT-IN supplier set (Q16's complaints subquery adapts
      // to negative-balance suppliers — no comment column in this
      // corpus). The anti-join broadcasts the exclusion ids; lineitem
      // stands in for partsupp as the part↔supplier relation, distinct
      // BEFORE the rollup so each pair counts once.
      val excluded = t(dir, "supplier")
        .where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val parts = broadcast(t(dir, "part")
        .where(col("p_brand") =!= "Brand#1" && col("p_size").isin(1, 5, 9, 13, 17))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      t(dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },

    Q("q2_min_cost_supplier", Oracle(
      """WITH priced AS (
        |  SELECT p_partkey, l_suppkey,
        |         MIN(CAST(l_extendedprice AS DECIMAL(18,4))) AS supply_cost
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'SMALL'
        |  GROUP BY 1, 2),
        |min_cost AS (
        |  SELECT p_partkey AS m_partkey, MIN(supply_cost) AS min_cost
        |  FROM priced GROUP BY 1)
        |SELECT p.p_partkey, s_suppkey, s_name,
        |       CAST(ROUND(p.supply_cost, 2) AS DOUBLE) AS supply_cost
        |FROM priced p
        |JOIN min_cost m ON p.p_partkey = m.m_partkey AND p.supply_cost = m.min_cost
        |JOIN supplier ON p.l_suppkey = s_suppkey""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q2 shape — correlated MIN subquery decorrelated: for each
      // SMALL part, the supplier row(s) achieving that part's minimum
      // observed price. The per-part min is a rollup of the SAME
      // (part, supplier) price relation the probe side reads — computed
      // once, joined back on the part key; price equality compares exact
      // DECIMALs. Supplier attributes attach via a broadcast at the end,
      // to min-price winners only.
      val priced = t(dir, "lineitem")
        .join(broadcast(t(dir, "part").where(col("p_type") === "SMALL")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,4)")).as("supply_cost"))
      val minCost = priced.groupBy(col("p_partkey").as("m_partkey"))
        .agg(min(col("supply_cost")).as("min_cost"))
      priced
        .join(minCost, col("p_partkey") === col("m_partkey") &&
          col("supply_cost") === col("min_cost"))
        .join(broadcast(t(dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
          round(col("supply_cost"), 2).cast("double").as("supply_cost"))
    },

    Q("q12_priority_counts", Oracle(
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q12 shape — one fact join + per-category conditional counts
      // (shipmode adapts to returnflag — no l_shipmode in this corpus):
      // the CASE counting folds into the partial aggregation, so the
      // shuffle carries two BIGINTs per category, and the date filter
      // pushes to the lineitem scan
      t(dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(t(dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    },

    Q("q20_excess_suppliers", Oracle(
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |    WHERE p_type = 'SMALL'
        |      AND l_shipdate >= TIMESTAMP '1997-01-01'
        |      AND l_shipdate < TIMESTAMP '1998-01-01'
        |    GROUP BY l_suppkey, p_partkey
        |    HAVING SUM(l_quantity) > 50)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // TPC-H Q20 shape — a semi-join CHAIN: suppliers qualify through a
      // nested condition (shipped > 50 units of some SMALL part in 1997),
      // then filter by nation. The inner rollup reduces lineitem once;
      // the qualifying supplier set rides a LEFT SEMI into the supplier
      // table; nation attaches broadcast. No correlated re-execution.
      val qualifying = t(dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(t(dir, "part").where(col("p_type") === "SMALL")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("p_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .where(col("qty") > 50)
        .select(col("l_suppkey")).distinct()
      t(dir, "supplier")
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .where(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
    },

    Q("q_window_analytics", Oracle(
      """SELECT user_id, event_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |    AS running_value,
        |  percent_rank() OVER w AS pct_rank
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the analytic-window family over event time per user: lag delta
      // (integer µs), running DECIMAL sum, and percent_rank — one
      // user_id shuffle serves every window (same partitioning), and all
      // emitted values are integer/decimal-exact or integer-ratio
      // doubles (percent_rank = (rank−1)/(n−1)), so the hash compare is
      // bit-identical
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      events(dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .withColumn("running_value",
          round(sum(col("value").cast("decimal(18,4)")).over(w), 2).cast("double"))
        .withColumn("pct_rank", percent_rank().over(w))
        .select("user_id", "event_id", "gap_us", "running_value", "pct_rank")
    },

    Q("q_dedup_best_rep", Oracle(OracleHashSql.dedupBestRep)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // policy-pluggable dedup: clustering decides WHO is duplicated
      // (transitive closure), the representative rule decides WHAT
      // survives — here quality = longest text (n_chars, id tie-break)
      // instead of keep-first. One max_by per cluster over the
      // cluster-bounded relation.
      val clusters = Dedup.minhashClusters(
        t(dir, "documents"), "doc_id", "text", threshold = 0.8)
      clusters
        .join(t(dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          max_by(col("doc_id"),
            struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("rep_doc_id"))
    },

    Q("q_bm25_topk", Oracle(graft.ops.Bm25.oracleSql(
      "documents", "doc_id", "text", "spark window merge stream", k = 20),
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // BM25 lexical retrieval (the text-search side of RAG, complementing
      // the ANN family): one tokenization pass, slim per-doc conditional
      // counts, bounded corpus-stats collect, then a narrow score
      // projection into the top-k cut with an id tie-break.
      graft.ops.Bm25.topK(t(dir, "documents"), "doc_id", "text",
        query = "spark window merge stream", k = 20)
    },

    Q("q_partition_pruning", Oracle(
      """SELECT epoch_us(ts) // 86400000000 AS day_bucket,
        |       count(*) AS cnt, CAST(SUM(user_id) AS BIGINT) AS sum_users
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // Hive-partitioned layout: the event_type predicate prunes at FILE
      // LISTING time (PartitionFilters, plan-asserted) — the scan never
      // opens a non-matching partition's files. Exact integer/µs rollup.
      val path = partitionedEventsFor(dir)
      graft.ops.Warehouse.readPartitioned(spark, path)
        .where(col("event_type") === "purchase")
        .groupBy(expr("ts_us DIV 86400000000").as("day_bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("user_id")).as("sum_users"))
    },

    Q("q_bucketed_join", Oracle(
      """SELECT o_orderpriority, count(*) AS n_lines,
        |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // bucketed co-located join: both sides pre-hashed into 8 buckets on
      // the join key at WRITE time, so the join itself is exchange-free —
      // the only shuffle in the plan is the tiny final priority rollup
      // (plan-asserted: exactly one Exchange). The persisted answer to the
      // reference's in-flight hash-by-key PrePartition.
      val (ordersTbl, lineitemTbl) = bucketedTpchFor(dir)
      spark.table(ordersTbl)
        .join(spark.table(lineitemTbl), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
    },

    Q("q_gap_fill", Oracle(
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(hour) AS mn, max(hour) AS mx
        |           FROM hourly GROUP BY 1),
        |spine AS (SELECT event_type, unnest(generate_series(mn, mx)) AS hour
        |          FROM bounds)
        |SELECT s.event_type, s.hour,
        |       last_value(h.sum_value IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.hour
        |         ROWS UNBOUNDED PRECEDING) AS filled_value,
        |       h.sum_value IS NULL AS is_gap
        |FROM spine s LEFT JOIN hourly h USING (event_type, hour)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // time-series densification: the sparse hourly series re-grained to
      // a complete per-type hour spine (sequence + explode, bounded by
      // types × hours), missing buckets forward-filled with the last
      // observed value (window last ignoreNulls). Sums are DECIMAL so the
      // carried values are exact; is_gap marks synthesized rows.
      import org.apache.spark.sql.expressions.Window
      val hourly = events(dir)
        .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hour"))
        .agg(round(sum(col("value").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_value"))
      val spine = hourly.groupBy("event_type")
        .agg(min("hour").as("mn"), max("hour").as("mx"))
        .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("hour"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hour"), "left")
        .select(col("event_type"), col("hour"),
          last(col("sum_value"), ignoreNulls = true).over(w).as("filled_value"),
          col("sum_value").isNull.as("is_gap"))
    },

    Q("q_retention_cohorts", Oracle(
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users
        |FROM act JOIN cohort USING (user_id)
        |WHERE day - cohort_day <= 7
        |GROUP BY 1, 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // cohort retention: users cohorted by FIRST-activity day; for each
      // day offset, how many of the cohort were active again. Two bounded
      // aggregations — (user, day) distinct activity, a per-user min for
      // the cohort, then the (cohort, offset) rollup. All integers.
      val act = events(dir)
        .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
        .distinct()
      val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
      act.join(cohort, Seq("user_id"))
        .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .where(col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
    },

    Q("q_funnel_stages", Oracle(
      """WITH slim AS (
        |  SELECT user_id, epoch_us(ts) AS f_ts,
        |    CASE event_type WHEN 'signup' THEN 0 WHEN 'view' THEN 1
        |         WHEN 'purchase' THEN 2 END AS f_step
        |  FROM events WHERE event_type IN ('signup', 'view', 'purchase')),
        |t1 AS (SELECT user_id, min(f_ts) AS ts1 FROM slim WHERE f_step = 0 GROUP BY 1),
        |t2 AS (SELECT s.user_id, min(f_ts) AS ts2 FROM slim s JOIN t1 USING (user_id)
        |       WHERE f_step = 1 AND f_ts > ts1 AND f_ts <= ts1 + 3600000000 GROUP BY 1),
        |t3 AS (SELECT s.user_id, min(f_ts) AS ts3 FROM slim s JOIN t2 USING (user_id)
        |       WHERE f_step = 2 AND f_ts > ts2 AND f_ts <= ts2 + 3600000000 GROUP BY 1),
        |base AS (SELECT DISTINCT user_id FROM slim)
        |SELECT CASE WHEN ts3 IS NOT NULL THEN CAST(3 AS BIGINT)
        |            WHEN ts2 IS NOT NULL THEN 2
        |            WHEN ts1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |       count(*) AS n_keys
        |FROM base LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)
        |GROUP BY 1""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ordered-funnel conversion (signup → view → purchase, each step
      // within 1 h of the previous advance): per-user state-machine fold
      // over the time-ordered step events — one shuffle, only step-typed
      // events ride it. The oracle replays the GREEDY-CHAIN form (min-ts
      // joins per step) — an independent formulation, so the fold's
      // semantics are validated, not self-certified.
      graft.operators.Funnel.report(events(dir), "user_id", "ts_us", "event_id",
        "event_type", Seq("signup", "view", "purchase"), gapUs = 3600000000L)
    },

    Q("q_drift_langmix", Oracle(
      """WITH c AS (
        |  SELECT coalesce(lang, 'und') AS feature,
        |         count(*) FILTER (WHERE source < 'src2') AS cnt_a,
        |         count(*) FILTER (WHERE NOT (source < 'src2')) AS cnt_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM c)
        |SELECT feature, cnt_a, cnt_b,
        |       CAST(ABS(CAST(cnt_a AS HUGEINT) * tb - CAST(cnt_b AS HUGEINT) * ta) AS DOUBLE) AS drift_num
        |FROM c, t""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // distribution drift between two corpus slices (here: the low-id
      // source group vs the rest — a stand-in for two crawl snapshots):
      // per-language L1 numerator |a·B − b·A|, exact in DECIMAL — no
      // doubles on the decision path. Transport as DOUBLE (lossless below
      // 2^53; a deployment keeps the decimal column).
      val docs = t(dir, "documents")
      graft.ops.Drift.categoricalDrift(docs,
          feature = coalesce(col("lang"), lit("und")),
          inA = col("source") < "src2")
        .select(col("feature"), col("cnt_a"), col("cnt_b"),
          col("drift_num").cast("double").as("drift_num"))
    },

    Q("q_bm25_incremental", Oracle(graft.ops.Bm25.oracleSql(
      "documents", "doc_id", "text", "spark window merge stream", k = 20),
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // streaming-ingest growth of the postings index: base build on the
      // tail of the corpus, the head arrives as an APPEND (delta stats
      // rows — commuting increments, no read-modify-write). The oracle is
      // the unindexed SQL over the FULL corpus: incremental == full build
      // is the compare itself.
      graft.ops.Bm25.topKIndexed(spark, bm25IncrIndexFor(dir),
        query = "spark window merge stream", k = 20)
    },

    Q("q_mmr_rerank", RowsOnly("q_mmr_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // MMR diversity re-rank of the bounded ANN candidate set (rows-only:
      // sequential argmax is not SQL-expressible — the BPE-merge stance;
      // MmrSpec proves the selection against its published definition)
      val emb = t(dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val cands = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 40)
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      graft.ops.Retrieval.mmr(cands, "vec_id", "score", "embedding", k = 10)
    },

    Q("q_mmr_audit", Oracle(
      // MMR's entry point and bookkeeping: the first pick is the brute-force
      // relevance argmax, the second is argmax of λ·rel − (1−λ)·cos(d, first)
      // over the rest (the λ arithmetic in the hard gate; the coefficient is
      // written (1 - 0.7) to mirror the engine's IEEE evaluation exactly),
      // the size is min(k, |candidates|), membership TRUE
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id, e.embedding,
        |         list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS score
        |  FROM embeddings e, q
        |  ORDER BY score DESC, e.vec_id LIMIT 40),
        |first AS (SELECT vec_id, embedding FROM cand ORDER BY score DESC, vec_id LIMIT 1),
        |second AS (
        |  SELECT c.vec_id, c.embedding FROM cand c, first f
        |  WHERE c.vec_id <> f.vec_id
        |  ORDER BY 0.7 * c.score
        |           - (1 - 0.7) * list_cosine_similarity(c.embedding::DOUBLE[],
        |                                                f.embedding::DOUBLE[]) DESC,
        |           c.vec_id
        |  LIMIT 1)
        |SELECT (SELECT vec_id FROM first) AS first_id,
        |       (SELECT vec_id FROM second) AS second_id,
        |       (SELECT c.vec_id FROM cand c, first f, second s2
        |        WHERE c.vec_id <> f.vec_id AND c.vec_id <> s2.vec_id
        |        ORDER BY 0.7 * c.score
        |                 - (1 - 0.7) * greatest(
        |                     list_cosine_similarity(c.embedding::DOUBLE[],
        |                                            f.embedding::DOUBLE[]),
        |                     list_cosine_similarity(c.embedding::DOUBLE[],
        |                                            s2.embedding::DOUBLE[])) DESC,
        |                 c.vec_id
        |        LIMIT 1) AS third_id,
        |       CAST(least(10, (SELECT count(*) FROM cand)) AS BIGINT) AS n_selected,
        |       TRUE AS all_members""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated invariants of the MMR selection above (the audit
      // pattern): the FIRST pick is pure relevance-argmax (λ·rel − 0,
      // selected set empty — SQL-expressible as the brute-force top-1),
      // the SECOND pick is argmax of λ·rel − (1−λ)·cos(d, first) over the
      // remaining candidates (one step deeper than the chain's entry —
      // this pins the λ arithmetic and the cos-to-selected machinery
      // without replaying the sequential chain), the THIRD pick conditions
      // on TWO selected docs — its penalty is the MAX over a set, the last
      // untested arithmetic shape in the chain (every deeper rank reuses
      // it) — the selection size is min(k, |candidates|), and every
      // selected id is a candidate (membership pinned to literal TRUE).
      // Ranks 4+ stay rows-only
      val emb = t(dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val cands = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 40)
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      val sel = graft.ops.Retrieval.mmr(cands, "vec_id", "score", "embedding", k = 10)
      sel.join(cands.select(col("vec_id"), lit(1).as("__in")), Seq("vec_id"), "left")
        .agg(
          min(when(col("mmr_rank") === 1, col("vec_id"))).as("first_id"),
          min(when(col("mmr_rank") === 2, col("vec_id"))).as("second_id"),
          min(when(col("mmr_rank") === 3, col("vec_id"))).as("third_id"),
          count(lit(1)).as("n_selected"),
          coalesce(expr("bool_and(__in IS NOT NULL)"), lit(true)).as("all_members"))
    },

    Q("q_chat_render", Oracle(
      """WITH t AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type IN ('purchase', 'error') THEN 'assistant'
        |         ELSE 'user' END AS role,
        |    event_type || '#' || CAST(event_id AS VARCHAR) AS content
        |  FROM events),
        |p AS (
        |  SELECT user_id, event_id, role, content,
        |    '<|' || role || '|>' || content || '<|end|>' AS piece
        |  FROM t),
        |s AS (
        |  SELECT *,
        |    SUM(length(piece)) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) - length(piece) AS start
        |  FROM p)
        |SELECT user_id,
        |  string_agg(piece, '' ORDER BY event_id) AS text,
        |  string_agg(CASE WHEN role = 'assistant'
        |    THEN CAST(start + length(role) + 4 AS VARCHAR) || '-'
        |      || CAST(start + length(role) + 4 + length(content) AS VARCHAR)
        |    END, ',' ORDER BY event_id) AS spans_str
        |FROM s GROUP BY user_id""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // SFT data prep: turn rows render to one packed ChatML string per
      // conversation plus the completion-content char spans (the loss
      // mask), flattened to a string for the engine-agnostic compare.
      // Conversations derive from the events feed: user = the browsing
      // roles, assistant = the system-acting ones; content is
      // integer-formatted only (double→string is engine-divergent).
      val turns = t(dir, "events").select(col("user_id"), col("event_id"),
        when(col("event_type").isin("purchase", "error"), "assistant")
          .otherwise("user").as("role"),
        concat(col("event_type"), lit("#"), col("event_id").cast("string"))
          .as("content"))
      graft.ops.ChatFormat.render(turns, "user_id", "event_id", "role", "content")
        .select(col("user_id"), col("text"),
          when(size(col("spans")) > 0, array_join(transform(col("spans"),
            sp => concat(sp("start").cast("string"), lit("-"),
              sp("end").cast("string"))), ",")).as("spans_str"))
    },

    Q("q_bm25_indexed", Oracle(graft.ops.Bm25.oracleSql(
      "documents", "doc_id", "text", "spark window merge stream", k = 20),
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // steady-state lexical retrieval: probe the PERSISTED term-bucketed
      // postings index (reads only the query terms' bucket partitions).
      // Output is bit-identical to the brute scan by construction, so the
      // oracle is the unindexed SQL — same stance as q_heavy_hitters.
      graft.ops.Bm25.topKIndexed(spark, bm25IndexFor(dir),
        query = "spark window merge stream", k = 20)
    },

    Q("q_hybrid_retrieval", Oracle(OracleHashSql.hybridRetrieval(
      graft.ops.Bm25.oracleSql("documents", "doc_id", "text",
        "spark window merge stream", k = 20),
      graft.functions.AiFunctions.fakeEmbed("spark window merge stream"),
      kList = 20, k = 10),
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // RAG hybrid retrieval: BM25 lexical top-20 and stub-embedding cosine
      // top-20, fused by Reciprocal Rank Fusion — rank-only fusion, so the
      // two scorers' incomparable scales never meet and the fused doubles
      // are exact functions of small integer ranks.
      val docs = t(dir, "documents")
      val query = "spark window merge stream"
      val lex = graft.ops.Retrieval.ranked(
        graft.ops.Bm25.topK(docs, "doc_id", "text", query, 20),
        "doc_id", "score", "ra")
      val sem = graft.ops.Retrieval.ranked(
        graft.ops.Similarity.bruteForceTopK(
          docs.selectExpr("doc_id", "GET_EMBEDDING(text) AS emb"),
          "doc_id", "emb", graft.functions.AiFunctions.fakeEmbed(query), 20),
        "doc_id", "score", "rb")
      graft.ops.Retrieval.rrfFuse(lex, sem, "doc_id", k = 10)
    },

    Q("q_source_pagerank", Oracle(sourcePageRankOracleSql)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // web-curation reputation prior: PageRank over the source
      // mirror-network graph (sources linked by shared content-prefix
      // fingerprints, boilerplate df-capped). The corpus-scale stage is the
      // edge derivation; the 5 fixed iterations run on the bounded source
      // graph with pinned-order contribution folds, so the rank doubles
      // are bit-identical to the oracle's unrolled-CTE replay.
      val docs = t(dir, "documents")
      val nodes = docs.select(col("source").as("node")).distinct()
      val edges = graft.ops.Graph.coDupEdges(docs, "source", "text")
      graft.ops.Graph.pageRank(nodes, edges, iters = 5)
        .select(col("node").as("source"), col("rank"))
    },

    Q("q_stream_window_agg", Oracle(
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS wstart_us,
        |       event_type, count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      import graft.streaming.StreamingNative
      // streaming-NATIVE tumbling 1h window aggregation — the watermark
      // twin of q_window_agg: Append mode only emits a window once the
      // watermark seals it, which the sentinel runs force for the whole
      // backlog. µs ride the ms slot, so the hour bucket (3600000 s in
      // slot units = 3600000000 µs) is exact integer math.
      val base = tempDir("graft-swa")
      val in = s"$base/in"
      events(dir).select(col("event_type"), col("value"),
          expr("TIMESTAMP_MILLIS(ts_us)").as("ts_t"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ts_t", org.apache.spark.sql.types.TimestampType)))
      def sentinel(tag: String): () => Unit = () => {
        Seq((tag, 0.0, new java.sql.Timestamp(8000000000000000L)))
          .toDF("event_type", "value", "ts_t")
          .write.mode("append").parquet(in); ()
      }
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq(sentinel("zz_sentinel_1"), sentinel("zz_sentinel_2"))) { stream =>
        stream.withWatermark("ts_t", "1 second")
          .groupBy(window(col("ts_t"), "3600000 seconds"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
          .select(unix_millis(col("window.start")).as("wstart_us"),
            col("event_type"), col("cnt"), col("sum_value"))
      }.where(!col("event_type").startsWith("zz_sentinel"))
    },

    Q("q_stream_enrich", Oracle(
      """SELECT e.event_id, e.user_id, p.user_total
        |FROM events e
        |JOIN (SELECT user_id, count(*) AS user_total
        |      FROM events GROUP BY 1) p USING (user_id)""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import graft.streaming.StreamingNative
      // STREAM-STATIC join: each micro-batch enriches against a static
      // dimension (the per-user profile) — stateless, no watermark. The
      // third member of the streaming join matrix (stream-stream
      // interval, windowed agg, and this). The profile side is keyed by
      // user_id, whose cardinality grows with the corpus — a forced
      // broadcast() would be a multi-GB driver OOM at 1e9 users, so the
      // join strategy is left cardinality-driven: the planner broadcasts
      // while the dim fits `autoBroadcastJoinThreshold` and falls back to
      // a key-shuffle beyond it (in production this side is a persisted
      // key-bucketed dim table, making the shuffle one-sided).
      val base = tempDir("graft-sse")
      val in = s"$base/in"
      events(dir).select(col("event_id"), col("user_id")).write.parquet(in)
      val profile = events(dir).groupBy("user_id")
        .agg(count(lit(1)).as("user_total"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq.empty) { stream =>
        stream.join(profile, Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("user_total"))
      }
    },

    Q("q_fuzzy_join", Oracle(
      """WITH s AS (
        |  SELECT doc_id, substr(text, 1, 32) AS k FROM documents
        |  WHERE len(substr(text, 1, 32)) >= 3),
        |gp AS (
        |  SELECT doc_id, substr(k, i, 3) AS gram, i AS pos
        |  FROM s, unnest(generate_series(1, len(k) - 2)) AS t(i)),
        |g AS (SELECT DISTINCT doc_id, gram FROM gp),
        |gdf AS (
        |  SELECT gram, count(*) AS c FROM g GROUP BY 1
        |  HAVING count(*) <= greatest(100, (SELECT count(*) FROM s) // 25)),
        |pfx AS (
        |  SELECT gram, doc_id FROM (
        |    SELECT g.gram, g.doc_id,
        |           row_number() OVER (PARTITION BY g.doc_id
        |             ORDER BY d.c, g.gram) AS rk
        |    FROM g JOIN gdf d USING (gram)) WHERE rk <= 7),
        |pfxp AS (
        |  SELECT p.gram, p.doc_id, gp.pos FROM pfx p JOIN gp USING (gram, doc_id)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pfxp a JOIN pfxp b
        |    ON a.gram = b.gram AND a.doc_id < b.doc_id
        |   AND abs(a.pos - b.pos) <= 2)
        |SELECT id_a, id_b, CAST(levenshtein(sa.k, sb.k) AS INTEGER) AS dist
        |FROM cand JOIN s sa ON id_a = sa.doc_id JOIN s sb ON id_b = sb.doc_id
        |WHERE levenshtein(sa.k, sb.k) <= 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // entity-resolution fuzzy self-join on the documents' 32-char text
      // prefix: PPJoin-style prefix-filter blocking (each record blocks
      // on its n·d+1 RAREST grams under one global order — candidate
      // volume is Σ(prefix-df)², tiny, where all-gram blocking is Σdf²,
      // quadratic in every template cluster) + exact Levenshtein ≤ 2
      // verify on distinct survivors only. The boilerplate df-cap SCALES
      // with the corpus (max(100, n/5)): an absolute cap that blocks 20%
      // of records at one SF blocks 2% at 10× and silently empties the
      // candidate set on this template-generated corpus; n/25 is the
      // tightest fraction with FULL measured recall at both gate SFs
      // (256/256 at sf0.1, where n/50 loses 70% of true pairs)
      val keys = t(dir, "documents").select(col("doc_id"),
        expr("substring(text, 1, 32)").as("k"))
      val n = keys.where(length(col("k")) >= 3).count()
      graft.ops.FuzzyJoin.editDistanceJoin(keys, "doc_id", "k",
        dfCap = math.max(100L, n / 25).toInt)
    },

    Q("q_fuzzy_join_probe", Oracle(
      """WITH s AS (
        |  SELECT doc_id, substr(text, 1, 32) AS k FROM documents
        |  WHERE len(substr(text, 1, 32)) >= 3),
        |si AS (SELECT * FROM s WHERE doc_id % 4 <> 0),
        |sn AS (SELECT * FROM s WHERE doc_id % 4 = 0),
        |gip AS (
        |  SELECT doc_id, substr(k, i, 3) AS gram, i AS pos
        |  FROM si, unnest(generate_series(1, len(k) - 2)) AS t(i)),
        |gnp AS (
        |  SELECT doc_id, substr(k, i, 3) AS gram, i AS pos
        |  FROM sn, unnest(generate_series(1, len(k) - 2)) AS t(i)),
        |gi AS (SELECT DISTINCT doc_id, gram FROM gip),
        |gn AS (SELECT DISTINCT doc_id, gram FROM gnp),
        |gdf AS (SELECT gram, count(*) AS c FROM gi GROUP BY 1),
        |cap AS (SELECT greatest(100, (SELECT count(*) FROM si) // 25) AS cap),
        |pfx_i AS (
        |  SELECT gram, doc_id FROM (
        |    SELECT g.gram, g.doc_id,
        |           row_number() OVER (PARTITION BY g.doc_id
        |             ORDER BY d.c, g.gram) AS rk
        |    FROM gi g JOIN gdf d USING (gram)
        |    WHERE d.c <= (SELECT cap FROM cap)) WHERE rk <= 7),
        |pfx_n AS (
        |  SELECT gram, doc_id FROM (
        |    SELECT g.gram, g.doc_id,
        |           row_number() OVER (PARTITION BY g.doc_id
        |             ORDER BY coalesce(d.c, 0), g.gram) AS rk
        |    FROM gn g LEFT JOIN gdf d USING (gram)
        |    WHERE coalesce(d.c, 0) <= (SELECT cap FROM cap)) WHERE rk <= 7),
        |pfxp_i AS (
        |  SELECT p.gram, p.doc_id, gip.pos FROM pfx_i p JOIN gip USING (gram, doc_id)),
        |pfxp_n AS (
        |  SELECT p.gram, p.doc_id, gnp.pos FROM pfx_n p JOIN gnp USING (gram, doc_id)),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS id, i.doc_id AS match_id
        |  FROM pfxp_n n JOIN pfxp_i i
        |    ON n.gram = i.gram AND abs(n.pos - i.pos) <= 2)
        |SELECT id, match_id, CAST(levenshtein(sa.k, sb.k) AS INTEGER) AS dist
        |FROM cand JOIN sn sa ON id = sa.doc_id JOIN si sb ON match_id = sb.doc_id
        |WHERE levenshtein(sa.k, sb.k) <= 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // steady-state incremental fuzzy join: a new batch (doc_id % 4 == 0)
      // probed against the PERSISTED blocking-key index over the rest of
      // the corpus — the per-micro-batch cost of a deployment's entity-
      // resolution ingest, build amortized outside the timed body (the
      // q_dedup_incremental_probe split). The batch's prefix grams prune
      // the index read at the file listing; candidate ids push into the
      // id-sorted string store; prefixes on BOTH sides are selected under
      // the index's frozen (df, gram) order, the PPJoin guarantee's
      // shared-total-order requirement.
      val (idxDir, dfCap) = fuzzyIndexFor(dir)
      val batch = t(dir, "documents")
        .select(col("doc_id"), expr("substring(text, 1, 32)").as("k"))
        .where(length(col("k")) >= 3 && col("doc_id") % 4 === 0)
      graft.ops.FuzzyJoin.indexProbe(batch, "doc_id", "k", idxDir, dfCap = dfCap)
    },

    Q("q_hll_distinct", RowsOnly("q_hll_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // mergeable distinct-count sketch table: per-(type, day) HLL
      // sketches built once (the persisted KB-sized artifact), rolled up
      // per type by sketch union — COUNT(DISTINCT) semantics at any
      // grouping without re-shuffling the corpus. Rows-only check: no
      // SQL oracle can replay DataSketches register state (and the
      // coupon-mode promotion makes the state shard-sensitive at the
      // last digit — see DistinctSketch's caveat); the spec pins error
      // bands vs exact and shard-union-vs-one-shot tolerance instead.
      val sketches = graft.ops.DistinctSketch.buildSketches(
        events(dir).withColumn("day", expr("ts_us DIV 86400000000")),
        Seq("event_type", "day"), "user_id")
      graft.ops.DistinctSketch.estimate(sketches, Seq("event_type"))
    },

    Q("q_hll_audit", Oracle(
      // the HLL error contract: exact distinct per rollup cell recomputed
      // independently, in_band pinned to literal TRUE
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       TRUE AS in_band
        |FROM events GROUP BY event_type""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated audit of the sketch table above (the q_pack_bins_audit
      // pattern): the exact distinct count per rollup cell — independently
      // recomputed by DuckDB — next to an in-band flag pinned to the
      // oracle's literal TRUE. The sketch's error CONTRACT (|approx−exact|
      // ≤ 5% ≈ 3σ at lgK=12) lands in the hard gate; the register state
      // itself stays rows-only. The build still goes through the per-(type,
      // day) sketch table + union rollup — auditing the deployed path, not
      // a shortcut
      val ev = events(dir).withColumn("day", expr("ts_us DIV 86400000000"))
      val sketches = graft.ops.DistinctSketch.buildSketches(
        ev, Seq("event_type", "day"), "user_id")
      val est = graft.ops.DistinctSketch.estimate(sketches, Seq("event_type"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx_distinct") - col("n_exact").cast("double"))
            <= col("n_exact").cast("double") * lit(0.05)).as("in_band"))
    },

    Q("q_tdigest_audit", Oracle(
      // the t-digest contract: exact per-cell observation count (weight
      // conservation) + the p50 rank band, in_band pinned to literal TRUE
      """SELECT event_type, CAST(count(value) AS BIGINT) AS n_obs,
        |       TRUE AS in_band
        |FROM events GROUP BY event_type""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated audit of the t-digest sketch table (the
      // q_pack_bins_audit pattern, completing the trilogy with
      // q_bpe_audit/q_hll_audit): per rollup cell, the EXACT observation
      // count — digest weights are integer-valued doubles, so Σweights
      // must equal DuckDB's independent COUNT — and a rank-band flag
      // pinned to the oracle's literal TRUE: the union-rolled digest's
      // p50 estimate must lie between the cell's exact p40 and p60
      // VALUES (a ±10%-rank band, 10× the published ≤1% bound —
      // QuantileSketchSpec pins the tight band; this pins the contract
      // in the hard gate through the deployed build+union path)
      val ev = events(dir).withColumn("day", expr("ts_us DIV 86400000000"))
      val sketches = graft.ops.QuantileSketch.buildSketches(
        ev, Seq("event_type", "day"), "value")
      // n_obs read OFF THE DIGESTS (not a trivial re-count): per-type sum
      // of each day-cell digest's weight total — equal to the oracle's
      // COUNT only if the build conserved every observation's weight
      val nObs = sketches.groupBy("event_type").agg(
        expr("CAST(sum(aggregate(sketch.weights, 0D, (a, x) -> a + x)) AS BIGINT)")
          .as("n_obs"))
      val est = graft.ops.QuantileSketch.estimate(sketches,
        Seq("event_type"), Seq(0.5))
      val bands = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.4)").as("__p40"),
        expr("percentile(value, 0.6)").as("__p60"))
      nObs.join(est.where(col("q") === 0.5), Seq("event_type"))
        .join(bands, Seq("event_type"))
        .select(col("event_type"), col("n_obs"),
          (col("est") >= col("__p40") && col("est") <= col("__p60"))
            .as("in_band"))
    },

    Q("q_quantile_sketch", RowsOnly("q_tdigest_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // mergeable quantile-sketch table (t-digest): per-(type, day)
      // digests built once (the persisted KB-sized artifact), rolled up
      // per type by lossless digest union — p50/p90/p99 at any grouping
      // without re-shuffling the corpus. Rows-only check, the
      // q_hll_distinct stance: digest centroids are merge-order-sensitive
      // within the published rank-error bound, so no SQL oracle can
      // replay them; QuantileSketchSpec pins rank-error bands vs exact
      // and shard-union-vs-one-shot agreement instead.
      val sketches = graft.ops.QuantileSketch.buildSketches(
        events(dir).withColumn("day", expr("ts_us DIV 86400000000")),
        Seq("event_type", "day"), "value")
      graft.ops.QuantileSketch.estimate(sketches, Seq("event_type"),
        Seq(0.5, 0.9, 0.99))
    },

    Q("q_pca_variance", RowsOnly("q_pca_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // distributed PCA spectrum of the embedding corpus: one corpus scan
      // for the d + d² sufficient statistics (map-side partials collapse
      // each partition to ≤ d² rows pre-shuffle), O(d³) Jacobi eigen on
      // the driver — legitimate because d is the embedding WIDTH, never a
      // data dimension. Rows-only: no SQL engine replays an eigensolve;
      // PcaSpec pins orthonormality, Cv=λv residuals vs a naive
      // covariance, spectrum ordering, and projection equivalence.
      graft.ops.Pca.varianceReport(
        t(dir, "embeddings"), "embedding", k = 8)
    },

    Q("q_pca_incremental", RowsOnly("q_pca_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the persisted suffstats asset: two half-corpus appends fold into
      // an EpochStore epoch table (suffstats are a commutative monoid —
      // element-wise sums), then the spectrum is read off the ONE-ROW
      // asset with zero corpus scans. At 100 TB this is how the
      // projection tracks a growing corpus: each batch pays one scan of
      // ITSELF, fit time never re-reads the corpus. Rows-only for the
      // q_pca_variance reason (no SQL engine replays an eigensolve);
      // PcaSpec pins batch-folded == one-shot.
      val emb = t(dir, "embeddings")
      val tmp = tempDir("graft-pca-inc")
      try {
        val path = s"$tmp/stats"
        graft.ops.Pca.appendStats(
          emb.where(col("vec_id") % 2 === 0), "embedding", path)
        graft.ops.Pca.appendStats(
          emb.where(col("vec_id") % 2 === 1), "embedding", path)
        // the report reads the asset eagerly and is rebuilt from driver
        // arrays, so the epoch dirs can be reclaimed before returning —
        // repeated gate runs must not accumulate orphaned temp assets
        graft.ops.Pca.varianceReportFromStats(spark, path, k = 8)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        ()
      }
    },

    Q("q_quantile_incremental", RowsOnly("q_quantile_incremental_audit")) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // incremental sketch-table maintenance: the distribution monitor is
      // a persisted asset; a micro-batch folds its own per-cell digests in
      // by cell-wise union (digests are a commutative monoid — incremental
      // == one-shot within the rank-error band, spec-pinned). The batch
      // touches only its cells; the corpus is never re-scanned. Rows-only
      // for the q_quantile_sketch reason.
      val ev = events(dir).withColumn("day", expr("ts_us DIV 86400000000"))
      val maxSeq = ev.agg(max("event_id")).head.getLong(0)
      val split = maxSeq * 9 / 10
      val state = graft.ops.QuantileSketch.buildSketches(
        ev.where(col("event_id") <= split), Seq("event_type", "day"), "value")
      val batch = graft.ops.QuantileSketch.buildSketches(
        ev.where(col("event_id") > split), Seq("event_type", "day"), "value")
      graft.ops.QuantileSketch.estimate(
        graft.ops.QuantileSketch.mergeSketchTables(state, batch,
          Seq("event_type", "day")),
        Seq("event_type"), Seq(0.5, 0.99))
    },

    Q("q_quantile_incremental_audit", Oracle(
      // the incremental fold path's weight conservation + p50 rank band:
      // same pure input functions as q_tdigest_audit, read off the MERGED
      // state+batch digests
      """SELECT event_type, CAST(count(value) AS BIGINT) AS n_obs,
        |       TRUE AS in_band
        |FROM events GROUP BY event_type""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // ORACLE-gated audit of the INCREMENTAL fold path above —
      // q_tdigest_audit's contract applied to the maintained asset
      // (completing the audit program: every rows-only family now has a
      // hard-gate companion): per rollup cell, Σweights read OFF the
      // state+batch MERGED digests must equal DuckDB's independent COUNT
      // (mergeSketchTables conserves every observation's weight — a cell
      // dropped, double-folded, or re-clustered lossily by the merge
      // breaks the sum), and the merged p50 must lie in the cell's exact
      // p40–p60 value band, pinned to the oracle's literal TRUE
      val ev = events(dir).withColumn("day", expr("ts_us DIV 86400000000"))
      val maxSeq = ev.agg(max("event_id")).head.getLong(0)
      val split = maxSeq * 9 / 10
      val state = graft.ops.QuantileSketch.buildSketches(
        ev.where(col("event_id") <= split), Seq("event_type", "day"), "value")
      val batch = graft.ops.QuantileSketch.buildSketches(
        ev.where(col("event_id") > split), Seq("event_type", "day"), "value")
      val merged = graft.ops.QuantileSketch.mergeSketchTables(state, batch,
        Seq("event_type", "day"))
      val nObs = merged.groupBy("event_type").agg(
        expr("CAST(sum(aggregate(sketch.weights, 0D, (a, x) -> a + x)) AS BIGINT)")
          .as("n_obs"))
      val est = graft.ops.QuantileSketch.estimate(merged,
        Seq("event_type"), Seq(0.5))
      val bands = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.4)").as("__p40"),
        expr("percentile(value, 0.6)").as("__p60"))
      nObs.join(est.where(col("q") === 0.5), Seq("event_type"))
        .join(bands, Seq("event_type"))
        .select(col("event_type"), col("n_obs"),
          (col("est") >= col("__p40") && col("est") <= col("__p60"))
            .as("in_band"))
    },

    Q("q_pca_audit", Oracle(
      // the PCA eigensolve's entire INPUT, recomputed independently: n,
      // per-dim sums, and the full second-moment upper triangle (raw IEEE
      // doubles — the 1e-6 gate tolerance absorbs summation-order ulps)
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS moment
        |  FROM flat a JOIN flat b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY a.i, b.i),
        |sums AS (SELECT i, sum(x) AS sum_i FROM flat GROUP BY i)
        |SELECT CAST(p.i - 1 AS BIGINT) AS i, CAST(p.j - 1 AS BIGINT) AS j,
        |       (SELECT count(*) FROM embeddings) AS n, s.sum_i, p.moment
        |FROM pairs p JOIN sums s ON s.i = p.i""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import s.implicits._
      // ORACLE-gated audit of the PCA suffstats asset (the last rows-only
      // family without a hard-gate companion): n, the per-dim sums, and
      // the FULL second-moment upper triangle, read OFF the persisted
      // incremental asset after two half-corpus appends (the deployed
      // maintenance path — appendStats folded twice, not a fresh scan),
      // must equal the pure input functions DuckDB recomputes from
      // `embeddings`. n is integer-exact; sums and moments are raw IEEE
      // doubles (never rounded — the gate's 1e-6 float tolerance absorbs
      // summation-order ulps). The eigensolve stays rows-only
      // (q_pca_variance); its entire INPUT is now in the hard gate.
      // The asset builds ONCE per (session, dir) — pcaStatsFor — so the timed
      // body is the deployment's per-run cost: the audit read.
      val path = pcaStatsFor(dir)
      val (n, sums, tri) = graft.ops.Pca.readStats(spark, path)
      val d = sums.length
      // upper-triangle layout: (i,i) sits at i*d − i(i−1)/2, then j−i
      val rows = for { i <- 0 until d; j <- i until d } yield
        (i.toLong, j.toLong, n, sums(i), tri(i * d - i * (i - 1) / 2 + (j - i)))
      rows.toDF("i", "j", "n", "sum_i", "moment")
    },

    Q("q_monitor_weights", Oracle(
      // the monitor fold's conservation law: per-cell digest weight ==
      // the cell's row count, exactly (estimates stay property-spec'd)
      """SELECT lang, count(n_chars) AS n_obs FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the `monitor:` YAML block's core fold, oracle-checked EXACTLY:
      // quantile ESTIMATES are rows-only by nature, but digest WEIGHTS
      // are exact — every observation adds 1.0 and both the clustering
      // pass and the cell-wise union SUM weights (integer-valued doubles,
      // exact to 2^53) — so the per-cell observation count after an
      // incremental two-batch fold must equal a plain GROUP BY count.
      // This pins the monitor's maintenance arithmetic (fold never drops
      // or double-counts a cell's rows) in the DuckDB gate, leaving only
      // the estimate interpolation to the property specs.
      val d = t(dir, "documents")
      val a = graft.ops.QuantileSketch.buildSketches(
        d.where(col("doc_id") % 2 === 0), Seq("lang"), "n_chars")
      val b = graft.ops.QuantileSketch.buildSketches(
        d.where(col("doc_id") % 2 === 1), Seq("lang"), "n_chars")
      graft.ops.QuantileSketch.mergeSketchTables(a, b, Seq("lang"))
        .select(col("lang"),
          expr("CAST(aggregate(sketch.weights, 0D, (x, y) -> x + y) AS BIGINT)")
            .as("n_obs"))
        .orderBy("lang")
    },

    Q("q_grouping_sets", Oracle(
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS cnt,
        |  CAST(grouping(event_type) * 2
        |       + grouping(epoch_us(ts) // 86400000000) AS BIGINT) AS gid
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, epoch_us(ts) // 86400000000), (event_type), ())""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // explicit GROUPING SETS (the general form behind q_cube/q_rollup)
      // with grouping_id disambiguating the null-as-total rows — one
      // shuffle, each set an integer-exact rollup
      events(dir).createOrReplaceTempView("ev_gs")
      spark.sql(
        """SELECT event_type, ts_us DIV 86400000000 AS day, count(*) AS cnt,
          |  CAST(grouping(event_type) * 2
          |       + grouping(ts_us DIV 86400000000) AS BIGINT) AS gid
          |FROM ev_gs
          |GROUP BY GROUPING SETS ((event_type, ts_us DIV 86400000000), (event_type), ())""".stripMargin)
    },

    Q("q_histogram", Oracle(
      """WITH mm AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events)
        |SELECT event_type,
        |       least(19, CAST(floor((value - vmin) / ((vmax - vmin) / 20.0)) AS BIGINT)) AS bucket,
        |       count(*) AS cnt
        |FROM events, mm
        |GROUP BY 1, 2""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // equi-width histogram: global [min, max] from one scalar agg
      // (2 doubles to the driver-free 1-row broadcast), bucket index as a
      // pinned double expression — floor((v−min)/width) is bit-identical
      // in both engines given identical parenthesization; the top edge
      // clamps into the last bucket
      val ev = events(dir)
      val mm = ev.agg(min("value").as("vmin"), max("value").as("vmax"))
      ev.join(broadcast(mm))
        .selectExpr("event_type",
          "least(19L, CAST(floor((value - vmin) / ((vmax - vmin) / 20.0)) AS BIGINT)) AS bucket")
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("cnt"))
    },

    Q("q_first_touch", Oracle(
      """WITH ft AS (
        |  SELECT user_id, event_type AS first_type FROM (
        |    SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM events) WHERE rn = 1),
        |p AS (
        |  SELECT user_id, count(*) AS purchases FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT p.user_id, ft.first_type, p.purchases
        |FROM p JOIN ft USING (user_id)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // first-touch attribution: each user's purchases attributed to the
      // user's FIRST-ever event type — one min_by per user (map-side
      // combined, no sort), joined back onto the purchase rollup. Both
      // join inputs are per-user aggregates whose cardinality grows with
      // the corpus, so NO broadcast hint: both sides already carry
      // hashpartitioning(user_id) from their aggregations, making the
      // join a zero-exchange sort-merge at scale, and AQE still converts
      // to broadcast when the stats say one side is small.
      val ev = events(dir)
      val firstTouch = ev.groupBy("user_id")
        .agg(min_by(col("event_type"),
          struct(col("ts_us"), col("event_id"))).as("first_type"))
      ev.where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("purchases"))
        .join(firstTouch, "user_id")
        .select(col("user_id"), col("first_type"), col("purchases"))
    },

    Q("q_winsorize", Oracle(
      """WITH bounds AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS p05,
        |         quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value,
        |       greatest(p05, least(p95, value)) AS value_w
        |FROM events e JOIN bounds b ON e.event_type = b.event_type""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // robust feature clamping (winsorization) for quality/score columns:
      // per-type exact p05/p95 (one bounded agg, broadcast back — the
      // Anomaly stats shape), values clamped into the band as a narrow
      // codegen projection. Interpolated percentiles of the raw doubles
      // are the same type-7 definition in both engines, and clamp output
      // is either the original double or the percentile — both bit-exact.
      val ev = events(dir)
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          greatest(col("p05"), least(col("p95"), col("value"))).as("value_w"))
    },

    Q("q_corr_features", Oracle(
      """WITH stats AS (
        |  SELECT event_type,
        |    count(*) AS n,
        |    SUM(CAST(value AS DECIMAL(24,6))) AS sx,
        |    SUM(y) AS sy,
        |    SUM(CAST(value * y AS DECIMAL(24,6))) AS sxy,
        |    SUM(CAST(value * value AS DECIMAL(24,6))) AS sx2,
        |    SUM(y * y) AS sy2
        |  FROM (SELECT event_type, value,
        |          CAST((epoch_us(ts) % 86400000000) // 3600000000 AS BIGINT) AS y
        |        FROM events)
        |  GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  AS r
        |FROM stats""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // Pearson correlation between value and hour-of-day per event type,
      // the exact-sums-then-formula discipline: the five sufficient
      // statistics are DECIMAL/BIGINT sums (order-free, exact), and the
      // final r is ONE pinned double expression over them — never a
      // running double aggregation (Spark's corr() and DuckDB's disagree
      // at the ULP because their update orders differ; sufficient
      // statistics cannot).
      events(dir)
        .select(col("event_type"),
          col("value").as("x"),
          expr("CAST((ts_us % 86400000000) DIV 3600000000 AS BIGINT)").as("y"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("x").cast("decimal(24,6)")).as("sx"),
          sum(col("y")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(24,6)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(24,6)")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .selectExpr("event_type", "n",
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            | / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |    * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            | AS r""".stripMargin)
    },

    Q("q_anomaly_mad", Oracle(
      """WITH series AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, quantile_cont(cnt, 0.5) AS med
        |  FROM series GROUP BY 1),
        |dev AS (
        |  SELECT s.event_type, s.hour_bucket, s.cnt, m.med,
        |         abs(s.cnt - m.med) AS adev
        |  FROM series s JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, d.hour_bucket, d.cnt, d.med, m.mad,
        |       d.adev > 3.0 * m.mad AS is_outlier
        |FROM dev d JOIN mad m USING (event_type)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // robust ingest-monitoring alarm: hourly event counts per type,
      // flagged by the median/MAD (Hampel) rule — the series is already
      // bucket-aggregated (types × hours, NOT corpus-sized) and both
      // stats passes reduce to one row per type and join back broadcast.
      // Every decision value is an exact dyadic rational (integer counts →
      // interpolated medians are averages of integers), so the flag is
      // bit-identical in both engines.
      val series = events(dir)
        .groupBy(col("event_type"), expr("ts_us DIV 3600000000").as("hour_bucket"))
        .agg(count(lit(1)).as("cnt"))
      graft.ops.Anomaly.madOutliers(series, Seq("event_type"), "cnt", k = 3.0)
        .select(col("event_type"), col("hour_bucket"), col("cnt"),
          col("med"), col("mad"), col("is_outlier"))
    },

    Q("q_watermark_lateness", Oracle(graft.OracleHashSql.watermarkLateness)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // event-time disorder profile — the decision table that PICKS a
      // watermark delay instead of guessing one: arrival order modeled as
      // event time + a deterministic 0–2 h xxhash64 jitter (the testdata
      // feed arrives perfectly sorted, so the jitter plants a KNOWN
      // bounded disorder both engines reproduce bit-exactly); the
      // event-time frontier is a two-phase distributed prefix max — never
      // a single-partition global window — and the lateness histogram
      // reads directly as completeness-vs-delay candidates.
      val arr = events(dir).withColumn("arr",
        col("ts_us") + pmod(xxhash64(col("event_id")), lit(7200000000L)))
      graft.operators.Lateness.profile(arr, "arr", col("ts_us"),
        boundsUs = Seq(0L, 60000000L, 600000000L, 1800000000L, 3600000000L),
        tieBreak = Seq("event_id"))
    },

    Q("q_stream_temporal_join", Oracle(
      """WITH ch AS (
        |  SELECT user_id, event_type, value,
        |    CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'REPLACE' END AS op,
        |    event_id AS seq
        |  FROM events),
        |iv AS (
        |  SELECT user_id, event_type, value, op, seq AS valid_from,
        |    lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        |  FROM ch),
        |hist AS (
        |  SELECT user_id, event_type, value, valid_from, valid_to
        |  FROM iv WHERE op <> 'DELETE'),
        |probes AS (
        |  SELECT user_id, seq AS probe_seq FROM ch WHERE event_type = 'purchase')
        |SELECT p.user_id, p.probe_seq,
        |       h.event_type AS prev_type, h.value AS prev_value
        |FROM probes p LEFT JOIN hist h
        |  ON p.user_id = h.user_id AND h.valid_from <= p.probe_seq - 1
        | AND (h.valid_to IS NULL OR h.valid_to > p.probe_seq - 1)""".stripMargin,
    ), launchBound = true) { (spark, dir) =>
      implicit val s: SparkSession = spark
      import graft.streaming.StreamingNative
      // the STREAMING face of the temporal table join: each micro-batch
      // of purchase probes enriches against the (static, versioned) SCD2
      // history at the probe's OWN seq−1 — stateless per batch like
      // q_stream_enrich, but against interval-versioned state instead of
      // a flat dimension. Completes the streaming join matrix: interval,
      // outer, windowed-agg, static-enrich, temporal.
      val ch = eventsChangelog(spark, dir)
      val hist = Changelog.history(ch, Seq("user_id")).localCheckpoint()
      val base = tempDir("graft-stj")
      val in = s"$base/in"
      ch.where(col("event_type") === "purchase")
        .select(col("user_id"), col(Changelog.SeqCol).as("probe_seq"))
        .write.parquet(in)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("probe_seq", org.apache.spark.sql.types.LongType)))
      StreamingNative.fileStreamRuns(spark, in, schema, s"$base/out", s"$base/cp",
        Seq.empty) { stream =>
        Changelog.temporalJoin(stream, hist, Seq("user_id"), col("probe_seq") - 1)
          .select(col("user_id"), col("probe_seq"),
            col("event_type").as("prev_type"), col("value").as("prev_value"))
      }
    },

    Q("q_percentile", Oracle(
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 4) AS p95,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // exact interpolated percentiles (type-7, same definition as DuckDB
      // quantile_cont). Scale path: approx_percentile (t-digest-style
      // mergeable sketch) — exact percentile sorts per group
      t(dir, "events")
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"),
          count(lit(1)).as("cnt"))
    },

    Q("q_window_sliding", Oracle(
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS tus FROM events),
        |w AS (SELECT event_type, value,
        |        (tus // 3600000000 - i) * 3600000000 AS wstart
        |      FROM e, (SELECT unnest([0, 1]) AS i))
        |SELECT wstart, event_type, count(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
        |FROM w GROUP BY wstart, event_type""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // sliding event-time windows (2h width, 1h slide): every event lands
      // in exactly two epoch-aligned windows — Spark's native window()
      events(dir)
        .selectExpr("timestamp_micros(ts_us) AS tts", "event_type", "value")
        .groupBy(window(col("tts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("wstart"),
          col("event_type"), col("cnt"), col("sum_value"))
    },

    Q("q_corpus_pipeline", Oracle(corpusPipelineOracleSql)) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // the composed training-data flow: exact-dedup survivors → quality
      // gate → per-language corpus stats. Window-based survivor selection:
      // ONE scan, one shuffle, no self-join back to the corpus.
      val docs = t(dir, "documents")
      Dedup.exactSurvivors(docs, "doc_id", TextAnalysis.fingerprint(col("text")))
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .where(col("n_words") >= 10 && col("lang_pred") =!= "und")
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_words").cast("long")).as("total_words"),
          sum(col("n_subwords").cast("long")).as("total_subwords"))
    },

    Q("q_rollup", Oracle(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // grouping-sets family (absent in reference, native in Spark)
      t(dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
    },

    Q("q_topn", Oracle(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // top-k with deterministic tiebreak: plans as TakeOrderedAndProject
      // (per-partition heaps, no global sort)
      t(dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    },

    Q("q_setops", Oracle(
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    )) { (spark, dir) =>
      implicit val s: SparkSession = spark
      // set operators (absent in reference): BUILDING customers that never
      // placed an urgent order
      val building = t(dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val urgent = t(dir, "orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"))
      building.except(urgent)
    }
  ))

  /** The langId cascade as a DuckDB CASE expression (RE2 dialect: `\x{...}`
    * unicode escapes instead of Java's `\uXXXX`); `$cols` must be a subquery
    * exposing de/fr/es/en stopword-hit sums and `text`.
    */
  private def langIdCaseSql: String =
    """CASE
      |  WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
      |  WHEN de > fr AND de > es AND de > en THEN 'de'
      |  WHEN fr > es AND fr > en THEN 'fr'
      |  WHEN es > en THEN 'es'
      |  WHEN en > 0 THEN 'en'
      |  ELSE 'und' END""".stripMargin

  private def stopwordSumsSql: String = {
    val sums = TextAnalysis.LangStopwords.map { case (lang, words) =>
      s"len(regexp_extract_all(text, '(?i)\\b(${words.mkString("|")})\\b')) AS $lang"
    }.mkString(", ")
    s"SELECT *, $sums FROM documents"
  }

  private def langIdOracleSql: String =
    s"SELECT doc_id, $langIdCaseSql AS lang_pred FROM ($stopwordSumsSql)"

  /** The five within-document repetition metrics, replayed independently:
    * DuckDB `string_split` keeps empty tokens (matched by
    * `Repetition.segments`), `trim` strips spaces only, `length` counts
    * code points, and the bigram tokenization is the corpus-wide `[a-z]+`
    * regex on lowercased text. Every ratio is an integer/integer division
    * on both engines, so the doubles are bit-identical.
    */
  private def repetitionStatsOracleSql: String = repetitionStatsOracleSqlFrom("documents")

  private def repetitionStatsOracleSqlFrom(src: String): String =
    s"""WITH nl AS (
      |  SELECT doc_id, line, length(line) AS len
      |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM $src)
      |  WHERE trim(line) <> ''
      |),
      |lc AS (SELECT doc_id, line, count(*) AS c, max(len) AS len FROM nl GROUP BY doc_id, line),
      |la AS (SELECT doc_id,
      |         (sum(c) - count(*))::DOUBLE / sum(c) AS dup_line_frac,
      |         CASE WHEN sum(c*len) = 0 THEN 0.0
      |              ELSE sum((c-1)*len)::DOUBLE / sum(c*len) END AS dup_line_char_frac
      |       FROM lc GROUP BY doc_id),
      |np AS (
      |  SELECT doc_id, para, length(para) AS len
      |  FROM (SELECT doc_id, unnest(string_split(text, chr(10)||chr(10))) AS para FROM $src)
      |  WHERE trim(para) <> ''
      |),
      |pc AS (SELECT doc_id, para, count(*) AS c, max(len) AS len FROM np GROUP BY doc_id, para),
      |pa AS (SELECT doc_id,
      |         (sum(c) - count(*))::DOUBLE / sum(c) AS dup_para_frac,
      |         CASE WHEN sum(c*len) = 0 THEN 0.0
      |              ELSE sum((c-1)*len)::DOUBLE / sum(c*len) END AS dup_para_char_frac
      |       FROM pc GROUP BY doc_id),
      |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws FROM $src),
      |bgl AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
      |        FROM w WHERE len(ws) - 1 >= 10),
      |bc AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b, count(*) AS c FROM bgl GROUP BY doc_id, b),
      |ba AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM bc GROUP BY doc_id),
      |g5 AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-4)) AS i
      |             FROM w WHERE len(ws) - 4 >= 10)),
      |g5c AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
      |g5a AS (SELECT doc_id,
      |          coalesce(sum(c) FILTER (c >= 2), 0)::DOUBLE / sum(c) AS dup_5gram_frac
      |        FROM g5c GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(la.dup_line_frac, 0.0) AS dup_line_frac,
      |  coalesce(la.dup_line_char_frac, 0.0) AS dup_line_char_frac,
      |  coalesce(pa.dup_para_frac, 0.0) AS dup_para_frac,
      |  coalesce(pa.dup_para_char_frac, 0.0) AS dup_para_char_frac,
      |  coalesce(ba.top_bigram_frac, 0.0) AS top_bigram_frac,
      |  coalesce(g5a.dup_5gram_frac, 0.0) AS dup_5gram_frac
      |FROM $src d LEFT JOIN la USING (doc_id) LEFT JOIN pa USING (doc_id)
      |  LEFT JOIN ba USING (doc_id) LEFT JOIN g5a USING (doc_id)""".stripMargin

  private def corpusPipelineOracleSql: String =
    s"""WITH survivors AS (
       |  SELECT min(doc_id) AS doc_id FROM documents
       |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |), scored AS (
       |  SELECT doc_id, $langIdCaseSql AS lang_pred,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) END AS n_words,
       |    CAST(len(regexp_extract_all(text, '[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]')) AS INTEGER) AS n_subwords
       |  FROM ($stopwordSumsSql) JOIN survivors USING (doc_id))
       |SELECT lang_pred, count(*) AS docs,
       |       CAST(SUM(n_words) AS BIGINT) AS total_words,
       |       CAST(SUM(n_subwords) AS BIGINT) AS total_subwords
       |FROM scored WHERE n_words >= 10 AND lang_pred <> 'und'
       |GROUP BY lang_pred""".stripMargin

  private def yamlCorpusOracleSql: String =
    s"""SELECT doc_id, lang_pred, n_words, rep_ratio FROM (
       |  SELECT doc_id, $langIdCaseSql AS lang_pred,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) END AS n_words,
       |    ROUND(CASE WHEN length(trim(text)) = 0 THEN 0.0
       |      ELSE 1.0 - CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS DOUBLE)
       |                 / len(string_split_regex(trim(text), '\\s+')) END, 4) AS rep_ratio
       |  FROM ($stopwordSumsSql))
       |WHERE n_words >= 10 AND lang_pred <> 'und'""".stripMargin

  /** Unrolled-CTE replay of [[graft.ops.Graph.pageRank]] over the
    * [[graft.ops.Graph.coDupEdges]] source graph: each iteration folds the
    * in-neighbor contributions in the SAME pinned src order as the engine
    * (`list(... ORDER BY e.src)` ↔ `array_sort(collect_list(...))`), and
    * the damping constants go through the identical IEEE op sequence
    * ((1.0 - 0.85) / n, 0.85 * Σ), so rank doubles are bit-identical.
    */
  private def sourcePageRankOracleSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT nodes.node,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         |           + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst,
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list(p.rank / d.deg ORDER BY e.src)), (a, x) -> a + x) AS s
         |    FROM e JOIN $prev p ON e.src = p.node JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) c ON c.dst = nodes.node)""".stripMargin
    val iters = (1 to 5).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH fp0 AS (
       |  SELECT source AS fp_src, md5(substr(trim(text), 1, 64)) AS fp
       |  FROM documents),
       |kept AS (
       |  SELECT fp0.* FROM fp0
       |  JOIN (SELECT fp FROM fp0 GROUP BY fp HAVING count(*) <= 50) k USING (fp)),
       |du AS (SELECT DISTINCT fp, fp_src FROM kept),
       |e AS (SELECT DISTINCT a.fp_src AS src, b.fp_src AS dst
       |      FROM du a JOIN du b USING (fp) WHERE a.fp_src <> b.fp_src),
       |nodes AS (SELECT DISTINCT source AS node FROM documents),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
       |$iters
       |SELECT node AS source, rank FROM r5""".stripMargin
  }

  private def qualityFilterOracleSql: String =
    s"""SELECT doc_id, lang, n_words, lang_pred FROM (
       |  SELECT doc_id, lang,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) END AS n_words,
       |    $langIdCaseSql AS lang_pred
       |  FROM ($stopwordSumsSql))
       |WHERE n_words BETWEEN 20 AND 500 AND lang_pred <> 'und'""".stripMargin
}
