package graft

/** Regression guard for the SCALE.md plan invariants: the physical plans of
  * the headline queries must keep the shapes the 100 TB design relies on —
  * pushed filters, pruned scans, broadcast dims, top-k without global sort.
  * A refactor that silently loses one of these fails here, not at the
  * next benchmark.
  */
class PlanInvariantsSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.query(q).build(spark, sf).queryExecution.executedPlan.toString

  test("yaml sample read is one scan-bound filter: no exchange, no join") {
    // the sample: block's scale contract — membership is a pure
    // md5-threshold projection over the materialized table's scan
    val p = plan("q_yaml_sample")
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("yaml mix read: bounded decision-table aggregate, then one scan-bound filter") {
    // the mix: block derives per-stratum rates via one bounded collect
    // (a row per stratum — resolved before this plan exists), so the
    // SELECTION plan is the same shuffle-free narrow filter as sample:
    val p = plan("q_yaml_mix")
    assert(!p.contains("Exchange"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("transform filter pushes predicates into the parquet scan") {
    val p = plan("q_transform_filter")
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,1000.0)"), p.take(2000))
  }

  test("transform projection prunes the scan schema") {
    val p = plan("q_transform_project")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>"))
  }

  test("dim joins broadcast; fact side never shuffles for the join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ANN top-k plans as TakeOrderedAndProject (per-partition heaps)") {
    val p = plan("q_embed_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("GlobalSort"))
  }

  test("q1 aggregation is partial before its single exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"))
    assert("Exchange".r.findAllIn(p).size === 1, s"expected 1 exchange:\n${p.take(3000)}")
  }

  test("as-of and interval joins never degrade to nested-loop plans") {
    for (q <- Seq("q_asof_join", "q_asof_forward", "q_interval_join")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("knn join: probe selection in-row, sort-free bounded-heap top-k, no nested loop") {
    val p = plan("q_knn_join")
    // two heap passes (partial below the lid exchange, final above) in
    // place of the Sort → WindowGroupLimit → Window chain: the candidate
    // stream is never sorted (the r18 ~6 s warm sf1 floor was that sort)
    assert("HeapTopKPerGroup".r.findAllIn(p).size === 2, p.take(3000))
    assert(!p.contains("WindowGroupLimit") && !p.contains("Sort "), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the candidate pair loop runs in the LIST side's partitions: a
    // compact list table must be spread to the session's parallelism
    // before the join, or the whole loop serializes on the scan's few
    // partitions (the sf1 heavy tail: 14.3 → 5.9 s) — the round-robin
    // exchange is the guard that a refactor silently re-serializing the
    // loop fails, since results are bit-identical either way
    assert(p.contains("RoundRobinPartitioning"), p.take(3000))
  }

  test("indexed knn join keeps the heap shape and never recomputes the corpus assignment") {
    val p = plan("q_knn_join_indexed")
    assert("HeapTopKPerGroup".r.findAllIn(p).size === 2, p.take(3000))
    assert(!p.contains("WindowGroupLimit") && !p.contains("Sort "), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the index paid the assignment at build time: the probe plan must
    // read the persisted centroid_id, not re-run NEAREST_CENTROID over
    // the list side (the whole point of the persisted shape). No
    // RoundRobinPartitioning assertion here: the index's partitionBy
    // layout already carries one file per list, so spread is a designed
    // no-op when that matches the session's parallelism
    assert(!p.contains("nearest_centroid("), p.take(3000))
    // probe-list selection is the single reference-object expression, not
    // a per-centroid literal tree
    assert(p.contains("nearest_centroids("), p.take(3000))
  }

  test("hard negatives keep the knn-join plan shape; the tag filter is pre-top-k") {
    val p = plan("q_hard_negatives")
    assert("HeapTopKPerGroup".r.findAllIn(p).size === 2, p.take(3000))
    assert(!p.contains("WindowGroupLimit") && !p.contains("Sort "), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("RoundRobinPartitioning"), p.take(3000))
    // the exclusion must sit below the rank-assigning top-k (a filter
    // ABOVE it would let same-tag rows eat rank slots)
    val topkIx = p.indexOf("HeapTopKPerGroup")
    val filterIx = p.indexOf("NOT (__rtag")
    assert(filterIx > topkIx, p.take(3000)) // deeper in tree = printed later
  }

  test("temporal join: one equi-key join with interval residual, no nested loop") {
    val p = plan("q_temporal_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // interval cover must ride the equi-join as a residual condition, not
    // a post-join filter over an amplified product
    assert(p.contains("__vf") && p.contains("__vt"), p.take(2000))
  }

  test("fuzzy join: gram relation computed once; verify never in the join condition") {
    // AQE finalizes (and reuses) stages only on execution — same stance
    // as the tfidf single-tokenization test below
    val df = SparkEntry.query("q_fuzzy_join").build(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the exact lower-bound prefilters (length band, char-bitmap popcount)
    // must ride the BLOCKING JOIN condition: dropping them changes no
    // result (the verify rejects the same pairs) so only this plan
    // assertion would catch a refactor silently re-paying the 12.5×
    // pruned candidate volume
    assert(p.contains("bit_count"), p.take(3000))
    assert(p.contains("__len"), p.take(3000))
  }

  test("anomaly stats: duplicate series subtrees collapse via exchange reuse") {
    val df = SparkEntry.query("q_anomaly_mad").build(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin")) // all stats join-backs broadcast
  }

  test("lateness frontier and incremental view apply never single-partition") {
    assert(!plan("q_watermark_lateness").contains("SinglePartition"))
    val p = plan("q_incremental_agg")
    assert(p.contains("BroadcastHashJoin LeftSemi") ||
      (p.contains("LeftSemi") && p.contains("BroadcastHashJoin")), p.take(2000))
  }

  test("decontamination joins broadcast the benchmark side") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
  }

  test("prefix-sum operators never plan a single-partition stage") {
    for (q <- Seq("q_pack_windows", "q_shuffle_deterministic")) {
      assert(!plan(q).contains("SinglePartition"), q)
    }
  }

  test("repetition gate is one scan-bound filter; semdedup anti-joins broadcast ids") {
    val rep = plan("q_repetition_filter")
    assert(!rep.contains("Exchange"), rep.take(2000))
    assert(rep.contains("repetition_keep"), rep.take(2000))
    val sem = plan("q_semdedup")
    assert(sem.contains("BroadcastHashJoin") && sem.contains("LeftAnti"), sem.take(2000))
  }

  test("fixed-k sampling plans per-partition WindowGroupLimit heaps before the exchange") {
    for (q <- Seq("q_sample_fixed_k", "q_corpus_holdout")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("snapshot diff is one key-aligned join: no nested loop, no row explosion") {
    val p = plan("q_snapshot_diff")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("FullOuter"), p.take(2000))
  }

  test("text similarity search plans as TakeOrderedAndProject over one narrow scan") {
    val p = plan("q_text_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000)) // signature + agreement: no shuffle at all
  }

  test("source-reputation filter: corpus side joins LEFT SEMI under a broadcast") {
    val p = plan("q_source_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("EXISTS subquery plans as a semi join, never a nested loop") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("outer-join distribution and anti-join subquery stay hash joins") {
    val p13 = plan("q13_custdist")
    assert(p13.contains("LeftOuter"), p13.take(2000))
    assert(!p13.contains("BroadcastNestedLoopJoin") && !p13.contains("CartesianProduct"), p13.take(2000))
    val p22 = plan("q22_idle_balance")
    assert(p22.contains("LeftAnti"), p22.take(2000))
    assert(!p22.contains("BroadcastNestedLoopJoin") && !p22.contains("CartesianProduct"), p22.take(2000))
  }

  test("Q19 disjunctive predicate stays a broadcast HASH join with a residual") {
    val p = plan("q19_disjunctive")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    // the factored-out quantity envelope reaches the lineitem scan
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), p.take(3000))
  }

  test("Q17/Q18/Q21 decorrelated aggregates never plan a nested loop") {
    for (q <- Seq("q17_small_qty_revenue", "q18_large_orders", "q21_waiting_supplier")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
    // Q17's per-part stats come back as a broadcast, so lineitem never
    // shuffles for the decision join
    assert(plan("q17_small_qty_revenue").contains("BroadcastHashJoin"))
  }

  test("partitioned layout prunes at listing time; bucketed join is exchange-free") {
    val pp = plan("q_partition_pruning")
    assert(pp.contains("PartitionFilters") &&
      pp.contains("event_type#") && pp.contains("purchase"), pp.take(3000))
    val bj = plan("q_bucketed_join")
    // the join consumes both bucketed tables without re-shuffling: the only
    // Exchange in the whole plan is the tiny final priority rollup
    assert("Exchange hashpartitioning".r.findAllIn(bj).size == 1, bj.take(3000))
    assert(bj.contains("SelectedBucketsCount") || bj.contains("Bucketed: true"), bj.take(3000))
  }

  test("BM25 top-k: one tokenization, partial agg before the id exchange, heap cut") {
    val p = plan("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert("RegExpExtractAll".r.findAllIn(p).size <= 1 ||
      "regexp_extract_all".r.findAllIn(p).size <= 1, "token stream must be extracted once")
    assert(p.contains("partial_count") || p.contains("partial"), p.take(2000))
  }

  test("BPE pair counts: map-side partial agg; padding stats: single bounded exchange") {
    val bpe = plan("q_bpe_pairs")
    assert(bpe.contains("partial_sum"), bpe.take(2000))
    val pk = plan("q_pack_stats")
    assert(pk.contains("partial_count"), pk.take(2000))
    assert("Exchange".r.findAllIn(pk).size === 1, pk.take(3000))
  }

  test("incremental SCD2 merge broadcasts the batch key set; history side not shuffled for the close") {
    val p = plan("q_scd2_merge")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("span dedup and curation chain: no nested loops; curation keeps the top-k heaps") {
    val sp = plan("q_span_dedup")
    assert(!sp.contains("BroadcastNestedLoopJoin") && !sp.contains("CartesianProduct"), sp.take(2000))
    val cu = plan("q_corpus_curation")
    assert(cu.contains("WindowGroupLimit"), cu.take(2000))
    assert(!cu.contains("CartesianProduct"), cu.take(2000))
  }

  test("rarity profile: partial df aggregation, no nested-loop joins") {
    val p = plan("q_doc_rarity")
    assert(p.contains("partial_count"), p.take(2000)) // df agg combines map-side
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("tfidf and rarity tokenize ONCE: the df rollup reuses the tf exchange") {
    // both operators derive the document-frequency table from the SAME
    // termFrequencies relation their per-doc side consumes; at runtime AQE
    // must dedupe the shared (doc, tok) shuffle, leaving a single
    // RegExpExtractAll-bearing scan — a second tokenizer scan means the
    // reuse was lost and the corpus is regex-scanned twice
    for (q <- Seq("q_tfidf_terms", "q_doc_rarity")) {
      val df = SparkEntry.query(q).build(spark, sf)
      df.collect() // AQE finalizes (and reuses) stages only on execution
      // the AQE toString appends the pre-execution "Initial Plan" (which
      // legitimately shows both branches) — assert on the FINAL plan only
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val tokenizerScans = "regexp_extract_all".r.findAllIn(p).size
      assert(tokenizerScans === 1, s"$q: $tokenizerScans tokenizer scans\n${p.take(4000)}")
      assert(p.contains("ReusedExchange"), s"$q lost the tf stage reuse\n${p.take(4000)}")
    }
  }

  test("IVF assignment stays in codegen: no encoder hop on the full-corpus stage") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    val p = graft.ops.Ivf.assign(emb, "vec_id", "embedding", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("DeserializeToObject"), p.take(2000))
    assert(!p.contains("MapElements"), p.take(2000))
    assert(p.contains("nearest_centroid"), p.take(2000))
    // and the expression agrees with the driver-side model on every vector
    val mismatch = graft.ops.Ivf.assign(emb, "vec_id", "embedding", model)
      .collect().count { r =>
        model.nearest(r.getSeq[Float](1).toArray).head != r.getInt(2)
      }
    assert(mismatch === 0)
  }

  test("dedup pipelines stay in codegen: no typed-Dataset encoder hops") {
    // a DeserializeToObject / MapElements node means rows left Tungsten
    // format for a Scala closure — the scan-bound narrow stages of the
    // dedup ops must never do that
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram",
                  "q_dedup_embedding", "q_dedup_exact")) {
      val p = plan(q)
      assert(!p.contains("DeserializeToObject"), q)
      assert(!p.contains("MapElements"), q)
    }
  }

  test("paragraph dedup costs exactly its two inherent exchanges") {
    // one window shuffle on the paragraph fingerprint + one groupBy(id)
    // reassembly — a third exchange would mean a lost partitioning reuse
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.ops.Dedup.paragraphDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("sampling filters are narrow: no exchange anywhere in the plan") {
    for (q <- Seq("q_sample_stratified", "q_sample_weighted")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should be scan-bound:\n${p.take(2000)}")
    }
  }

  test("DSIR: map-side-combined counts, broadcast stats join, heap-based selection") {
    val p = plan("q_dsir_select")
    assert(p.contains("partial_count"), p.take(3000)) // counts combine before their exchange
    assert(p.contains("BroadcastHashJoin"), p.take(3000)) // bucket stats stay broadcast
    assert(p.contains("TakeOrderedAndProject")) // selection never global-sorts
    assert(!p.contains("CartesianProduct"))
  }

  test("SQ8 top-k: both ranking stages are per-partition heaps; quantization is narrow") {
    val p = plan("q_embed_sq8_topk")
    assert("TakeOrderedAndProject".r.findAllIn(p).size === 2, p.take(3000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000)) // no data shuffle at all
  }

  test("ORC read pushes the filter and prunes the read schema") {
    val p = plan("q_orc_read")
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,200)"),
      p.take(2000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      p.take(2000))
  }

  test("PCA suffstats: one corpus scan, map-side partial object aggregation") {
    // mean + upper-triangle Gram come back as ONE aggregate row off ONE
    // scan — a second mean scan or a d²-row collect would show up here
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.ops.Pca.suffStats(emb, "embedding")
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(p).size === 1, p.take(3000))
    assert(p.contains("partial_vector_suffstats"), p.take(3000))
  }

  test("token-budget selection sorts only the cutoff bin, never globally") {
    // the naive form is a global sort + single-partition corpus window;
    // the histogram-fold plan must keep exactly ONE window, fed by the
    // straddling-bin filter, with a non-global sort (global=true in a
    // Sort node would mean the corpus order is being re-established)
    val df = SparkEntry.query("q_token_budget").build(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isEmpty,
      s"global sort in the budget plan:\n${p.take(3000)}")
    assert("Window \\[".r.findAllIn(p).size === 1, p.take(3000))
    // the bin predicate (the optimizer inlines __bin into its
    // least(FLOOR(...)) form) must gate BOTH legs — filter-only above the
    // cutoff, window only on the straddling bin
    assert("least\\(FLOOR\\(".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("pmi vocab join-backs are cardinality-driven, never hint-forced") {
    // the unigram vocabulary is NOT dim-bounded (Heaps' law: 1e8+ distinct
    // tokens at 100 TB) — forcing broadcast(uni) is a driver OOM at scale.
    // The plan must carry NO join hint, leaving the strategy to stats/AQE.
    val df = SparkEntry.query("q_pmi_collocations").build(spark, sf)
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q_pmi_collocations must not force a strategy on the unbounded vocab side")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p.take(3000))
    // the nu/nb normalizer subquery must appear as ONE instance — the
    // field-per-reference shape cloned it into three independent
    // subqueries (none merged by reuse), each re-tokenizing the corpus;
    // the single "__t" alias reference pins execute-once by construction
    val subqIds = "subquery#\\d+".r.findAllIn(p).toSet
    assert(subqIds.size === 1,
      s"expected exactly 1 normalizer subquery instance, got $subqIds")
    // the at-scale shape (broadcast disabled = vocab beyond any threshold):
    // both count join-backs become key-shuffled sort-merge joins
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pp = SparkEntry.query("q_pmi_collocations").build(spark, sf)
        .queryExecution.executedPlan.toString
      assert("SortMergeJoin".r.findAllIn(pp).size === 2, pp.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("first-touch join is cardinality-driven, never hint-forced") {
    // both join inputs are per-user aggregates — unbounded cardinality. A
    // forced broadcast() of either is a driver OOM at 1e9 users; the plan
    // must carry NO join hint, leaving the strategy to stats/AQE (which
    // broadcasts at bench SF and key-shuffles beyond the threshold).
    val df = SparkEntry.query("q_first_touch").build(spark, sf)
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q_first_touch must not force a join strategy on an unbounded side")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    // the at-scale shape (broadcast disabled = what happens at 1e9 users):
    // both inputs already carry hashpartitioning(user_id) from their own
    // aggregations, so the sort-merge join adds ZERO exchanges — exactly
    // the two aggregation shuffles and nothing else
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pp = SparkEntry.query("q_first_touch").build(spark, sf)
        .queryExecution.executedPlan.toString
      assert(pp.contains("SortMergeJoin"), pp.take(3000))
      assert("Exchange hashpartitioning".r.findAllIn(pp).size === 2, pp.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
