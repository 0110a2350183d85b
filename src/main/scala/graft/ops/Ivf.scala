package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor index: a k-means coarse
  * quantizer assigns every vector to its nearest centroid; queries probe only
  * the `nprobe` nearest centroid buckets and exact-rescore that slice.
  *
  * The second scale path next to hyperplane LSH ([[Similarity]]): IVF buckets
  * adapt to the data distribution (clustered embeddings get balanced lists
  * where fixed hyperplanes don't).
  *
  * Scale design:
  *  - centroids are tiny (k × dim floats) — they broadcast; assignment is a
  *    narrow map over the scan, no shuffle of vectors for assignment;
  *  - Lloyd iterations shuffle one partially-aggregated (sum, count) pair per
  *    (partition, centroid) — `reduceGroups` does map-side combine, so bytes
  *    shuffled ≈ partitions × k × dim × 4, independent of row count;
  *  - the assigned table written `partitionBy("centroid_id")` gives partition
  *    pruning at query time: a 100 TB index reads only nprobe/k of its data;
  *  - training samples deterministically (hash-mod), so index builds are
  *    reproducible run-to-run.
  */
object Ivf {

  final case class Model(centroids: Array[Array[Float]]) {
    /** Top-`n` centroid ids by cosine (score DESC, id ASC on ties) —
      * semantics of the stable `sortBy(-cos).take(n)` it replaces, as one
      * bounded insertion pass: O(k·n) with no per-call k-sized sort. This
      * is [[train]]'s per-vector hot loop (n=1, every Lloyd pass), and a
      * deployment sizes k_centroids WITH the corpus — at k in the
      * thousands the full sort was the train bottleneck, not the dots.
      */
    def nearest(v: Array[Float], n: Int = 1): Seq[Int] = {
      val m = math.min(n, centroids.length)
      val ids = new Array[Int](m)
      val scores = new Array[Double](m)
      var filled = 0; var j = 0
      while (j < centroids.length) {
        val s = Similarity.cosine(centroids(j), v)
        // a later id displaces only on STRICTLY greater (ties → lower id)
        if (filled < m) {
          var pos = filled
          while (pos > 0 && s > scores(pos - 1)) {
            scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
          }
          scores(pos) = s; ids(pos) = j; filled += 1
        } else if (s > scores(m - 1)) {
          var pos = m - 1
          while (pos > 0 && s > scores(pos - 1)) {
            scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
          }
          scores(pos) = s; ids(pos) = j
        }
        j += 1
      }
      ids.toSeq
    }
  }

  /** Train a coarse quantizer with `iters` Lloyd iterations over a
    * deterministic hash-sample of the data (cosine geometry: centroids are
    * re-normalized means, assignment is max-cosine).
    */
  def train(df: DataFrame, idCol: String, vecCol: String, k: Int,
            iters: Int = 3, sampleMod: Int = 1): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    // the bounded sample feeds the seed scan plus every Lloyd iteration:
    // persist it once instead of re-reading + re-deserializing per pass
    // (noise at sf0.1, a full extra corpus scan per iteration at 10⁹ vectors)
    val vecs: Dataset[(Long, Seq[Float])] = df
      .where(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
      .select(col(idCol).cast("long").as("_1"), col(vecCol).as("_2"))
      .as[(Long, Seq[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // deterministic seeding: the k lowest id-hashes
    var centroids = vecs
      .withColumn("__h", xxhash64(col("_1")))
      .orderBy("__h").limit(k)
      .select("_2").as[Seq[Float]]
      .collect().map(_.toArray)

    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(Model(centroids))
      val sums = vecs
        .map { case (_, v) =>
          (bc.value.nearest(v.toArray).head, (v.toArray.map(_.toDouble), 1L))
        }
        .groupByKey(_._1)
        // reduceGroups = ObjectHashAggregate with partial merge: map-side
        // combine keeps the shuffle at partitions × k rows
        .reduceGroups { (a, b) =>
          val (va, ca) = a._2; val (vb, cb) = b._2
          var i = 0; while (i < va.length) { va(i) += vb(i); i += 1 }
          (a._1, (va, ca + cb))
        }
        .map { case (cid, (_, (sum, cnt))) => (cid, sum.map(_ / cnt), cnt) }
        .collect()
      val next = centroids.clone()
      sums.foreach { case (cid, mean, _) =>
        val norm = math.sqrt(mean.map(x => x * x).sum)
        next(cid) = mean.map(x => (if (norm > 0) x / norm else x).toFloat)
      }
      centroids = next
      bc.destroy()
    }
    vecs.unpersist()
    Model(centroids)
  }

  /** Assign every vector its inverted-list id — the distributed "index build".
    * Write the result `partitionBy("centroid_id")` for query-time pruning.
    *
    * The assignment runs over the ENTIRE corpus, so it is a native codegen'd
    * expression (NEAREST_CENTROID, centroids as a plan reference object) —
    * not a typed-Dataset `.map`, which would round-trip every vector through
    * the encoder. Train-side sampling keeps its `.map` (sample-sized input
    * feeding `reduceGroups`).
    *
    * CONSUMERS THAT PASS OVER THE ASSIGNMENT TWICE (e.g.
    * [[Sampling.rebalance]], whose decision-table count and final filter
    * each evaluate their stratum): at 100 TB, persist the slim
    * (id, centroid_id) projection once ([[writeIndex]] already does) and
    * run both passes over THAT table — two scans of a two-column parquet
    * instead of two corpus-wide assignments; join survivors back to the
    * wide corpus by id only if the payload is needed downstream.
    * `IvfSpec` pins that the persisted-assignment composition selects the
    * identical row set.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame =
    df.select(col(idCol).cast("long").as(idCol), col(vecCol),
      graft.functions.CdcExpressions.nearestCentroid(col(vecCol), model.centroids)
        .as("centroid_id"))

  /** Query: probe the `nprobe` nearest inverted lists, exact-rescore the
    * slice (scans nprobe/k of the index; with a partitioned index the pruning
    * happens at the file listing).
    */
  def topK(assigned: DataFrame, idCol: String, vecCol: String, model: Model,
           query: Array[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val probes = model.nearest(query, nprobe)
    Similarity.bruteForceTopK(
      assigned.where(col("centroid_id").isin(probes: _*)), idCol, vecCol, query, k)
  }

  /** Spread a compact candidate-list side across the session's full
    * parallelism before the pair loop. The candidate join's ENTIRE cost
    * — one CosinePre dot per (probe, list-member) pair plus the partial
    * per-group top-k heap pass — runs inside the
    * STREAMED side's partitions (the probe side broadcasts when bounded,
    * and a shuffled join keys on only k_centroids values), so a list
    * table that arrives as a handful of scan partitions serializes the
    * whole pair loop no matter how many cores exist. Measured at sf1
    * (20k vectors ≈ 10 scan partitions on 32 cores): `q_knn_join`
    * 14.3 → 5.9 s, results bit-identical — the heavy tail was a
    * PARALLELISM cap, not arithmetic. A salted (centroid_id, salt) join
    * was measured WORSE (18.7 s: probe-side ×S inflation + lumpy key
    * distribution). No-op when the input already carries at least the
    * session's parallelism — at 100 TB a list table has thousands of
    * partitions and must NOT be collapsed through one round-robin
    * exchange; the guard costs one plan compile, zero jobs.
    *
    * Probe safety under AQE: `Dataset.rdd` on a plan CONTAINING exchanges
    * eagerly submits the shuffle map-stage jobs
    * (`AdaptiveSparkPlanExec.getFinalPhysicalPlan`) and that work is then
    * discarded — a caller composing knnJoin over a joined/aggregated side
    * would silently execute its upstream pipeline TWICE at plan-build
    * time. The physical `sparkPlan` can't be inspected for this
    * (exchanges are inserted later, by `EnsureRequirements`), so the
    * judgment runs on the OPTIMIZED LOGICAL plan: the `.rdd` probe runs
    * only when every node is narrow (scan-shaped — leaf / project /
    * filter / generate / union / sample, no subqueries), where the probe
    * is one plan compile and zero jobs. Anything wider is judged by its
    * plan's own STATIC shuffle width (`spark.sql.shuffle.partitions`)
    * instead — AQE may still coalesce below that width at runtime, but
    * accepting that residual beats running the caller's pipeline twice.
    * IvfSpec pins the zero-jobs-at-plan-build contract.
    */
  private def spread(df: DataFrame): DataFrame = Spread.across(df)

  /** Bulk k-NN JOIN: for EVERY vector in `left`, its `k` nearest
    * neighbors among `right` (cosine; self-pairs excluded when ids
    * collide) — the all-pairs workhorse behind SemDeDup-style semantic
    * dedup, retrieval-graph construction, and label propagation, where
    * [[topK]]'s one-query-at-a-time shape would mean |L| separate jobs.
    *
    * Scale design: both sides IVF-prune. The right side is assigned to
    * its single nearest centroid ([[assign]] — or read back from a
    * persisted [[writeIndex]]) and [[spread]] across the session's
    * parallelism; each left row computes its `nprobe` nearest centroids
    * ENTIRELY inside one codegen projection (`NEAREST_CENTROIDS`, the
    * centroid matrix as a plan reference object → `explode`: no exchange,
    * no per-query driver work, O(1) plan nodes at any
    * k_centroids). The probe side broadcasts
    * when bounded (Catalyst/AQE's choice — a genuinely huge probe side
    * degrades to a shuffled join on centroid id, which is fine exactly
    * when k_centroids is sized to the cluster), so the pair loop and
    * its partial [[graft.plans.HeapTopK]] heaps run in the list side's
    * partitions; the one inherent exchange is winners by left id for
    * the per-left top-k. Candidate volume is |L|·|R|·nprobe/k_centroids
    * pairs — the IVF pruning factor — instead of the |L|·|R| cross join.
    *
    * Ordering ties break by ascending neighbor id; `rank` (1-based) is
    * emitted instead of the raw score so the output is integer-exact
    * (the score still DECIDES the ranking, bit-identically to the
    * oracle's replay — same dot/sqrt/divide shape).
    */
  def knnJoin(left: DataFrame, right: DataFrame, idCol: String, vecCol: String,
              model: Model, k: Int, nprobe: Int = 4): DataFrame =
    pairTopK(left, right, idCol, vecCol, model, k, nprobe, tagCol = None)
      .select(col("__lid").as(idCol), col("__rid").as("nn_id"),
        col("__rn").as("rank"))

  /** [[knnJoin]] against a PERSISTED [[writeIndex]] — the steady-state
    * deployment shape at 100 TB: the corpus-wide k-means train and the
    * corpus-wide nearest-centroid assignment were paid ONCE at index-build
    * time, so a probe batch pays only its own probe projection, the pair
    * loop over the pre-assigned lists, and the per-left top-k heaps.
    * Results are bit-identical to the inline formulation over the same
    * data (the persisted `centroid_id` IS [[assign]]'s output, floats
    * round-trip parquet exactly, [[readModel]] restores centroid order) —
    * IvfSpec pins row-set equality. The probe side still computes its
    * nprobe lists inside one codegen projection; the list side skips
    * NEAREST_CENTROID entirely and its squared norm is the only per-row
    * arithmetic added on top of the scan.
    */
  def knnJoinIndexed(left: DataFrame, indexPath: String, idCol: String,
                     vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val (lists, model) = readIndex(left.sparkSession, indexPath)
    val assignedRight = spread(lists).select(
      col(idCol).cast("long").as("__rid"), col(vecCol).as("__rvec"),
      graft.functions.CdcExpressions.vecNormSq(col(vecCol)).as("__rn2"),
      col("centroid_id").cast("int").as("centroid_id"))
    // spread the PROBE side here (and only here — see pairTopKAssigned):
    // against a compact persisted index the planner picks BuildRight, so
    // the pair loop runs in THIS side's partitions; a single-row-group
    // probe input would serialize it on one core (r19 measured: sf0.1
    // exec 1.89 → 0.5 s, sf1 probe 7.7 → 6.2 s; guarded no-op for a
    // corpus-scale probe side, which arrives in thousands of splits)
    pairTopKAssigned(spread(left), assignedRight, idCol, vecCol, model, k, nprobe,
        tagCol = None)
      .select(col("__lid").as(idCol), col("__rid").as("nn_id"),
        col("__rn").as("rank"))
  }

  /** The shared candidate-pair/top-k pipeline behind [[knnJoin]] and
    * [[hardNegatives]] (one builder, r18's spread fix had to land twice):
    * assign + spread the list side, explode each probe row's nprobe
    * nearest centroids in one codegen projection, equi-join on
    * centroid_id with the exclusion predicate (self-id, or same-tag when
    * `tagCol` is set — BEFORE the top-k so excluded rows never eat rank
    * slots), then the exact per-left top-k.
    *
    * The top-k runs on [[graft.plans.HeapTopK]] rather than a
    * `row_number` window: Catalyst's WindowGroupLimit chain SORTS the
    * full |L|·|R|·nprobe/k_centroids candidate stream per partition
    * (O(n log n) + spill — the measured ~6 s warm floor at sf1) where
    * per-group bounded heaps pay O(n log k) and shuffle only the
    * per-partition survivors. Candidates are projected to three slim
    * columns (lid, rid, score) first, so heap retention is 24 bytes/row
    * × groups × k per partition. Scores stay bit-identical: CosinePre is
    * computed once in the join's codegen stage and the heap compares
    * with the catalyst RowOrdering over the same
    * (score DESC NULLS LAST, rid ASC) SortOrders a window would use.
    *
    * squared norms are per-ROW constants: hoist them out of the
    * |L|·|R|·nprobe/k candidate pair loop (CosinePre pays only the dot —
    * bit-identical to CosineSim on fixed-dim vectors, ~3× less pair
    * arithmetic), carried as one DOUBLE column through the shuffle.
    */
  private def pairTopK(left: DataFrame, right: DataFrame, idCol: String,
                       vecCol: String, model: Model, k: Int, nprobe: Int,
                       tagCol: Option[String]): DataFrame = {
    val rightCols =
      Seq(col(idCol).cast("long").as("__rid"), col(vecCol).as("__rvec")) ++
        tagCol.map(t => col(t).as("__rtag")) ++ Seq(
        graft.functions.CdcExpressions.vecNormSq(col(vecCol)).as("__rn2"),
        graft.functions.CdcExpressions.nearestCentroid(col(vecCol), model.centroids)
          .as("centroid_id"))
    pairTopKAssigned(left, spread(right).select(rightCols: _*),
      idCol, vecCol, model, k, nprobe, tagCol)
  }

  /** The probe half of [[pairTopK]], over a list side ALREADY in the slim
    * assigned shape (`__rid`, `__rvec`, [`__rtag`,] `__rn2`, `centroid_id`)
    * — shared by the assign-inline path and [[knnJoinIndexed]]'s persisted
    * read, so the probe plan cannot drift between them.
    */
  private def pairTopKAssigned(left: DataFrame, assignedRight: DataFrame,
                               idCol: String, vecCol: String, model: Model,
                               k: Int, nprobe: Int,
                               tagCol: Option[String]): DataFrame = {
    // each probe row's nprobe nearest centroids (score DESC, cid ASC) in
    // ONE codegen'd call — the centroid matrix rides as a plan reference
    // object, so the probe projection stays O(1) plan nodes no matter how
    // k_centroids is sized (a deployment grows it with the corpus; a
    // per-centroid literal struct tree would break codegen at large k)
    val probeCols =
      Seq(col(idCol).cast("long").as("__lid"), col(vecCol).as("__lvec")) ++
        tagCol.map(t => col(t).as("__ltag")) ++ Seq(
        graft.functions.CdcExpressions.vecNormSq(col(vecCol)).as("__ln2"),
        explode(graft.functions.CdcExpressions.nearestCentroids(
          col(vecCol), model.centroids, nprobe)).as("centroid_id"))
    // the probe side keeps its source partitioning HERE: the inline-assign
    // callers (knnJoin/hardNegatives) run under a broadcast-PROBE plan
    // where the pair loop lives in the spread list side — r19 measured
    // that also spreading this side regresses them at sf1 (q_knn_join
    // 6.2 → 8.7 s, q_hard_negatives 7.2 → 9.8 s isolated probes: the
    // exchange feeds a subtree the planner BROADCASTS, pure cost).
    // [[knnJoinIndexed]] spreads its own left input instead — under its
    // compact persisted index the planner flips to BuildRight and the
    // pair loop lands in the probe side's partitions.
    val probes = left.select(probeCols: _*)
    val exclude = tagCol match {
      case Some(_) => col("__rtag") =!= col("__ltag") // excludes self too
      case None => col("__rid") =!= col("__lid")
    }
    val candidates = probes.join(assignedRight, "centroid_id")
      .where(exclude)
      .select(col("__lid"), col("__rid"),
        graft.functions.CdcExpressions.cosinePre(col("__lvec"), col("__rvec"),
          col("__ln2"), col("__rn2")).as("__score"))
    graft.plans.HeapTopK.topKPerGroup(candidates, Seq(col("__lid")),
      Seq(col("__score").desc, col("__rid")), k, rankCol = "__rn")
  }

  /** Hard-negative mining: each vector's k nearest neighbors among rows
    * with a DIFFERENT `tagCol` (label / source / document id — whatever
    * defines "positive"). The exclusion happens BEFORE the per-left top-k
    * heap, not after — a same-tag neighbor must not eat a rank slot (the
    * post-filter formulation silently returns < k negatives near dense
    * positives). Same plan shape as [[knnJoin]]: IVF-pruned candidates,
    * the tag rides the slim probe/list rows, [[graft.plans.HeapTopK]]
    * bounded heaps.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String, tagCol: String,
                    model: Model, k: Int, nprobe: Int = 4): DataFrame =
    pairTopK(df, df, idCol, vecCol, model, k, nprobe, tagCol = Some(tagCol))
      .select(col("__lid").as(idCol), col("__rid").as("neg_id"),
        col("__rn").as("rank"))

  private val What = "IVF index"

  /** Persist the index `partitionBy(centroid_id)` plus the centroids as a
    * tiny side table, one [[IndexMaintenance]] build. At 100 TB this is what
    * makes IVF an INDEX rather than a plan: a query's `centroid_id IN
    * (probes)` filter prunes at the FILE LISTING, so only nprobe/k of the
    * data is ever read (assert via the scan's `PartitionFilters` —
    * PlanInvariantsSpec does).
    */
  def writeIndex(assigned: DataFrame, model: Model, path: String): Unit =
    IndexMaintenance.build(assigned.sparkSession, path) { fresh =>
      assigned
        .repartition(col("centroid_id")) // one writer wave per list, no small files
        .write.partitionBy("centroid_id").parquet(s"$path/${fresh("lists")}")
      writeCentroids(assigned.sparkSession, model, s"$path/${fresh("centroids")}")
      0
    }

  private def writeCentroids(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "centroid")
      .repartition(1)
      .write.parquet(dir)
  }

  /** Reload a persisted index's model: only the k centroids are collected
    * to the driver. The centroids never change after the build (appends
    * assign with the EXISTING model; re-training is a rebuild, see
    * [[compactIndexSq8]]).
    */
  def readModel(spark: SparkSession, path: String): Model =
    modelOf(spark, path, IndexMaintenance.current(spark, path, What))

  private def modelOf(spark: SparkSession, path: String, idx: IndexMaintenance.Index): Model = {
    import spark.implicits._
    Model(IndexMaintenance.read(spark, path, idx, "centroids")
      .select("centroid_id", "centroid").as[(Int, Seq[Float])]
      .collect().sortBy(_._1).map(_._2.toArray))
  }

  /** Reload a persisted index: (assigned lists, model), both of one
    * manifest. Only the k centroids are collected to the driver.
    */
  def readIndex(spark: SparkSession, path: String): (DataFrame, Model) = {
    val idx = IndexMaintenance.current(spark, path, What)
    (IndexMaintenance.read(spark, path, idx, "lists"), modelOf(spark, path, idx))
  }

  /** Persist an IVF-SQ8 index (the Faiss `IVF,SQ8` layout): inverted lists
    * partitioned by `centroid_id` storing uint8 codes + per-vector
    * (vmin, scale) instead of the float vectors. A probe prunes to
    * nprobe/k of the FILES (partition filter at the listing, like
    * [[writeIndex]]) and then scans 1/4 of the BYTES (codes, not floats) —
    * the two scale levers compose. Quantization reuses the exact
    * [[Similarity.sq8Quant]] expression shapes, so an oracle can replay it.
    */
  def writeIndexSq8(df: DataFrame, idCol: String, vecCol: String, model: Model,
                    path: String): Unit =
    IndexMaintenance.build(df.sparkSession, path) { fresh =>
      sq8Codes(df, idCol, vecCol, model)
        .write.partitionBy("centroid_id").parquet(s"$path/${fresh("lists")}")
      writeCentroids(df.sparkSession, model, s"$path/${fresh("centroids")}")
      0
    }

  /** The quantized list rows of `df` under `model`, one write wave per list. */
  private def sq8Codes(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val (vmin, scale, codes) = Similarity.sq8Quant(col(vecCol))
    assign(df, idCol, vecCol, model)
      .select(col(idCol), col("centroid_id"),
        vmin.as("vmin"), scale.as("scale"), codes.as("codes"))
      .repartition(col("centroid_id"))
  }

  /** Append a batch of vectors to a persisted IVF-SQ8 index: assign with
    * the EXISTING centroids (read from the index — appending must not move
    * the quantizer under concurrent probes), quantize with the same
    * [[Similarity.sq8Quant]] shapes, and land the codes as a fresh lists dir
    * with its own `centroid_id=` partition dirs, published beside the
    * existing ones ([[IndexMaintenance.append]]). The growth path of a
    * 100 TB embedding store: per-batch cost is one narrow codegen pass over
    * the BATCH (assign + quantize) plus one write wave per touched list —
    * the index is never rewritten. Drift care: vectors far from every
    * centroid still land in their nearest list (recall decays gracefully);
    * re-training is a REBUILD, not an append — see [[compactIndexSq8]].
    */
  def appendToIndexSq8(df: DataFrame, idCol: String, vecCol: String, path: String): Unit =
    IndexMaintenance.append(df.sparkSession, path, What) { (base, fresh) =>
      sq8Codes(df, idCol, vecCol, modelOf(df.sparkSession, path, base))
        .write.partitionBy("centroid_id").parquet(s"$path/${fresh("lists")}")
    }

  /** Compact a persisted IVF/IVF-SQ8 index: rewrite its lists from the list
    * dirs it read, coalescing the one-dir-per-append accumulation back to
    * one wave per list (a year of hourly appends is ~9k files per
    * partition — the listing, not the bytes, becomes the probe cost). The
    * rewrite replaces exactly those dirs; appends that published meanwhile
    * keep theirs ([[IndexMaintenance.compact]]).
    *
    * Deliberately does NOT re-train: new centroids re-partition EVERY code
    * (a full rebuild, not a compaction) and invalidate concurrent probes'
    * centroid snapshots mid-flight. To re-train, build a fresh index with
    * [[train]]+[[writeIndexSq8]] at a new path and flip the reader.
    */
  def compactIndexSq8(spark: SparkSession, path: String): Unit =
    IndexMaintenance.compact(spark, path, What, Seq("lists")) { (base, fresh) =>
      IndexMaintenance.read(spark, path, base, "lists")
        .repartition(col("centroid_id"))
        .write.partitionBy("centroid_id").parquet(s"$path/${fresh("lists")}")
    }

  /** Query an IVF-SQ8 index: probe the nprobe nearest lists (file-listing
    * pruning), rank the probed codes by the dequantized approximate dot,
    * then exact-rescore only the top `rerank` ids against the FULL vectors
    * — their ids push down as an IN filter (row-group pruning on the float
    * table, the same slim-candidate join shape as the MinHash index
    * verify). Driver state: k centroids + `rerank` candidate ids.
    */
  def topKSq8(spark: SparkSession, path: String, full: DataFrame,
              idCol: String, vecCol: String, query: Array[Float], k: Int,
              nprobe: Int = 4, rerank: Int = 40): DataFrame = {
    import spark.implicits._
    val (all, model) = readIndex(spark, path)
    val probes = model.nearest(query, nprobe)
    val lists = all.where(col("centroid_id").isin(probes: _*))
    val approx = Similarity.sq8ApproxDot(col("vmin"), col("scale"), col("codes"), query)
    val candIds = lists.select(col(idCol), approx.as("__approx"))
      .orderBy(col("__approx").desc, col(idCol)).limit(rerank)
      .select(col(idCol)).as[Long].collect()
    full.select(col(idCol).cast("long").as(idCol), col(vecCol))
      .where(col(idCol).isin(candIds: _*))
      .select(col(idCol), Similarity.cosineCol(col(vecCol), query).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
      .select(col(idCol))
  }
}
