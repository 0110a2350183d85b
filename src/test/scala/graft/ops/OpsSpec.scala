package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("minhash estimated jaccard tracks exact jaccard on crafted texts") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z"
    val far = (100 to 160).map(i => s"tok$i").mkString(" ")
    val sigA = Dedup.minhashSignature(Dedup.shingleHashes(base, 3), 128)
    val sigB = Dedup.minhashSignature(Dedup.shingleHashes(near, 3), 128)
    val sigC = Dedup.minhashSignature(Dedup.shingleHashes(far, 3), 128)
    val exactAB = Dedup.exactJaccard(Dedup.shingleHashes(base, 3), Dedup.shingleHashes(near, 3))
    assert(math.abs(Dedup.estimatedJaccard(sigA, sigB) - exactAB) < 0.15)
    assert(Dedup.estimatedJaccard(sigA, sigC) < 0.1)
    assert(Dedup.estimatedJaccard(sigA, sigA) === 1.0)
  }

  test("minhashCandidates finds planted near-duplicates and nothing else") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again every day"),
      (2L, "the quick brown fox jumps over the lazy dog again and again every night"), // near-dup of 1
      (3L, "completely different content about spark catalyst optimizer internals here"),
      (4L, "completely different content about spark catalyst optimizer internals here")) // exact dup of 3
    val df = texts.toDF("id", "text")
    val pairs = Dedup.minhashCandidates(df, "id", "text", threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))
  }

  test("spanProfile: embedded cross-doc boilerplate covered exactly; within-doc repeats don't count") {
    val boiler = "b1 b2 b3 b4 b5" // 5-token span shared by docs 1 and 2
    val df = Seq(
      (1L, s"u1 u2 u3 $boiler u4 u5"),       // 10 tokens, positions 3-7 shared
      (2L, s"v1 $boiler v2 v3 v4 v5 v6"),    // 11 tokens, positions 1-5 shared
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),       // unique
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4"))       // repeats WITHIN itself only
      .toDF("doc_id", "text")
    val out = Dedup.spanProfile(df, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3))).toMap
    // k=4 windows over the 5-token boilerplate: starts 3,4 in doc 1 →
    // union covers tokens 3..7 = 5 tokens
    assert(out(1L) === ((10, 5L, 0.5)))
    assert(out(2L) === ((11, 5L, 5.0 / 11.0)))
    assert(out(3L) === ((8, 0L, 0.0)))
    // distinct-doc rule: a span repeated only within one doc is Repetition's
    // job, not span dedup's
    assert(out(4L) === ((8, 0L, 0.0)))
  }

  test("spanProfile coverage union is partitioning-invariant and bounded by n_tokens") {
    val docs = (1L to 60L).map { i =>
      (i, (1 to 30).map(j => s"t${(i * 7 + j) % 40}").mkString(" ")) // overlapping vocab → shared spans
    }
    val a = Dedup.spanProfile(docs.toDF("doc_id", "text"), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val b = Dedup.spanProfile(docs.toDF("doc_id", "text").repartition(7), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(a === b)
    val n = Dedup.spanProfile(docs.toDF("doc_id", "text"), "doc_id", "text", k = 5)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    n.foreach { case (nt, dt) => assert(dt >= 0L && dt <= nt) }
  }

  test("textTopK ranks the planted near-dup first and matches driver-side estimates") {
    val query = "the quick brown fox jumps over the lazy dog again and again every day"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again every night"),
      (2L, "completely different content about spark catalyst optimizer internals here"),
      (3L, "the quick brown fox jumps over the lazy dog again and again every day"), // exact match
      (4L, "another unrelated document mentioning nothing shared with the query at all"))
    val out = Dedup.textTopK(corpus.toDF("id", "text"), "id", "text", query, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // exact match first with est 1.0, near-dup second
    assert(out.head === (3L, 1.0))
    assert(out(1)._1 === 1L && out(1)._2 > 0.5)
    // distributed estimates equal the driver-side signature math per id
    val qsig = Dedup.minhashSignature(Dedup.shingleHashes(query, 3), 128)
    val expected = corpus.map { case (id, txt) =>
      id -> Dedup.estimatedJaccard(
        Dedup.minhashSignature(Dedup.shingleHashes(txt, 3), 128), qsig)
    }.toMap
    out.foreach { case (id, est) => assert(est === expected(id)) }
  }

  test("minhashDedup keeps the smaller id of each dup cluster") {
    val df = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (30L, "unrelated text that shares nothing with the others at all ok")).toDF("id", "text")
    val out = Dedup.minhashDedup(df, "id", "text", threshold = 0.8)
      .select("id").as[Long].collect().toSet
    assert(out === Set(10L, 30L))
  }

  test("semanticSurvivors keeps one representative per embedding near-dup chain") {
    // 1≈2≈3 (tiny perturbations of one direction), 4 orthogonal-ish
    val df = Seq(
      (1L, Array(1f, 0.00f, 0f, 0f)),
      (2L, Array(1f, 0.01f, 0f, 0f)),
      (3L, Array(1f, 0.02f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f))).toDF("id", "v")
    val out = Dedup.semanticSurvivors(df, "id", "v", numPlanes = 4, threshold = 0.99)
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 4L))
  }

  test("simhash hamming distance is small for near-identical token sets") {
    val a = Dedup.simhash64("alpha beta gamma delta epsilon zeta eta theta")
    val b = Dedup.simhash64("alpha beta gamma delta epsilon zeta eta thetax")
    val c = Dedup.simhash64("one two three four five six seven eight")
    assert(java.lang.Long.bitCount(a ^ b) < java.lang.Long.bitCount(a ^ c))
    assert(Dedup.simhash64("same text") === Dedup.simhash64("same text"))
  }

  test("exact dedup counts duplicates per normalized key") {
    val df = Seq((1L, "A  b"), (2L, "a b"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exact(df, "id", graft.ops.TextAnalysis.fingerprint(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 3L -> 1L))
  }

  test("exactPairs lists every (a<b) duplicate pair, clusters included") {
    val df = Seq((1L, "A  b"), (2L, "a b"), (5L, "a B "), (3L, "other"), (4L, "unique"))
      .toDF("id", "text")
    val out = Dedup.exactPairs(df, "id", graft.ops.TextAnalysis.fingerprint(col("text")))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(out === Seq((1L, 2L), (1L, 5L), (2L, 5L))) // 3-doc cluster → 3 pairs
  }

  test("exactPairs drops degenerate clusters above maxClusterSize") {
    // one boilerplate fingerprint shared by 100 docs (the empty-text web-scale
    // case) must produce ZERO pairs, not a quadratic explosion; a small real
    // cluster in the same frame still reports its pairs
    val degenerate = (1L to 100L).map(i => (i, ""))
    val real = Seq((200L, "dup text"), (201L, "dup  TEXT"))
    val df = (degenerate ++ real).toDF("id", "text")
    val out = Dedup.exactPairs(df, "id", graft.ops.TextAnalysis.fingerprint(col("text")),
        maxClusterSize = 64)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(out === Seq((200L, 201L)))
  }

  test("exactSurvivors keeps the min-id full row per fingerprint") {
    val df = Seq((2L, "a b", "x"), (1L, "A  b", "y"), (3L, "other", "z"))
      .toDF("id", "text", "extra")
    val out = Dedup.exactSurvivors(df, "id", graft.ops.TextAnalysis.fingerprint(col("text")))
      .select("id", "extra").as[(Long, String)].collect().toSeq.sorted
    assert(out === Seq((1L, "y"), (3L, "z")))
  }

  test("paragraphDedup keeps the first occurrence of each paragraph and document order") {
    val boiler = "shared legal footer text"
    val df = Seq(
      (1L, s"unique one\n\n$boiler\n\nunique two"),
      (2L, s"$boiler\n\nfresh paragraph here"),
      (3L, s"$boiler"), // all-boilerplate doc disappears
      (4L, s"unique one\n\nlast unique")) // "unique one" seen in doc 1
      .toDF("id", "text")
    val out = Dedup.paragraphDedup(df, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> s"unique one\n\n$boiler\n\nunique two",
      2L -> "fresh paragraph here",
      4L -> "last unique"))
  }

  test("paragraphDedup normalizes whitespace/case for matching but keeps original text") {
    val df = Seq(
      (1L, "Alpha  Beta"),
      (2L, "alpha beta\n\nkept paragraph")) // first para is a normalized dup of doc 1
      .toDF("id", "text")
    val out = Dedup.paragraphDedup(df, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "Alpha  Beta", 2L -> "kept paragraph"))
  }

  test("persisted minhash index: incremental batch finds planted near-dup and prunes the listing") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again every day"),
      (2L, "completely different content about spark catalyst optimizer internals here"),
      (3L, "a third unrelated document describing shuffle partitions and codegen stages"))
      .toDF("id", "text")
    val dir = tempDir("graft-mhidx")
    try {
      Dedup.writeMinhashIndex(corpus, "id", "text", dir)
      val batch = Seq(
        (100L, "the quick brown fox jumps over the lazy dog again and again every night"),
        (200L, "entirely novel text sharing no shingles with anything indexed before now ok"))
        .toDF("id", "text")
      val got = Dedup.incrementalCandidates(batch, "id", "text", dir, threshold = 0.5)
        .select("id", "dup_of").as[(Long, Long)].collect().toSet
      assert(got === Set((100L, 1L)))
      // admission filter: the near-dup is refused, the novel doc admitted
      val kept = Dedup.incrementalDedup(batch, "id", "text", dir, threshold = 0.5)
        .select("id").as[Long].collect().toSet
      assert(kept === Set(200L))
      // the batch's own band keys must prune the bucket scan at the file
      // listing: one doc → ≤ 32 band keys → ≤ 32 of the 64 disk partitions
      // (asserted on the lazy probe — incrementalCandidates pins its result)
      val one = Dedup.indexProbe(batch.where(col("id") === 100L), "id", "text", dir)
      // the joins wrap the scan in AQE stages — recurse through them
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val scanned = scans(one.queryExecution.executedPlan).collectFirst {
        case f if f.relation.location.rootPaths.exists(_.toString.contains("buckets")) =>
          f.selectedPartitions.partitionCount
      }
      assert(scanned.exists(_ <= 32), s"expected <= 32 pruned partitions, got $scanned")
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("minhash index layout meta: probe follows the on-disk layout, not its own constant") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again every day"),
      (2L, "completely different content about spark catalyst optimizer internals here"))
      .toDF("id", "text")
    val dir = tempDir("graft-mhmeta")
    try {
      // build with an EXPLICIT 8-partition layout; the manifest must pin it
      Dedup.writeMinhashIndex(corpus, "id", "text", dir, numPartitions = 8)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      assert(IndexMaintenance.current(spark, dir, "index").partitions === 8)
      val batch = Seq(
        (100L, "the quick brown fox jumps over the lazy dog again and again every night"))
        .toDF("id", "text")
      // the probe takes no modulus: it hashes with the manifest's
      val got = Dedup.incrementalCandidates(batch, "id", "text", dir, threshold = 0.5)
        .select("id", "dup_of").as[(Long, Long)].collect().toSet
      assert(got === Set((100L, 1L)))
      // Auto build on a small corpus derives a single partition dir
      val dir2 = tempDir("graft-mhmeta2")
      try {
        Dedup.writeMinhashIndex(corpus, "id", "text", dir2)
        val idx = IndexMaintenance.current(spark, dir2, "index")
        val parts = idx("buckets").flatMap(d => fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir2/$d")))
          .count(_.getPath.getName.startsWith("pbucket="))
        assert(idx.partitions === 1 && parts === 1, s"small corpus must derive one bucket partition, got $parts")
      } finally { val _ = fs.delete(new org.apache.hadoop.fs.Path(dir2), true) }
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("paragraphDedup is invariant under re-partitioning") {
    // second paragraph is a case-variant of the first: a normalized dup both
    // within the doc and across docs — the survivor set must not depend on
    // physical partitioning
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id AS id", "concat(text, '\n\n', upper(text)) AS text")
    val a = Dedup.paragraphDedup(docs, "id", "text")
      .as[(Long, String)].collect().toMap
    val b = Dedup.paragraphDedup(docs.repartition(11), "id", "text")
      .as[(Long, String)].collect().toMap
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("streaming ingest with index admission: later batches dedup against admitted docs") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val dir = tempDir("graft-ingest")
    try {
      Dedup.writeMinhashIndex(
        Seq((1L, "the quick brown fox jumps over the lazy dog again and again every day"))
          .toDF("id", "text"), "id", "text", dir)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val admitted = scala.collection.mutable.ArrayBuffer[Long]()
      val q = mem.toDF().toDF("id", "text").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // incrementalDedup settles its admission decision eagerly, so the
          // append below can mutate the index files it just read
          val keep = Dedup.incrementalDedup(batch, "id", "text", dir, threshold = 0.5)
          admitted ++= keep.select("id").as[Long].collect()
          Dedup.appendToMinhashIndex(keep, "id", "text", dir)
        }
        .start()
      mem.addData(
        (10L, "the quick brown fox jumps over the lazy dog again and again every night"),
        (11L, "completely different content about spark catalyst optimizer internals here"))
      q.processAllAvailable()
      mem.addData(
        (20L, "completely different content about spark catalyst optimizer internals now"),
        (21L, "a third unrelated document describing shuffle partitions and codegen stages"))
      q.processAllAvailable()
      q.stop()
      // 10 refused vs the seed; 20 refused vs doc 11 ADMITTED IN BATCH 1 —
      // the cross-batch index growth is the thing under test
      assert(admitted.toSet === Set(11L, 21L))
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("incremental dedup tolerates an empty micro-batch (streaming loops see these)") {
    val dir = tempDir("graft-mhempty")
    try {
      Dedup.writeMinhashIndex(
        Seq((1L, "some indexed document about spark plans and shuffles ok")).toDF("id", "text"),
        "id", "text", dir)
      val empty = Seq.empty[(Long, String)].toDF("id", "text")
      assert(Dedup.incrementalCandidates(empty, "id", "text", dir).count() === 0)
      assert(Dedup.incrementalDedup(empty, "id", "text", dir).count() === 0)
      Dedup.appendToMinhashIndex(empty, "id", "text", dir) // no-op, not a crash
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("index compaction drops buckets that drifted past the cap across appends") {
    val dir = tempDir("graft-compact")
    try {
      val seedText = "unrelated seed document about shuffle partitions and stages ok then"
      Dedup.writeMinhashIndex(Seq((1L, seedText)).toDF("id", "text"), "id", "text", dir)
      val flood = "identical boilerplate paragraph repeated across the whole web forever"
      // two waves of 40 identical docs: each passes the per-wave cap (64),
      // the 80-member aggregate is degenerate
      Dedup.appendToMinhashIndex(
        (100L to 139L).map((_, flood)).toDF("id", "text"), "id", "text", dir)
      Dedup.appendToMinhashIndex(
        (200L to 239L).map((_, flood)).toDF("id", "text"), "id", "text", dir)
      val probe = Seq((999L, flood)).toDF("id", "text")
      assert(Dedup.indexProbe(probe, "id", "text", dir).count() === 80)
      Dedup.compactMinhashIndex(spark, "id", dir)
      assert(Dedup.indexProbe(probe, "id", "text", dir).count() === 0)
      // a healthy singleton bucket survives compaction
      val seedProbe = Seq((998L, seedText)).toDF("id", "text")
      assert(Dedup.incrementalCandidates(seedProbe, "id", "text", dir, threshold = 0.5)
        .count() === 1)
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("connectedComponents: chain collapses to one cluster, isolated pair to another") {
    // 1-2-3-4-5 is a diameter-4 chain (multiple propagation rounds needed);
    // 10-11 is a separate component
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), (10L, 11L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents refuses to return a truncated fixpoint") {
    // a diameter-9 chain cannot converge in 2 rounds — must fail loudly,
    // never silently hand wrong cluster ids to a destructive dedup
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain collapses to one component
    val ok = Dedup.connectedComponents(chain, maxIter = 20)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet === Set(1L))
  }

  test("minhashClusters groups a transitive near-dup triple under the min id") {
    val a = "the quick brown fox jumps over the lazy dog again and again every day ok"
    val df = Seq(
      (7L, a), (8L, a), (9L, a), // mutual near-dups -> one cluster, id 7
      (1L, "completely different content about spark catalyst optimizer internals"))
      .toDF("id", "text")
    val out = Dedup.minhashClusters(df, "id", "text", threshold = 0.8)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(7L -> 7L, 8L -> 7L, 9L -> 7L))
  }
}

/** Property tests (fixed seeds — deterministic): the dedup operators must
  * agree with brute-force reference semantics on randomized inputs.
  */
class DedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  test("paragraphDedup agrees with brute-force first-occurrence and is idempotent") {
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps") // tiny vocab → frequent dups
    for (round <- 1 to 3) {
      val docs = (0L until 40L).map { i =>
        val ps = Seq.fill(1 + rnd.nextInt(4)) {
          Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        }
        (i, ps.mkString("\n\n"))
      }
      val got = Dedup.paragraphDedup(docs.toDF("id", "text"), "id", "text")
        .as[(Long, String)].collect().toMap

      def norm(p: String) = p.trim.toLowerCase.replaceAll("\\s+", " ")
      val seen = scala.collection.mutable.Set[String]()
      val expected = docs.flatMap { case (id, text) =>
        val kept = text.split("\n\n").filter(_.trim.nonEmpty).filter(p => seen.add(norm(p)))
        if (kept.isEmpty) None else Some(id -> kept.mkString("\n\n"))
      }.toMap
      assert(got === expected, s"round $round")

      // a dedup of the dedup changes nothing
      val twice = Dedup.paragraphDedup(got.toSeq.toDF("id", "text"), "id", "text")
        .as[(Long, String)].collect().toMap
      assert(twice === got, s"round $round idempotence")
    }
  }

  test("connectedComponents agrees with brute-force union-find on random graphs") {
    for (round <- 1 to 3) {
      val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap

      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // union-by-min
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map(n => n -> find(n)).toMap
      assert(got === expected, s"round $round")
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosineCol matches scala cosine") {
    val vecs = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0.6f, 0.8f, 0f)), (3L, Array(0f, 0f, 1f)))
    val df = vecs.toDF("id", "v")
    val q = Array(1f, 0f, 0f)
    val got = df.select(col("id"), Similarity.cosineCol(col("v"), q).as("s"))
      .as[(Long, Double)].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(math.abs(got(id) - Similarity.cosine(v, q)) < 1e-9)
    }
  }

  test("bruteForceTopK returns ids in descending similarity order") {
    val df = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)))
      .toDF("id", "v")
    val top = Similarity.bruteForceTopK(df, "id", "v", Array(1f, 0f), 2)
      .select("id").as[Long].collect().toSeq
    assert(top === Seq(1L, 2L))
  }

  test("lshTopK recall: planted duplicate vector is always found") {
    val dim = 16
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((Dedup.mix64(i.toLong * 31 + d) % 1000) / 1000.0f)))
    }
    val query = vecs(7)._2
    val df = vecs.toDF("id", "v")
    val bucketed = Similarity.withBuckets(df, "id", "v", numPlanes = 6)
    val top = Similarity.lshTopK(bucketed, "id", "v", query, 1, numPlanes = 6)
      .select("id").as[Long].collect()
    assert(top.headOption.contains(7L)) // its own bucket always probed
  }

  test("sq8TopK: exact re-rank recovers the brute-force top-k; constant vectors survive") {
    val dim = 16
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((Dedup.mix64(i.toLong * 31 + d) % 1000) / 1000.0f)))
    } :+ (200L, Array.fill(dim)(0.5f)) // range-0 vector: codes all zero, scale 0
    val query = vecs(7)._2
    val df = vecs.toDF("id", "v")
    val sq8 = Similarity.sq8TopK(df, "id", "v", query, k = 10, rerank = 40)
      .as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, "id", "v", query, 10)
      .select("id").as[Long].collect().toSeq
    assert(sq8.head === 7L)
    // 8-bit quantization error is tiny relative to cosine gaps here; the
    // 4x-rerank window recovers the exact top-k ordering
    assert(sq8 === brute)
  }

  test("projectedTopK: JL re-rank recovers the brute-force top-k") {
    val dim = 32
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((Dedup.mix64(i.toLong * 31 + d) % 1000) / 1000.0f)))
    }
    val query = vecs(7)._2
    val df = vecs.toDF("id", "v")
    val proj = Similarity.projectedTopK(df, "id", "v", query, k = 10,
        outDim = 12, rerank = 60)
      .as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, "id", "v", query, 10)
      .select("id").as[Long].collect().toSeq
    assert(proj.head === 7L) // the planted identical vector survives projection
    // approximate stage: a 6x-rerank window at 12 dims must carry most of
    // the true top-10 (JL distortion loses the odd boundary id, not the set)
    assert(proj.toSet.intersect(brute.toSet).size >= 8, s"$proj vs $brute")
    // with the rerank window covering every row, the exact re-score IS
    // brute force — the approximate stage must only reorder, never drop
    val full = Similarity.projectedTopK(df, "id", "v", query, k = 10,
        outDim = 12, rerank = 200)
      .as[Long].collect().toSeq
    assert(full === brute)
  }

  test("pq topK: planted duplicate first; full-rerank equals brute force; codes pack 4 bits") {
    val dim = 32
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((Dedup.mix64(i.toLong * 31 + d) % 1000) / 1000.0f)))
    }
    val query = vecs(7)._2
    val df = vecs.toDF("id", "v")
    val model = Pq.train(df, "id", "v", m = 4, k = 16, iters = 2)
    assert(model.m === 4 && model.k === 16 && model.ds === 8)
    val pq = Pq.topK(df, "id", "v", model, query, k = 10, rerank = 60)
      .as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, "id", "v", query, 10)
      .select("id").as[Long].collect().toSeq
    assert(pq.head === 7L) // the planted identical vector wins ADC + re-rank
    assert(pq.toSet.intersect(brute.toSet).size >= 7, s"$pq vs $brute")
    // rerank window covering every row: the exact re-score IS brute force
    val full = Pq.topK(df, "id", "v", model, query, k = 10, rerank = 200)
      .as[Long].collect().toSeq
    assert(full === brute)
    // codes honor the 4-bit packing: every nibble below k
    val codes = Pq.encode(df, "id", "v", model).select("codes").as[Long].collect()
    assert(codes.forall(c => (0 until 4).forall(j => ((c >>> (4 * j)) & 0xFL) < 16)))
    // training is deterministic (fixed seeding + fixed iteration count)
    val model2 = Pq.train(df.repartition(7), "id", "v", m = 4, k = 16, iters = 2)
    assert(model.codebooks.flatten.map(_.toSeq).toSeq ===
      model2.codebooks.flatten.map(_.toSeq).toSeq)
  }

  test("pq adcTable approximates the true dot within quantization error") {
    val dim = 32
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((Dedup.mix64(i.toLong * 17 + d) % 1000) / 1000.0f)))
    }
    val df = vecs.toDF("id", "v")
    val model = Pq.train(df, "id", "v", m = 4, k = 16, iters = 2)
    val query = vecs(3)._2
    val table = model.adcTable(query)
    val approx = Pq.encode(df, "id", "v", model)
      .select(col("id"), graft.functions.CdcExpressions
        .pqAdcDot(col("codes"), table, model.m, model.k).as("a"))
      .as[(Long, Double)].collect().toMap
    val exactDots = vecs.map { case (id, v) =>
      id -> v.zip(query).map { case (a, b) => a.toDouble * b }.sum }.toMap
    // mean absolute ADC error small relative to the dot magnitudes
    val errs = vecs.map { case (id, _) => math.abs(approx(id) - exactDots(id)) }
    val scale = exactDots.values.map(math.abs).max
    assert(errs.sum / errs.size < 0.15 * scale, s"mean err ${errs.sum / errs.size} vs $scale")
  }

  test("signProjection is deterministic; project matches the codegen expression") {
    val m1 = Similarity.signProjection(8, 16, 42L)
    val m2 = Similarity.signProjection(8, 16, 42L)
    assert(m1.map(_.toSeq).toSeq === m2.map(_.toSeq).toSeq)
    assert(m1.flatten.forall(f => f == 1.0f || f == -1.0f))
    val v = Array.tabulate(16)(i => (i * 0.37f) - 2f)
    val viaExpr = Seq(Tuple1(v)).toDF("v")
      .select(graft.functions.CdcExpressions.projectVec(col("v"), m1).as("p"))
      .as[Seq[Float]].head()
    assert(viaExpr === Similarity.project(v, m1).toSeq)
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (0 until 300).map { i =>
    (i.toLong, Array.tabulate(8)(d => ((Dedup.mix64(i.toLong * 17 + d) % 1000) / 1000.0f)))
  }

  test("train/assign/topK: planted duplicate always found; recall vs brute force is high") {
    val df = vecs.toDF("id", "v")
    val model = Ivf.train(df, "id", "v", k = 8, iters = 2)
    assert(model.centroids.length === 8)
    val assigned = Ivf.assign(df, "id", "v", model).cache()
    assert(assigned.select("centroid_id").distinct().count() > 1)

    val query = vecs(42)._2
    val ivfTop = Ivf.topK(assigned, "id", "v", model, query, 10, nprobe = 3)
      .select("id").as[Long].collect().toSeq
    assert(ivfTop.head === 42L) // its own list is always probed

    val bruteTop = Similarity.bruteForceTopK(df, "id", "v", query, 10)
      .select("id").as[Long].collect().toSet
    assert(ivfTop.toSet.intersect(bruteTop).size >= 6) // ≥60% recall at nprobe=3/8
  }

  test("training is deterministic") {
    val df = vecs.toDF("id", "v")
    val a = Ivf.train(df, "id", "v", k = 4, iters = 1).centroids
    val b = Ivf.train(df, "id", "v", k = 4, iters = 1).centroids
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("persisted index round-trips and queries prune at the file listing") {
    val df = vecs.toDF("id", "v")
    val model = Ivf.train(df, "id", "v", k = 8, iters = 2)
    val dir = tempDir("graft-ivf")
    try {
    Ivf.writeIndex(Ivf.assign(df, "id", "v", model), model, dir)

    val (lists, reloaded) = Ivf.readIndex(spark, dir)
    assert(reloaded.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)

    val query = vecs(42)._2
    val fresh = Ivf.topK(Ivf.assign(df, "id", "v", model), "id", "v", model, query, 10, nprobe = 3)
      .select("id").as[Long].collect().toSeq
    val persisted = Ivf.topK(lists, "id", "v", reloaded, query, 10, nprobe = 3)
    assert(persisted.select("id").as[Long].collect().toSeq === fresh)

    // the probe filter must reach the scan as a PARTITION filter (file-listing
    // pruning — only nprobe/k of a 100 TB index is read), not a data filter
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      plan.take(2000))
    val scanned = persisted.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.exists(_ <= 3), s"expected <= nprobe partitions scanned, got $scanned")
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("IVF-SQ8 index: probe recovers the planted vector and prunes the listing") {
    val df = vecs.toDF("id", "v")
    val model = Ivf.train(df, "id", "v", k = 8, iters = 2)
    val dir = tempDir("graft-ivfsq8")
    try {
      Ivf.writeIndexSq8(df, "id", "v", model, dir)
      val query = vecs(42)._2
      val got = Ivf.topKSq8(spark, dir, df, "id", "v", query, k = 10, nprobe = 3)
        .select("id").as[Long].collect().toSeq
      assert(got.head === 42L) // its own list always probed; SQ8 error tiny
      // quantized probe ≈ full-precision probe on the same lists
      val full = Ivf.topK(Ivf.assign(df, "id", "v", model), "id", "v", model,
        query, 10, nprobe = 3).select("id").as[Long].collect().toSet
      assert(got.toSet.intersect(full).size >= 8, s"sq8=$got full=$full")
      // the probe filter prunes the CODES scan at the file listing
      val lists = Ivf.readIndex(spark, dir)._1
        .where(col("centroid_id").isin(model.nearest(query, 3): _*))
      val scanned = lists.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount }
      assert(scanned.exists(_ <= 3), s"expected <= nprobe partitions, got $scanned")
      // the code rows carry no float vectors — the bandwidth win is real
      assert(!Ivf.readIndex(spark, dir)._1.columns.contains("v"))
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("knnJoin equals the single-node IVF reference exactly, and self-pairs are excluded") {
    val df = vecs.toDF("id", "v")
    val model = Ivf.train(df, "id", "v", k = 8, iters = 2)
    val got = Ivf.knnJoin(df, df, "id", "v", model, k = 3, nprobe = 3)
      .as[(Long, Long, Int)].collect().toSet
    // naive reference with the same pruning + tie-breaks
    def nearestCid(v: Array[Float]): Int =
      model.centroids.zipWithIndex
        .map { case (c, i) => (-Similarity.cosine(v, c), i) }.min._2
    val byCid = vecs.groupBy { case (_, v) => nearestCid(v) }
    val expected = vecs.flatMap { case (lid, lv) =>
      val probes = model.centroids.zipWithIndex
        .map { case (c, i) => (-Similarity.cosine(lv, c), i) }
        .sorted.take(3).map(_._2).toSet
      probes.toSeq.flatMap(byCid.getOrElse(_, Nil))
        .filter(_._1 != lid)
        .map { case (rid, rv) => (-Similarity.cosine(lv, rv), rid) }
        .sorted.take(3).zipWithIndex
        .map { case ((_, rid), ix) => (lid, rid, ix + 1) }
    }.toSet
    assert(got === expected)
    assert(got.forall { case (l, r, _) => l != r })
  }

  test("Model.nearest bounded selection equals the stable sort formulation") {
    // train's per-vector hot loop: the O(k·n) insertion pass must pick the
    // SAME ids in the SAME order as sortBy(-cos).take(n) — score DESC,
    // id ASC on ties (exercised via an exact-duplicate centroid)
    val rnd = new scala.util.Random(31)
    val cents: Array[Array[Float]] =
      Array.fill(20)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    cents(7) = cents(3).clone()
    val model = Ivf.Model(cents)
    for (_ <- 1 to 100) {
      val v = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      for (n <- Seq(1, 3, 20, 25)) { // incl. n > k
        val ref = cents.indices
          .sortBy(i => -Similarity.cosine(cents(i), v)).take(n)
        assert(model.nearest(v, n) === ref, s"n=$n")
      }
    }
  }

  test("knnJoinIndexed over a persisted index equals the inline knnJoin exactly") {
    // the deployment shape: train + assign + writeIndex once, probes read
    // the lists — bit-identical to re-assigning inline (persisted
    // centroid_id IS assign's output; floats round-trip parquet exactly;
    // readModel restores centroid order)
    val df = vecs.toDF("id", "v")
    val model = Ivf.train(df, "id", "v", k = 8, iters = 2)
    val dir = tempDir("ivf-knn-idx")
    try {
      Ivf.writeIndex(Ivf.assign(df, "id", "v", model), model, dir)
      val inline = Ivf.knnJoin(df, df, "id", "v", model, k = 3, nprobe = 3)
        .as[(Long, Long, Int)].collect().toSet
      val indexed = Ivf.knnJoinIndexed(df, dir, "id", "v", k = 3, nprobe = 3)
        .as[(Long, Long, Int)].collect().toSet
      assert(indexed === inline)
      // and the indexed plan never recomputes the corpus assignment
      // (nearest_centroid( singular — the probe side's NEAREST_CENTROIDS
      // list selection is a different expression and belongs there)
      val p = Ivf.knnJoinIndexed(df, dir, "id", "v", k = 3, nprobe = 3)
        .queryExecution.executedPlan.toString
      assert(!p.contains("nearest_centroid("), p.take(2000))
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("hardNegatives: same-tag neighbors are excluded BEFORE the top-k heap") {
    val tagged = vecs.map { case (id, v) => (id, v, (id % 3).toString) }
    val df = tagged.toDF("id", "v", "tag")
    val model = Ivf.train(df.select("id", "v"), "id", "v", k = 8, iters = 2)
    val got = Ivf.hardNegatives(df, "id", "v", "tag", model, k = 3, nprobe = 3)
      .as[(Long, Long, Int)].collect().toSet
    def nearestCid(v: Array[Float]): Int =
      model.centroids.zipWithIndex
        .map { case (c, i) => (-Similarity.cosine(v, c), i) }.min._2
    val byCid = vecs.groupBy { case (_, v) => nearestCid(v) }
    val expected = vecs.flatMap { case (lid, lv) =>
      val probes = model.centroids.zipWithIndex
        .map { case (c, i) => (-Similarity.cosine(lv, c), i) }
        .sorted.take(3).map(_._2).toSet
      probes.toSeq.flatMap(byCid.getOrElse(_, Nil))
        .filter { case (rid, _) => rid % 3 != lid % 3 } // different tag ONLY
        .map { case (rid, rv) => (-Similarity.cosine(lv, rv), rid) }
        .sorted.take(3).zipWithIndex
        .map { case ((_, rid), ix) => (lid, rid, ix + 1) }
    }.toSet
    assert(got === expected)
    assert(got.forall { case (l, r, _) => l % 3 != r % 3 })
    // the exclusion happened pre-heap: every left still gets a FULL k
    // negatives even where its absolute nearest neighbors share its tag
    val perLeft = got.groupBy(_._1).view.mapValues(_.size)
    assert(perLeft.values.forall(_ == 3))
  }

  test("knnJoin spreads a compact list side; an already-parallel side is untouched") {
    // the pair loop runs in the list side's partitions (probe side
    // broadcasts): a compact list table must spread to the session's
    // parallelism (the sf1 heavy-tail fix), but a side that already
    // carries >= that many partitions — the 100 TB shape — must NOT be
    // collapsed through one round-robin exchange
    val model = Ivf.train(vecs.toDF("id", "v"), "id", "v", k = 4, iters = 1)
    val narrow = spark.sparkContext.parallelize(vecs, 1).toDF("id", "v")
    val wide = spark.sparkContext.parallelize(vecs, 8).toDF("id", "v")
    val pNarrow = Ivf.knnJoin(narrow, narrow, "id", "v", model, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(pNarrow.contains("RoundRobinPartitioning"), pNarrow.take(2000))
    val pWide = Ivf.knnJoin(wide, wide, "id", "v", model, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!pWide.contains("RoundRobinPartitioning"), pWide.take(2000))
    // the spread is a pure parallelism change: identical results
    val a = Ivf.knnJoin(narrow, narrow, "id", "v", model, k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    val b = Ivf.knnJoin(wide, wide, "id", "v", model, k = 3, nprobe = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(a === b)
  }

  test("knnJoin over an exchange-bearing side submits ZERO jobs at plan-build time") {
    // Dataset.rdd under AQE on a plan containing exchanges eagerly runs
    // the shuffle map stages and discards the work — spread must judge
    // such inputs statically, or a caller composing knnJoin over a
    // joined/aggregated side executes its upstream pipeline TWICE
    val model = Ivf.train(vecs.toDF("id", "v"), "id", "v", k = 4, iters = 1)
    val agged = vecs.toDF("id", "v").groupBy("id")
      .agg(first("v").as("v")) // plan carries an Exchange
    var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val planned = Ivf.knnJoin(agged, agged, "id", "v", model, k = 3, nprobe = 2)
      val _ = planned.queryExecution.executedPlan // physical planning only
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs === 0, "plan construction executed the upstream pipeline")
      // and the results match the scan-shaped formulation exactly
      val viaAgg = planned.as[(Long, Long, Int)].collect().toSet
      val viaScan = Ivf.knnJoin(vecs.toDF("id", "v"), vecs.toDF("id", "v"),
        "id", "v", model, k = 3, nprobe = 2).as[(Long, Long, Int)].collect().toSet
      assert(viaAgg === viaScan)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("persisted-assignment rebalance selects the identical rows as the recomputed one") {
    // the 100 TB shape documented on Ivf.assign: both rebalance passes
    // (decision-table count + filter) read the slim persisted
    // (id, centroid_id) table instead of re-running the assignment over
    // the wide corpus — the selected row set must be IDENTICAL because
    // keep()'s md5 threshold depends only on (id, stratum, rate)
    val df = vecs.toDF("id", "v")
    val model = Ivf.train(df, "id", "v", k = 4, iters = 1)
    val assigned = Ivf.assign(df, "id", "v", model)
    val dir = tempDir("graft-ivf-rebal")
    try {
      Ivf.writeIndex(assigned, model, dir)
      val uniform = (0 until 4).map(c => c.toString -> 0.25).toMap
      val recomputed = Sampling.rebalance(assigned, col("id"), col("centroid_id"), uniform)
        .select("id").as[Long].collect().toSet
      val persisted = Sampling.rebalance(Ivf.readIndex(spark, dir)._1,
          col("id"), col("centroid_id"), uniform)
        .select("id").as[Long].collect().toSet
      assert(persisted === recomputed)
      assert(persisted.nonEmpty)
    } finally {
      val _ = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

}

class ReputationSpec extends SparkSpec {
  import spark.implicits._

  test("groupFilter drops whole bad groups, keeps whole good ones") {
    // farm: 2 of 3 docs bad (0.67 > 0.5); clean: 1 of 4 bad (0.25 <= 0.5)
    val df = Seq(
      ("farm", 1L, true), ("farm", 2L, true), ("farm", 3L, false),
      ("clean", 4L, false), ("clean", 5L, true), ("clean", 6L, false), ("clean", 7L, false))
      .toDF("src", "id", "bad")
    val kept = Reputation.groupFilter(df, col("src"), col("bad"), maxBadFraction = 0.5)
      .select("id").as[Long].collect().toSet
    // the farm's good doc 3 is gone; the clean source's bad doc 5 survives
    assert(kept === Set(4L, 5L, 6L, 7L))
  }

  test("groupStats: integer-ratio fraction, boundary groups kept at exactly the cap") {
    val df = Seq(("a", true), ("a", false), ("a", false), ("a", false),
                 ("b", true), ("b", true)).toDF("src", "bad")
    val stats = Reputation.groupStats(df, col("src"), col("bad"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(_._1)
    assert(stats === Seq(("a", 4L, 1L, 0.25), ("b", 2L, 2L, 1.0)))
    // a group sitting exactly on the cap is KEPT (<=, not <)
    val kept = Reputation.groupFilter(df, col("src"), col("bad"), maxBadFraction = 0.25)
      .select("src").distinct().as[String].collect().toSet
    assert(kept === Set("a"))
  }
}

class SplitDecontamSpec extends SparkSpec {
  import spark.implicits._

  test("cluster-keyed split: every near-dup pair lands in the same split") {
    // planted near-dup pairs across the id space: doc i and its -i-1 twin
    val base = (1L to 200L).map(i => (i, s"document number $i with some shared words " +
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa t$i"))
    val planted = base.filter(_._1 % 10 == 0).map { case (i, t) => (-i - 1, t + " xx") }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val clusters = graft.ops.Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.8)
    val split = docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.ops.Sampling.splitColumn(coalesce(col("cluster_id"), col("doc_id")),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .as[(Long, String)].collect().toMap
    val pairs = graft.ops.Dedup.minhashCandidates(docs, "doc_id", "text", threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(split(a) === split(b), s"pair ($a,$b) straddles") }
  }

  test("splitColumn: every row gets exactly one split, ratios near weights") {
    val df = (1L to 5000L).toDF("id")
    val counts = df.select(graft.ops.Sampling.splitColumn(col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 5000L) // total partition: disjoint + exhaustive
    assert(math.abs(counts("train") - 4000L) < 200, counts)
    assert(math.abs(counts("val") - 500L) < 100, counts)
    assert(math.abs(counts("test") - 500L) < 100, counts)
    // stable: same assignment on a differently-partitioned rerun
    val a = df.select(col("id"), graft.ops.Sampling.splitColumn(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s")).as[(Long, String)].collect().toMap
    val b = df.repartition(13).select(col("id"), graft.ops.Sampling.splitColumn(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s")).as[(Long, String)].collect().toMap
    assert(a === b)
  }

  test("splitColumn: a band rounding to 65536 swallows the remainder, not the split") {
    // cum(train)=round(0.999995*65536)=65536 would format as 5-char "10000"
    // and break the 4-char prefix compare without the overflow guard
    val df = (1L to 2000L).toDF("id")
    val counts = df.select(graft.ops.Sampling.splitColumn(col("id"),
        Seq("train" -> 0.999995, "val" -> 0.000005)).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts("train") === 2000L, counts)
  }

  test("decontaminate flags planted contamination and nothing else") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val train = Seq(
      (1L, "completely unrelated words about databases and queries"),
      (2L, "someone said the quick brown fox jumps over whatever"), // 4 shared shingles
      (3L, "quick brown dog")                                       // 0 shared 3-gram shingles
    ).toDF("id", "text")
    val out = graft.ops.Decontaminate.flag(train, bench, "id", "text", minShingles = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((2L, 100L, 4L)))
  }

  test("decontaminate stop-shingle cap drops boilerplate n-grams") {
    // the same boilerplate shingle appears in EVERY bench doc: with the cap
    // at 2 it is dropped, so boilerplate alone cannot flag a training doc
    val bench = (1L to 5L).map(i => (i, s"legal disclaimer text unique$i tail"))
      .toDF("id", "text")
    val train = Seq((10L, "legal disclaimer text only")).toDF("id", "text")
    val flagged = graft.ops.Decontaminate.flag(train, bench, "id", "text",
      minShingles = 1, maxShingleDf = 2)
    assert(flagged.count() === 0)
    val unCapped = graft.ops.Decontaminate.flag(train, bench, "id", "text",
      minShingles = 1, maxShingleDf = 1000)
    assert(unCapped.count() === 5)
  }

  test("decontaminate falls back to a shuffle join when the bench side is oversized") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val train = Seq(
      (1L, "completely unrelated words about databases and queries"),
      (2L, "someone said the quick brown fox jumps over whatever")
    ).toDF("id", "text")
    // maxBroadcastRows=0 forces every bench side past the bound
    val out = graft.ops.Decontaminate.flag(train, bench, "id", "text",
      minShingles = 2, maxBroadcastRows = 0L)
    // same answer through the fallback path...
    assert(out.as[(Long, Long, Long)].collect().toSeq === Seq((2L, 100L, 4L)))
    // ...and the bench side no longer carries the FORCED broadcast hint —
    // Catalyst stays free to pick (its own size-estimate auto-broadcast is
    // fine; the bug class is the hint overriding the size check)
    assert(!out.queryExecution.analyzed.toString.contains("ResolvedHint"))
    // the default bound does force the hint (common path: bench is small)
    val bcast = graft.ops.Decontaminate.flag(train, bench, "id", "text", minShingles = 2)
    assert(bcast.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("flagBloom output is identical to flag; the prefilter is in the plan") {
    val bench = (1L to 5L).map(i => (i, s"legal disclaimer text unique$i tail of bench doc")) :+
      (100L, "the quick brown fox jumps over the lazy dog")
    val benchDf = bench.toDF("id", "text")
    val train = Seq(
      (1L, "completely unrelated words about databases and queries"),
      (2L, "someone said the quick brown fox jumps over whatever"),
      (3L, "legal disclaimer text unique3 tail matching one bench doc"),
      (4L, "quick brown dog")).toDF("id", "text")
    val exact = graft.ops.Decontaminate.flag(train, benchDf, "id", "text", minShingles = 1)
      .as[(Long, Long, Long)].collect().toSet
    val bloomed = graft.ops.Decontaminate.flagBloom(train, benchDf, "id", "text", minShingles = 1)
    assert(bloomed.as[(Long, Long, Long)].collect().toSet === exact)
    assert(exact.nonEmpty) // the equality must not pass vacuously
    // the codegen'd membership test sits on the train side before the join
    assert(bloomed.queryExecution.executedPlan.toString.contains("might_contain"))
    // and the bench side is NOT broadcast (this path exists for bench sides
    // past the broadcast budget — forcing the hint would defeat it)
    assert(!bloomed.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("bloomMightContain: no false negatives, fpp-bounded false positives") {
    val members = (1L to 2000L).toDF("sh")
    val bloom = members.stat.bloomFilter("sh", 2000L, 0.01)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    val pred = graft.functions.CdcExpressions.bloomMightContain(bytes, col("sh"))
    // every member passes — a false negative would silently drop real
    // contamination, the one failure mode the design must exclude
    assert(members.where(pred).count() === 2000L)
    // non-members mostly rejected: 20k probes at 1% fpp — allow 4x slack
    val strangers = (1_000_000L to 1_020_000L).toDF("sh")
    assert(strangers.where(pred).count() <= 800L)
  }
}

class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("featurize aligns each bigram with its context unigram") {
    val df = Seq((1L, "Alpha beta gamma"), (2L, "solo"), (3L, "")).toDF("id", "text")
    val out = LmScore.featurize(df, "id", "text", buckets = 4096)
      .as[(Long, Int, Int)].collect().toSeq.sortBy(r => (r._1, r._2, r._3))
    def b(g: String) = (((Dedup.hash64(g) % 4096) + 4096) % 4096).toInt
    // "alpha beta gamma" -> (b(alpha), b(alpha beta)), (b(beta), b(beta gamma));
    // one-token and empty docs emit nothing
    assert(out === Seq(
      (1L, b("alpha"), b("alpha beta")),
      (1L, b("beta"), b("beta gamma"))).sortBy(r => (r._1, r._2, r._3)))
  }

  test("scoreNll ranks reference-like text as more fluent than gibberish") {
    val ref = (1L to 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("id", "text")
    val docs = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // in-distribution
      (102L, "zxqv wkjh pqrs mnbv lkjg fdsa qwer tyui opas") // unseen bigrams
    ).toDF("id", "text")
    val nll = LmScore.scoreNll(docs, "id", "text", LmScore.fit(ref, "text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(nll(101L) < nll(102L), nll)
  }

  test("scoreNll is bit-identical under repartitioning") {
    val docs = (1L to 40L).map(i => (i, s"token$i shared words appear here token${i % 7}"))
      .toDF("id", "text")
    val fit = LmScore.fit(docs.where(col("id") % 3 === 0), "text", buckets = 1024)
    val a = LmScore.scoreNll(docs, "id", "text", fit)
      .as[(Long, Long, Double)].collect().toSet
    val b = LmScore.scoreNll(docs.repartition(7), "id", "text", fit)
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b) // Set equality on raw doubles: the fold order is pinned
  }

  test("perplexityBuckets labels head/middle/tail by thresholds") {
    val df = Seq((1L, 2.0), (2L, 5.0), (3L, 9.0)).toDF("id", "nll")
    val out = df.select(col("id"),
        LmScore.perplexityBuckets(col("nll"), headBelow = 3.0, middleBelow = 7.0).as("b"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "head", 2L -> "middle", 3L -> "tail"))
  }

  test("ngramBucketsRange: bigram-only slice aligns with the combined array") {
    val df = Seq(Tuple1("one two three four")).toDF("text")
    val both = df.select(
      graft.functions.CdcExpressions.ngramBuckets(col("text"), 2, 512).as("all"),
      graft.functions.CdcExpressions.ngramBucketsRange(col("text"), 1, 1, 512).as("uni"),
      graft.functions.CdcExpressions.ngramBucketsRange(col("text"), 2, 2, 512).as("bi"))
      .as[(Seq[Int], Seq[Int], Seq[Int])].head()
    assert(both._1 === both._2 ++ both._3) // (n, position) emission order
    assert(both._2.length === 4 && both._3.length === 3)
  }
}

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue2 interleaves bits: a at even positions, b at odd") {
    def slowZ(a: Int, b: Int): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1).toLong << (2 * i)) | (((b >> i) & 1).toLong << (2 * i + 1))
      }
    val cases = Seq((0, 0), (1, 0), (0, 1), (10, 6), (65535, 0), (0, 65535),
      (12345, 54321), (65535, 65535))
    val got = cases.toDF("a", "b")
      .select(Layout.zValue2(col("a"), col("b")).as("z")).as[Long].collect().toSeq
    assert(got === cases.map { case (a, b) => slowZ(a, b) })
  }

  test("zOrderBy2 yields disjoint sorted z-ranges per output slice") {
    val df = (0 until 4000).map { i =>
      (i.toLong, Dedup.mix64(i.toLong).toInt & 0x3FF, Dedup.mix64(i + 7777L).toInt & 0x3FF)
    }.toDF("id", "x", "y")
    val laid = Layout.zOrderBy2(df, col("x"), col("y"), numFiles = 8)
    // recompute z with the slice id: ranges must not overlap — that
    // disjointness is exactly what makes file-level min/max pruning work
    val ranges = laid
      .select(spark_partition_id().as("p"), Layout.zValue2(col("x"), col("y")).as("z"))
      .groupBy("p").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("lo").as[(Int, Long, Long)].collect()
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"overlapping slices: $a vs $b")
    }
    assert(laid.count() === 4000) // clustering reorders, never drops
  }

  test("rankBucket uniformizes a skewed dimension; assignment is monotone") {
    // exponential-ish skew: raw low-16-bit use would waste most z-bits
    val df = (0 until 3000).map(i => Tuple1(math.pow(1.003, i))).toDF("v")
    val b = Layout.rankBucket(df, col("v"), buckets = 16)
    val counts = df.select(b.as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().toMap
    assert(counts.keys.min >= 0 && counts.keys.max <= 15)
    // every bucket populated and no bucket hogs the distribution
    assert(counts.size === 16, counts)
    assert(counts.values.max <= 2L * counts.values.min, counts)
    // monotone: bucket of a larger value never decreases
    val pairs = df.select(col("v"), b.as("b")).orderBy("v").as[(Double, Int)].collect()
    pairs.sliding(2).foreach { case Array((_, b1), (_, b2)) => assert(b1 <= b2) }
  }
}

class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  test("logits: narrow single-scan plan, partitioning-invariant doubles") {
    val docs = (1L to 50L).map(i => (i, s"some text number $i with shared tokens here"))
      .toDF("id", "text")
    val m = QualityModel.stubModel(buckets = 512)
    val a = QualityModel.logits(docs, "id", "text", m)
      .as[(Long, Long, Double)].collect().toSet
    val b = QualityModel.logits(docs.repartition(7), "id", "text", m)
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b) // raw-double set equality: sorted-array fold is pinned
    // no shuffle in the plan: scoring is a projection over the scan
    val plan = QualityModel.logits(docs, "id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("empty and feature-less docs are dropped; n_grams counts uni+bi") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, ""), (3L, "  ,;  ")).toDF("id", "text")
    val out = QualityModel.logits(docs, "id", "text", QualityModel.stubModel())
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSet === Set(1L))
    assert(out.head._2 === 5L) // 3 unigrams + 2 bigrams
  }

  test("filter in logit space matches sigmoid-space threshold on scores") {
    val docs = (1L to 200L).map(i => (i, s"document $i words tok${i % 13} tok${i % 7}"))
      .toDF("id", "text")
    val m = QualityModel.stubModel(buckets = 256)
    val kept = QualityModel.filter(docs, "id", "text", m, minScore = 0.5)
      .select("id").as[Long].collect().toSet
    val viaScores = QualityModel.scores(docs, "id", "text", m)
      .where(col("score") >= 0.5).select("id").as[Long].collect().toSet
    assert(kept === viaScores)
    assert(kept.nonEmpty && kept.size < 200) // threshold actually separates
  }

  test("fromTable loads sparse weights, missing buckets weigh zero") {
    val w = Seq((0, 2.0), (3, -1.0)).toDF("bucket", "weight")
    val m = QualityModel.fromTable(w, buckets = 8, bias = 0.25)
    assert(m.weights.toSeq === Seq(2.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0))
    assert(m.bias === 0.25)
  }
}

class PackSpec extends SparkSpec {
  import spark.implicits._

  test("two-phase prefix sum equals the single-partition oracle at any partitioning") {
    val docs = (1L to 500L).map(i => (i, ((Dedup.mix64(i) % 50) + 50).toInt))
    val df = docs.toDF("id", "n")
    for (p <- Seq(1, 3, 32)) {
      val got = graft.ops.Pack.withOffsets(df, "id", col("n"), partitions = p)
        .select("id", "__start").as[(Long, Long)].collect().toMap
      var acc = 0L
      docs.sortBy(_._1).foreach { case (id, n) =>
        assert(got(id) === acc, s"p=$p id=$id"); acc += n
      }
    }
  }

  test("packWindows: spans tile the stream; straddlers span adjacent windows") {
    val df = Seq((1L, 300), (2L, 300), (3L, 511), (4L, 1), (5L, 0), (6L, 2000))
      .toDF("id", "n")
    val out = graft.ops.Pack.packWindows(df, "id", col("n"), windowTokens = 512)
      .select("id", "start", "first_window", "last_window", "offset_in_window")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 6L)) // zero-token doc 5 dropped
    assert(out(0) === ((1L, 0L, 0L, 0L, 0L)))
    assert(out(1) === ((2L, 300L, 0L, 1L, 300L))) // straddles windows 0-1
    assert(out(2) === ((3L, 600L, 1L, 2L, 88L)))
    assert(out(3) === ((4L, 1111L, 2L, 2L, 87L)))
    assert(out(4) === ((6L, 1112L, 2L, 6L, 88L))) // long doc spans 5 windows
  }

  test("paddingStats: exact bucketed window/waste accounting; zero-token docs excluded") {
    val df = Seq((1L, 100), (2L, 100), (3L, 600), (4L, 0), (5L, 513)).toDF("id", "n")
    val out = graft.ops.Pack.paddingStats(df, col("n"), windowTokens = 512, bucketSize = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(out === Seq(
      // bucket 0: docs 1,2 (100 tok each) → 1 window each, 412 waste each
      (0L, 2L, 200L, 2L, 824L),
      // bucket 512: docs 3 (600→2 windows, 424 waste) and 5 (513→2, 511)
      (512L, 2L, 1113L, 4L, 935L)))
  }

  test("deterministicShuffle: a permutation, stable across partitionings") {
    val df = (1L to 400L).map(i => (i, s"d$i")).toDF("id", "v")
    val a = graft.ops.Sampling.deterministicShuffle(df, col("id"))
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(a.values.toSeq.sorted === (0L until 400L)) // exact permutation
    val b = graft.ops.Sampling.deterministicShuffle(df.repartition(7), col("id"))
      .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
    assert(a === b) // position depends only on the key
  }

  test("no single-partition global window in the plan") {
    val df = (1L to 100L).map(i => (i, 10)).toDF("id", "n")
    val plan = graft.ops.Pack.packWindows(df, "id", col("n"), 512)
      .queryExecution.executedPlan.toString
    // a global `Window [ORDER BY ...]` (no partition spec) plans as
    // Exchange SinglePartition — the scale-killer this operator avoids
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  /** Naive single-node best-fit-decreasing with packBins' exact tie-breaks:
    * docs sorted (tokens desc, id), each into the open bin with the smallest
    * remaining >= n (lowest bin id on ties), else a new bin.
    */
  private def naiveBfd(docs: Seq[(Long, Long)], capacity: Long): Map[Long, Int] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[Long] // remaining per bin
    val out = scala.collection.mutable.Map.empty[Long, Int]
    docs.sortBy { case (id, n) => (-n, id) }.foreach { case (id, n) =>
      val fits = bins.zipWithIndex.filter(_._1 >= n)
      val bin =
        if (fits.isEmpty) { bins += capacity; bins.length - 1 }
        else fits.minBy { case (rem, ix) => (rem, ix) }._2
      bins(bin) -= n
      out(id) = bin
    }
    out.toMap
  }

  test("packBins: per-band assignment equals naive best-fit-decreasing; capacity holds") {
    val docs = (1L to 400L).map(i => (i, (math.abs(Dedup.mix64(i)) % 100 + 1).toInt))
    val df = docs.toDF("id", "n")
    val out = graft.ops.Pack.packBins(df, "id", col("n"), capacity = 128, bands = 4)
      .select("id", "n_tokens", "band", "bin")
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(out.map(_._1).sorted === docs.map(_._1)) // every doc exactly once
    // no (band, bin) exceeds capacity
    out.groupBy(t => (t._3, t._4)).foreach { case (bb, rows) =>
      assert(rows.map(_._2).sum <= 128L, s"bin $bb over capacity")
    }
    // each band's assignment IS naive BFD over that band's docs
    out.groupBy(_._3).foreach { case (band, rows) =>
      val exp = naiveBfd(rows.map(t => (t._1, t._2)), 128L)
      rows.foreach { case (id, _, _, bin) =>
        assert(bin === exp(id), s"band $band id $id")
      }
    }
  }

  test("packBins: partitioning-invariant; zero-token docs dropped; oversize refused") {
    val docs = (1L to 200L).map(i => (i, (math.abs(Dedup.mix64(i)) % 100 + 1).toInt)) :+
      ((201L, 0))
    val df = docs.toDF("id", "n")
    val a = graft.ops.Pack.packBins(df, "id", col("n"), 128, bands = 4)
      .select("id", "band", "bin").as[(Long, Int, Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val b = graft.ops.Pack.packBins(df.repartition(7), "id", col("n"), 128, bands = 4)
      .select("id", "band", "bin").as[(Long, Int, Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(a === b) // layout is a pure function of the input set
    assert(!a.contains(201L)) // zero-token doc occupies no span
    val err = intercept[org.apache.spark.SparkException] {
      graft.ops.Pack.packBins(Seq((1L, 500)).toDF("id", "n"), "id", col("n"), 128)
        .collect()
    }
    assert(err.getMessage.contains("packBins") || Option(err.getCause)
      .exists(_.getMessage.contains("packBins")))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("gopherProfile: crafted bullet/ellipsis/symbol/stopword inputs hit each rule") {
    val df = Seq(
      (1L, "the cat sat with the hat and that mat"),        // clean English
      (2L, "- one\n- two\n- three\nplain line"),            // 3/4 bullet lines
      (3L, "wait...\nmore...\nfine"),                       // 2/3 ellipsis ends
      (4L, "## ### tag # soup # here"),                     // symbol noise
      (5L, ""))                                             // empty
      .toDF("doc_id", "text")
    val m = TextAnalysis.gopherProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Int]("stopword_hits") >= 4)
    assert(m(1L).getAs[Double]("alpha_word_frac") === 1.0)
    assert(m(2L).getAs[Double]("bullet_line_frac") === 0.75)
    assert(m(3L).getAs[Double]("ellipsis_line_frac") === 2.0 / 3.0)
    assert(m(4L).getAs[Double]("symbol_word_ratio") === 6.0 / 6.0)
    assert(m(5L).getAs[Double]("mean_word_len") === 0.0)
    // the keep gate agrees with the profile's rules at defaults
    val kept = df.where(TextAnalysis.gopherKeep(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L)) // 2-4 fail their targeted rule, 5 is empty
  }

  test("cleanText: NFC composition, control strip, whitespace collapse, idempotence") {
    val decomposed = "cafe\u0301" // e + combining acute
    val df = Seq(
      (1L, s"  AB  $decomposed \t end "),
      (2L, "AB café end"), // precomposed, no ragged space
      (3L, " "),
      (4L, "ﬁle")) // fi ligature: NFC keeps it, NFKC folds it
    .toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.cleanText(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "AB café end")
    assert(out(1L) === out(2L)) // decomposed == precomposed after clean
    assert(out(3L) === "")
    assert(out(4L) === "ﬁle")
    val nfkc = df.where(col("id") === 4L)
      .select(TextAnalysis.cleanText(col("text"), "NFKC")).head().getString(0)
    assert(nfkc === "file")
    // idempotent: cleaning a cleaned text is a no-op
    val twice = df.select(col("id"),
      TextAnalysis.cleanText(TextAnalysis.cleanText(col("text"))).as("c"))
      .as[(Long, String)].collect().toMap
    assert(twice === out)
  }

  test("chunkText: overlapping windows cover every token; short docs yield one chunk") {
    val words = (1 to 10).map(i => s"w$i")
    val df = Seq(
      (1L, words.mkString(" ")), // 10 tokens
      (2L, "a b c"),             // shorter than size
      (3L, "   "),               // blank: no chunks
      (4L, "x")).toDF("id", "text")
    val out = TextAnalysis.chunkText(df, "id", "text", size = 5, overlap = 2)
      .as[(Long, Long, String)].collect().toSeq.sorted
    // stride 3: ceil((10-2)/3) = 3 chunks — [0,5), [3,8), [6,10)
    assert(out.filter(_._1 == 1L).map(_._3) === Seq(
      "w1 w2 w3 w4 w5", "w4 w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(out.filter(_._1 == 2L) === Seq((2L, 0L, "a b c")))
    assert(!out.exists(_._1 == 3L))
    assert(out.filter(_._1 == 4L) === Seq((4L, 0L, "x")))
    // every token of doc 1 appears in at least one chunk
    val covered = out.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered === words.toSet)
  }

  test("tfidfTopTerms surfaces rare characteristic terms over common ones") {
    val df = Seq(
      (1L, "common common common quantum quantum physics"),
      (2L, "common words only common words only common"),
      (3L, "common biology molecules cells cells")).toDF("id", "text")
    val out = TextAnalysis.tfidfTopTerms(df, "id", "text", k = 2)
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._3).map(_._2).toSeq }
    // doc 1: quantum (tf 2, df 1, score 6) ranks above the score-3 tie
    // (physics tf1/df1 vs common tf3/df3), which breaks by term
    assert(out(1L) === Seq("quantum", "common"))
    assert(out(3L).head === "cells")
    // every doc gets at most k rows, ranks are 1..k
    assert(out(2L).size <= 2)
  }

  test("token/punct counts and fingerprint normalization") {
    val df = Seq(
      (1L, "Hello,  world! How are you?"),
      (2L, "hello world how are you"),
      (3L, "")).toDF("id", "text")
    val out = df.select(
      col("id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.punctCount(col("text")).as("p"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) === ((5, 3)))
    assert(out(2L) === ((5, 0)))
    assert(out(3L) === ((0, 0)))
  }

  test("rarityProfile: distinct-token counts and exact df sums, invariant under repartitioning") {
    // corpus: "the" in 3 docs (df 3), "cat"/"dog" in 1 each, "sat" in 2
    val df = Seq(
      (1L, "the cat sat"),
      (2L, "the dog sat sat"), // repeated token counts once (distinct per doc)
      (3L, "the")).toDF("doc_id", "text")
    def profile(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.rarityProfile(d, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val out = profile(df)
    assert(out(1L) === ((3L, 3L + 1L + 2L, 1L))) // the(3) + cat(1) + sat(2)
    assert(out(2L) === ((3L, 3L + 1L + 2L, 1L))) // the(3) + dog(1) + sat(2)
    assert(out(3L) === ((1L, 3L, 3L)))
    assert(profile(df.repartition(7)) === out)
  }

  test("langId picks the dominant stopword language") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist nicht mit der katze"),
      (3L, "le chat est dans la maison pour que"),
      (4L, "el perro es una mascota para los ninos"),
      (5L, "zzz qqq xxx")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }
}

class MultimodalSpec extends SparkSpec {

  test("decodeImages emits the typed feature schema, one row per image asset") {
    val parts = spark.read.parquet(s"$sf/part.parquet").limit(10)
    val assets = Multimodal.syntheticAssets(parts, "p_partkey", "image")
    val out = Multimodal.decodeImages(assets)
    assert(out.schema === Multimodal.imageFeatureSchema)
    val rows = out.collect()
    assert(rows.length === 10)
    assert(rows.forall(r => r.getInt(1) >= 64 && r.getInt(3) === 3))
    assert(rows.forall(r => r.getSeq[Float](4).length === 16))
  }

  test("decodeAudio emits typed audio features per audio asset") {
    val parts = spark.read.parquet(s"$sf/part.parquet").limit(5)
    val out = Multimodal.decodeAudio(Multimodal.syntheticAssets(parts, "p_partkey", "audio"))
    assert(out.schema === Multimodal.audioFeatureSchema)
    val rows = out.collect()
    assert(rows.length === 5)
    assert(rows.forall(r => r.getInt(1) >= 8000 && r.getInt(2) >= 500 && r.getSeq[Float](3).length === 13))
  }

  test("sampleFrames explodes every nth frame from metadata") {
    val parts = spark.read.parquet(s"$sf/part.parquet").where("p_partkey = 9") // frame_count = 10
    val assets = Multimodal.syntheticAssets(parts, "p_partkey", "video")
    val idx = Multimodal.sampleFrames(assets, everyNth = 4)
      .select("frame_idx").collect().map(_.getInt(0)).toSeq.sorted
    assert(idx === Seq(0, 4, 8))
  }

  test("sampleFrames emits no rows for zero-frame or metadata-less assets") {
    import spark.implicits._
    val assets = Seq(
      (1L, "video", Array[Byte](), Map("frame_count" -> "0")),
      (2L, "video", Array[Byte](), Map.empty[String, String]),
      (3L, "video", Array[Byte](), Map("frame_count" -> "2"))
    ).toDF("asset_id", "modality", "payload", "meta")
    val out = Multimodal.sampleFrames(assets, everyNth = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(out === Seq((3L, 0), (3L, 1)))
  }
}
