package graft.ops

import graft.SparkSpec

/** BM25 and PageRank against independent naive Scala reimplementations on
  * random inputs — no shared code with the distributed implementations.
  */
class RetrievalPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(17)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")

  private def naiveBm25(corpus: Seq[(Long, String)], query: String, k: Int,
                        k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
    val terms = "[a-z]+".r.findAllIn(query.toLowerCase).toSeq.distinct.sorted
    val docToks = corpus.map { case (id, t) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).toSeq
    }.filter(_._2.nonEmpty)
    val n = docToks.size.toDouble
    val avgdl = docToks.map(_._2.size.toLong).sum.toDouble / n
    val dfm = terms.map(t => t -> docToks.count(_._2.contains(t)).toDouble).toMap
    docToks.flatMap { case (id, tk) =>
      val tfs = terms.map(t => tk.count(_ == t).toDouble)
      if (tfs.forall(_ == 0)) None
      else {
        val score = terms.zip(tfs).foldLeft(0.0) { case (acc, (t, tf)) =>
          val idf = math.log((n - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
          acc + idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * (tk.size / avgdl))))
        }
        Some(id -> score)
      }
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def naivePageRank(nodes: Seq[String], edges: Seq[(String, String)],
                            iters: Int, d: Double = 0.85): Map[String, Double] = {
    val n = nodes.size.toDouble
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val in = edges.groupBy(_._2)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      r = nodes.map { v =>
        val contribs = in.getOrElse(v, Seq.empty).map(_._1).sorted
          .map(u => r(u) / out(u))
        v -> ((1.0 - d) / n + d * contribs.foldLeft(0.0)(_ + _))
      }.toMap
    }
    r
  }

  test("Bm25.topK matches the naive reference on random corpora") {
    for (trial <- 1 to 5) {
      val corpus = (1L to 30L).map(i =>
        i -> Seq.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val query = Seq.fill(3)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
      val got = Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text", query, 10)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toSeq
      val want = naiveBm25(corpus, query, 10)
      assert(got.map(_._1) == want.map(_._1), s"trial $trial ranking")
      got.zip(want).foreach { case ((_, g), (_, w)) =>
        assert(math.abs(g - w) < 1e-12, s"trial $trial score")
      }
    }
  }

  test("topKIndexed == topK bit-for-bit on a random corpus") {
    val corpus = (1L to 40L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = corpus.toDF("doc_id", "text")
    val path = tempDir("bm25-prop")
    Bm25.writePostings(df, "doc_id", "text", path, termBuckets = 8)
    val query = "alpha theta kappa"
    val brute = Bm25.topK(df, "doc_id", "text", query, 15)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val indexed = Bm25.topKIndexed(spark, path, query, 15)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(indexed == brute) // bit-exact, not approx
  }

  test("append-grown postings index probes identically to a fresh full build") {
    val corpus = (1L to 40L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val df = corpus.toDF("doc_id", "text")
    val full = tempDir("bm25-full")
    Bm25.writePostings(df, "doc_id", "text", full, termBuckets = 8)
    val incr = tempDir("bm25-incr")
    Bm25.writePostings(df.where($"doc_id" <= 20L), "doc_id", "text", incr, termBuckets = 8)
    Bm25.appendToPostings(df.where($"doc_id" > 20L && $"doc_id" <= 30L),
      "doc_id", "text", incr)
    Bm25.appendToPostings(df.where($"doc_id" > 30L),
      "doc_id", "text", incr)
    val q = "beta gamma iota"
    val a = Bm25.topKIndexed(spark, full, q, 15)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val b = Bm25.topKIndexed(spark, incr, q, 15)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(a == b) // two appends later: same stats, same scores, bit-exact
  }

  test("Graph.pageRank matches the naive reference on random graphs") {
    for (trial <- 1 to 5) {
      val nodes = (0 until 15).map(i => s"n$i")
      val edges = (for {
        i <- 0 until 15; j <- 0 until 15
        if i != j && rnd.nextDouble() < 0.2
      } yield (s"n$i", s"n$j")).distinct
      val got = Graph.pageRank(nodes.toDF("node"), edges.toDF("src", "dst"), iters = 4)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = naivePageRank(nodes, edges, iters = 4)
      nodes.foreach { v =>
        assert(math.abs(got(v) - want(v)) < 1e-12, s"trial $trial node $v")
      }
    }
  }
}
