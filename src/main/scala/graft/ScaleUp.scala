package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: replicate the driver's sf tables `factor`×
  * with per-replica key shifting, producing an sf(factor×) dataset for
  * super-linearity probing (`graft.ScaleProbe`) without touching the
  * read-only driver testdata.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> [factor=10]
  *
  * Replication is STRUCTURE-preserving, not statistics-identical: each key
  * domain (orderkey, custkey, partkey, suppkey, user/event, doc, vec) is
  * shifted by `replica × (domainMax + 1)`, so FK joins land exactly as in
  * the base data and per-key group sizes stay constant while key
  * CARDINALITY scales — the shape that matters for shuffle/agg probing.
  * Dimension tables nation/region keep their TPC-H-fixed 25/5 rows.
  * Document text is per-replica consonant-rotated (length-preserving, so
  * `n_chars` stays truthful) and embeddings per-replica anisotropically
  * rescaled: without this, replicas would be EXACT dupes of each other and
  * every dedup/similarity probe would measure a 10×-duplicate corpus — a
  * data-construction quadratic, not a plan property.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.local("graft-scale-up")

    def base(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // one offset per key DOMAIN, from the domain's owning table
    val domainMax: Map[String, Long] = Map(
      "order" -> base("orders").agg(max("o_orderkey")).head.getLong(0),
      "cust" -> base("customer").agg(max("c_custkey")).head.getLong(0),
      "part" -> base("part").agg(max("p_partkey")).head.getLong(0),
      "supp" -> base("supplier").agg(max("s_suppkey")).head.getLong(0),
      "event" -> base("events").agg(max("event_id")).head.getLong(0),
      "user" -> base("events").agg(max("user_id")).head.getLong(0),
      "doc" -> base("documents").agg(max("doc_id")).head.getLong(0),
      "vec" -> base("embeddings").agg(max("vec_id")).head.getLong(0))
    val keyCols: Map[String, Map[String, String]] = Map(
      "orders" -> Map("o_orderkey" -> "order", "o_custkey" -> "cust"),
      "lineitem" -> Map("l_orderkey" -> "order", "l_partkey" -> "part",
        "l_suppkey" -> "supp"),
      "customer" -> Map("c_custkey" -> "cust"),
      "supplier" -> Map("s_suppkey" -> "supp"),
      "part" -> Map("p_partkey" -> "part"),
      "events" -> Map("event_id" -> "event", "user_id" -> "user"),
      "documents" -> Map("doc_id" -> "doc"),
      "embeddings" -> Map("vec_id" -> "vec"))

    require(factor <= 100,
      s"factor=$factor: the replica permutation family (two disjoint 10-letter " +
        "rotation groups) is injective only up to 100 replicas")

    // length-preserving per-replica text permutation: TWO disjoint letter
    // groups rotated by (i mod 10, i/10 mod 10) — a family of 100 distinct
    // permutations, identity ONLY at i == 0 (a single 10-letter rotation is
    // identity again at i % 10 == 0, which would make replica 10 an exact
    // text dupe of the base). Far enough from the original and every other
    // replica that shingle/gram overlap drops below near-dup thresholds.
    val letters = "etaonrishd"
    val letters2 = "lcumwfgypb" // disjoint from `letters`
    def rot(s: String, k: Int): String =
      s.drop(k % s.length) + s.take(k % s.length)

    def replica(t: String, i: Int): DataFrame = {
      val df = base(t)
      val shifted = keyCols.getOrElse(t, Map.empty).foldLeft(df) {
        case (d, (c, dom)) => d.withColumn(c, col(c) + lit(i * (domainMax(dom) + 1L)))
      }
      val txt =
        if (t == "documents" && i > 0)
          shifted.withColumn("text",
            translate(translate(col("text"), letters, rot(letters, i % 10)),
              letters2, rot(letters2, (i / 10) % 10)))
        else shifted
      // anisotropic per-replica rescale: the multiplier 1 + a_i·(1 + pmod(3j+i, 7))
      // is NEVER the identity for i > 0 (a_i > 0 and the pmod term ≥ 0 with
      // the +1 floor), never UNIFORM across j (3 is coprime to 7, so the
      // j-dependence cannot vanish — a uniform rescale would leave cosine
      // similarity exactly 1 vs the base, an exact dupe in cosine space),
      // and the replica-specific amplitude a_i = 0.1 + 0.01·i keeps any two
      // replicas distinct even when their pmod phases collide (i ≡ i' mod 7)
      if (t == "embeddings" && i > 0)
        txt.withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> CAST(x * (1.0D + ${0.1 + 0.01 * i}D * " +
            s"(1 + pmod(j * 3 + $i, 7))) AS FLOAT))"))
      else txt
    }

    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val out =
        if (t == "region" || t == "nation") base(t) // TPC-H-fixed dims
        else (0 until factor).map(replica(t, _)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      // scalastyle:off println
      println(s"scaled $t -> $dst/$t.parquet")
      // scalastyle:on
    }
    spark.stop()
  }
}
