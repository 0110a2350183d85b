package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("finds exactly the brute-force pairs within the distance bound") {
    val base = "the quick brown fox jumps over it"
    val strs = Map(
      1L -> base,
      2L -> base.replace("quick", "quack"),          // dist 1
      3L -> base.replace("brown fox", "brawn fix"),  // dist 2
      4L -> base.toUpperCase,                        // far
      5L -> "completely unrelated text here!!")      // far
    val got = FuzzyJoin.editDistanceJoin(strs.toSeq.toDF("id", "s"), "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    val expected = (for {
      a <- strs.keys; b <- strs.keys if a < b
      d = lev(strs(a), strs(b)) if d <= 2
    } yield (a, b, d)).toSet
    assert(got === expected)
    // (2,3) carries BOTH edits — distance 3 — and must stay out
    assert(got.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L)))
  }

  test("insertions and deletions (position-shifting edits) keep brute-force parity") {
    // the Ed-Join positional band (|pos_a - pos_b| <= d) must tolerate the
    // edits that actually SHIFT gram positions — front/mid insertions and
    // deletions move every downstream occurrence by up to d
    val base = "abcdefghijklmnopqrstuvwxyz012345"
    val strs = Map(
      1L -> base,
      2L -> base.drop(2),                          // front deletion x2: all positions shift -2
      3L -> ("XY" + base),                         // front insertion x2: all positions shift +2
      4L -> (base.take(10) + "Q" + base.drop(10)), // mid insertion: dist 1
      5L -> base.patch(20, "", 2),                 // mid deletion x2: dist 2
      6L -> "a completely different string!!")
    val got = FuzzyJoin.editDistanceJoin(strs.toSeq.toDF("id", "s"), "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    val expected = (for {
      a <- strs.keys; b <- strs.keys if a < b
      d = lev(strs(a), strs(b)) if d <= 2
    } yield (a, b, d)).toSet
    assert(got === expected)
    assert(expected.exists(_._3 == 2)) // the fixture exercises the band edge
  }

  test("prefix filter finds boilerplate-heavy pairs uncapped; df-cap narrows to distinctive grams") {
    // 60 records: shared 14-char header + unique 2-char tail → every pair
    // is a TRUE distance-≤2 pair. Uncapped, the n·d+1 rarest grams per
    // record are its unique boundary grams plus the SAME lowest-(df,
    // gram) common grams for everyone (the global-order pigeonhole that
    // makes the prefix filter complete) → all 1770 pairs found. With the
    // header grams capped out (df 60 > 20), blocking can only happen on
    // the remaining sub-cap DISTINCTIVE grams — the boundary gram
    // "R-<tail1>" (df 2-3) — so exactly the pairs sharing tail1 survive:
    // 8 letters × C(3,2) + 18 letters × C(2,2)·1 = 24 + 18 = 42. The
    // documented recall trade: boilerplate-ONLY similarity is invisible,
    // distinctive-gram similarity is kept.
    val rows = (0 until 60).map { i =>
      (i.toLong, s"SHARED-HEADER-${('a' + i % 26).toChar}${('A' + i / 26).toChar}")
    }.toDF("id", "s")
    val uncapped = FuzzyJoin.editDistanceJoin(rows, "id", "s", maxDist = 2)
    assert(uncapped.count() === 60L * 59 / 2)
    val capped = FuzzyJoin.editDistanceJoin(rows, "id", "s", maxDist = 2, dfCap = 20)
      .as[(Long, Long, Int)].collect()
    assert(capped.length === 42)
    assert(capped.forall { case (a, b, _) => a % 26 == b % 26 })
  }

  test("matches brute force on random mutated strings (prefix recall)") {
    val rnd = new scala.util.Random(41)
    val alphabet = "abcdefgh"
    def randStr(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    for (_ <- 0 until 12) {
      val base = randStr(16)
      rows += ((id, base)); id += 1
      for (_ <- 0 until rnd.nextInt(3)) {
        val pos = rnd.nextInt(base.length)
        val mut = base.updated(pos, alphabet(rnd.nextInt(alphabet.length)))
        rows += ((id, mut)); id += 1
      }
    }
    val got = FuzzyJoin.editDistanceJoin(rows.toSeq.toDF("id", "s"), "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    val expected = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === expected)
    assert(got.nonEmpty) // the fixture must actually exercise matches
  }

  test("length prefilter prunes impossible candidates at the blocking join") {
    // 1 and 2 share grams at band-close positions (2 extends 1) but differ
    // in length by 10 > maxDist — an impossible pair (levenshtein >=
    // |len_a - len_b|) that the OLD blocking join still surfaced to the
    // verify; 1 and 3 are a true distance-1 pair. The pruning is only
    // observable at the candidate stage: the end-to-end result was always
    // identical (the verify rejects the same pairs, after paying for them).
    val rows = Seq((1L, "abcdefgh"), (2L, "abcdefghXXXXXXXXXX"),
      (3L, "abcdefgi")).toDF("id", "s")
    val prefix = FuzzyJoin.prefixRelation(rows, "id", "s",
      n = 3, maxDist = 2, dfCap = Int.MaxValue).localCheckpoint()
    val cands = FuzzyJoin.candidatePairs(prefix, maxDist = 2)
      .as[(Long, Long)].collect().toSet
    assert(!cands.contains((1L, 2L))) // pruned before distinct/attach/DP
    assert(cands.contains((1L, 3L))) // the real near-match survives
    // end-to-end: bit-identical to brute force, as ever
    val got = FuzzyJoin.editDistanceJoin(rows, "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 3L, 1)))
  }

  test("char-bitmap prefilter prunes equal-length impossible candidates at the blocking join") {
    // 1 and 2 share the rare gram "abc" at position 1 and have EQUAL
    // lengths (the length band is blind to them), but differ in 10 char
    // buckets (d..h vs V..Z) — bit_count(xor) = 10 > 2·maxDist = 4, an
    // impossible pair pruned before the distinct/attach/DP; 1 and 3 are
    // a true distance-1 pair and survive
    val rows = Seq((1L, "abcdefgh"), (2L, "abcVWXYZ"),
      (3L, "abcdefgi")).toDF("id", "s")
    val prefix = FuzzyJoin.prefixRelation(rows, "id", "s",
      n = 3, maxDist = 2, dfCap = Int.MaxValue).localCheckpoint()
    val cands = FuzzyJoin.candidatePairs(prefix, maxDist = 2)
      .as[(Long, Long)].collect().toSet
    assert(!cands.contains((1L, 2L)))
    assert(cands.contains((1L, 3L)))
    val got = FuzzyJoin.editDistanceJoin(rows, "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 3L, 1)))
  }

  test("char-bitmap bound property: bit_count(sig_a ^ sig_b) <= 2 * levenshtein, incl. non-ASCII") {
    // the prefilter's soundness law, checked against brute-force edit
    // distance over random mutated pairs (substitutions, insertions,
    // deletions, supplementary chars) — any pair violating it would be a
    // silently lost true match
    import org.apache.spark.sql.functions.{col, expr, length => len_}
    val rnd = new scala.util.Random(97)
    val alphabet = "abcdefgh 0129!éß" + new String(Character.toChars(0x1F600))
    def randStr(n: Int) =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val pairs = (0 until 80).map { i =>
      val base = randStr(6 + rnd.nextInt(12))
      val mut = rnd.nextInt(3) match {
        case 0 => // substitutions
          (0 until rnd.nextInt(4)).foldLeft(base)((s, _) =>
            s.updated(rnd.nextInt(s.length), alphabet(rnd.nextInt(alphabet.length))))
        case 1 => base.patch(rnd.nextInt(base.length), randStr(rnd.nextInt(3)), 0)
        case 2 => base.patch(rnd.nextInt(base.length), "", rnd.nextInt(3))
      }
      (i.toLong, base, mut)
    }
    val df = pairs.toDF("i", "a", "b")
    val out = df.select(
        expr("levenshtein(a, b)").as("d"),
        graft.functions.CdcExpressions.charBitmap64(col("a"))
          .bitwiseXOR(graft.functions.CdcExpressions.charBitmap64(col("b")))
          .as("xr"))
      .select(col("d"), expr("bit_count(xr)").as("x")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getInt(1) <= 2 * r.getInt(0),
      s"bound violated: xor bits ${r.getInt(1)} > 2*dist ${r.getInt(0)}"))
    // the codegen expression must equal the SQL-replayable HOF formula —
    // a future engine replaying persisted sigs in SQL depends on it
    val cross = df.select(
        graft.functions.CdcExpressions.charBitmap64(col("a")).as("e"),
        expr(sigSql("a")).as("s")).collect()
    cross.foreach(r => assert(r.getLong(0) === r.getLong(1),
      s"expression/SQL sig divergence: ${r.getLong(0)} vs ${r.getLong(1)}"))
  }

  private def sigSql(c: String): String =
    s"aggregate(transform(sequence(1, length($c)), " +
      s"i -> pmod(ascii(substring($c, i, 1)), 64)), " +
      "0L, (acc, b) -> acc | shiftleft(1L, b))"

  test("short strings never pair; identical strings pair at distance 0") {
    val rows = Seq((1L, "ab"), (2L, "ab"), (3L, "same same same"),
      (4L, "same same same")).toDF("id", "s")
    val got = FuzzyJoin.editDistanceJoin(rows, "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((3L, 4L, 0)))
  }

  // ---------- persisted blocking-key index ----------

  private def randCorpus(seed: Int, groups: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = "abcdefgh"
    def randStr(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    for (_ <- 0 until groups) {
      val base = randStr(16)
      rows += ((id, base)); id += 1
      for (_ <- 0 until rnd.nextInt(3)) {
        val pos = rnd.nextInt(base.length)
        rows += ((id, base.updated(pos, alphabet(rnd.nextInt(alphabet.length))))); id += 1
      }
    }
    rows.toSeq
  }

  test("index probe matches brute force exactly; frozen order covers appends") {
    val all = randCorpus(17, 14)
    // index two thirds; probe the rest in two waves, appending in between
    val (idxRows, rest) = all.partition(_._1 % 3 != 0)
    val (wave1, wave2) = rest.partition(_._1 % 6 == 0)
    val path = tempDir("graft-fzidx")
    FuzzyJoin.writeIndex(idxRows.toDF("id", "s"), "id", "s", path, numPartitions = 8)

    def expectedVs(batch: Seq[(Long, String)], indexed: Seq[(Long, String)]) =
      (for {
        (ia, sa) <- batch; (ib, sb) <- indexed
        d = lev(sa, sb) if d <= 2
      } yield (ia, ib, d)).toSet

    val got1 = FuzzyJoin.indexProbe(wave1.toDF("id", "s"), "id", "s", path).as[(Long, Long, Int)].collect().toSet
    assert(got1 === expectedVs(wave1, idxRows))
    assert(got1.nonEmpty)

    // append wave1 (its novel grams rank rarest under the frozen order),
    // then wave2's probe must see BOTH the original index and wave1
    FuzzyJoin.appendToIndex(wave1.toDF("id", "s"), "id", "s", path)
    val got2 = FuzzyJoin.indexProbe(wave2.toDF("id", "s"), "id", "s", path).as[(Long, Long, Int)].collect().toSet
    assert(got2 === expectedVs(wave2, idxRows ++ wave1))

    // compaction refreshes the order and re-prefixes appended rows; probe
    // parity must be unchanged
    FuzzyJoin.compactIndex(spark, path)
    val got3 = FuzzyJoin.indexProbe(wave2.toDF("id", "s"), "id", "s", path).as[(Long, Long, Int)].collect().toSet
    assert(got3 === got2)
  }

  test("probe prunes the prefix listing to the batch's buckets; verify pushes candidate ids") {
    val all = randCorpus(23, 10)
    val (idxRows, batch) = all.partition(_._1 % 4 != 1)
    val path = tempDir("graft-fzidx2")
    FuzzyJoin.writeIndex(idxRows.toDF("id", "s"), "id", "s", path, numPartitions = 16)
    // the candidate stage must push the batch's touched buckets as a
    // file-listing partition filter on the prefix scan
    val pairsPlan = FuzzyJoin.probePairs(batch.toDF("id", "s"), "id", "s", path,
      n = 3, maxDist = 2, dfCap = Int.MaxValue, IndexMaintenance.current(spark, path, "index"))
      .queryExecution.executedPlan.toString
    assert(pairsPlan.contains("PartitionFilters: [pbucket"), pairsPlan.take(4000))
    // and the verify join pushes candidate ids into the id-sorted string
    // store (row-group stats pruning)
    val p = FuzzyJoin.indexProbe(batch.toDF("id", "s"), "id", "s", path)
      .queryExecution.executedPlan.toString
    assert(p.contains("In(id, "), p.take(4000))
  }
}
