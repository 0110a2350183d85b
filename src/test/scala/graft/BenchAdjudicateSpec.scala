package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's defense against machine-load poisoning. Round-9's
  * driver record shipped seven medians 6–9× above their true values with
  * individually TIGHT in-run bands — only comparison against the same
  * query's previous-round median can catch that, and [[Bench.adjudicate]]
  * encodes the policy. Pure function, no Spark session needed.
  */
class BenchAdjudicateSpec extends AnyFunSuite {

  test("a synthetic 5x-poisoned median self-corrects against the previous round") {
    // tight in-run band (spread < 3x) — the old check was blind to this
    val poisoned = Seq(0.95, 1.03, 1.10)
    val clean = Seq(0.08, 0.09, 0.10)
    val (picked, reran) = Bench.adjudicate(poisoned, Some(0.089), () => Some(clean))
    assert(reran)
    assert(picked == clean)
  }

  test("a genuine 3x+ regression reproduces and stays reported") {
    val regressed = Seq(0.95, 1.03, 1.10)
    val confirm = Seq(0.97, 1.01, 1.08) // remeasure reproduces it
    val (picked, reran) = Bench.adjudicate(regressed, Some(0.089), () => Some(confirm))
    assert(reran)
    assert(picked(1) >= 1.0) // whichever triple wins, the regression shows
  }

  test("a tight band near the previous median is not remeasured") {
    val steady = Seq(0.08, 0.09, 0.11)
    var calls = 0
    val (picked, reran) = Bench.adjudicate(steady, Some(0.089), () => { calls += 1; Some(steady) })
    assert(!reran && calls == 0 && picked == steady)
  }

  test("small absolute drift on a trivial query never triggers a rerun") {
    // 4x prev but only +60 ms — below the 0.2 s absolute floor
    val tiny = Seq(0.07, 0.08, 0.09)
    val (_, reran) = Bench.adjudicate(tiny, Some(0.02), () => fail("must not remeasure"))
    assert(!reran)
  }

  test("no previous-round record falls back to the in-run band check only") {
    val tight = Seq(0.9, 1.0, 1.1)
    val (_, r1) = Bench.adjudicate(tight, None, () => fail("must not remeasure"))
    assert(!r1)
    val wide = Seq(0.2, 0.3, 1.5)
    val tighter = Seq(0.25, 0.28, 0.33)
    val (p2, r2) = Bench.adjudicate(wide, None, () => Some(tighter))
    assert(r2 && p2 == tighter)
  }

  test("a flaked remeasure keeps the four-successful-runs first triple") {
    val wide = Seq(0.2, 0.3, 1.5)
    val (picked, reran) = Bench.adjudicate(wide, None, () => None)
    assert(reran && picked == wide)
  }

  test("loadRatio is the median per-query ratio, excluding launch-noise medians") {
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0, "tiny" -> 0.01)
    // uniform 1.5x host slowdown, one genuine 10x regression, one
    // launch-noise query that would skew the median if included
    val cur = Seq("a" -> 1.5, "b" -> 3.0, "c" -> 40.0, "tiny" -> 1.0, "new" -> 9.9)
    assert(Bench.loadRatio(cur, prev) === 1.5)
    // no shared queries -> neutral 1.0
    assert(Bench.loadRatio(Seq("x" -> 5.0), prev) === 1.0)
    assert(Bench.loadRatio(Nil, prev) === 1.0)
  }

  test("medianOfSorted averages the central pair for even sizes") {
    assert(Bench.medianOfSorted(Seq(1.0, 2.0, 9.0)) === 2.0)
    // the old upper-middle pick would return 4.0 here and loosen the bar
    assert(Bench.medianOfSorted(Seq(1.0, 2.0, 4.0, 9.0)) === 3.0)
    assert(Bench.medianOfSorted(Seq(5.0)) === 5.0)
  }

  test("jnum is locale-pinned: a comma-decimal default cannot corrupt the record") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      assert(Bench.jnum(1.2345) === "1.234" || Bench.jnum(1.2345) === "1.235")
      assert(!Bench.jnum(1.5).contains(","))
      assert(Bench.jnum(0.98765, 4) === "0.9877" || Bench.jnum(0.98765, 4) === "0.9876")
    } finally java.util.Locale.setDefault(saved)
  }

  test("loadNormalizer: neutral below 20 shared queries, clamped to [1, 1.5]") {
    // a 1-2 query explicit probe run must not set its own envelope
    assert(ScaleProbe.loadNormalizer(Seq(5.0)) === 1.0)
    assert(ScaleProbe.loadNormalizer((1 to 19).map(_ => 3.0)) === 1.0)
    val n20 = (1 to 20).map(_ => 1.2)
    assert(ScaleProbe.loadNormalizer(n20) === 1.2)
    // a faster run never tightens the committed envelope
    assert(ScaleProbe.loadNormalizer((1 to 20).map(_ => 0.7)) === 1.0)
    // a uniform REAL regression cannot fully normalize itself away
    assert(ScaleProbe.loadNormalizer((1 to 20).map(_ => 4.0)) === 1.5)
  }

  test("envelopeRatio: cpu_ratio applies only to the CPU-bound families, clamped >= 1") {
    assert(Bench.envelopeRatio(1.1, 2.0, cpuBound = false) === 1.1)
    assert(Bench.envelopeRatio(1.1, 2.0, cpuBound = true) === 2.0)
    assert(Bench.envelopeRatio(1.3, 0.5, cpuBound = true) === 1.3)
    assert(Bench.envelopeRatio(0.8, 0.5, cpuBound = true) === 1.0)
    assert(Bench.envelopeRatio(0.8, 0.5, cpuBound = false) === 1.0)
  }

  test("cpuBoundFamily covers the twice-adjudicated families and nothing shuffle-bound") {
    for (q <- Seq("q_dedup_minhash", "q_dedup_incremental_probe", "q_knn_join",
        "q_hard_negatives", "q_fuzzy_join_probe", "q_semdedup"))
      assert(Bench.cpuBoundFamily(q), q)
    for (q <- Seq("q1_agg", "q_stream_pipeline", "q_token_budget", "q_join_broadcast"))
      assert(!Bench.cpuBoundFamily(q), q)
  }

  test("calibration kernel measures positive, repeatable seconds") {
    val a = Calibrate.kernelSec(iters = 2000000, passes = 3)
    val b = Calibrate.kernelSec(iters = 2000000, passes = 3)
    assert(a > 0 && b > 0)
    // same fixed work back-to-back on one host: within 4x even under noise
    assert(math.max(a, b) / math.min(a, b) < 4.0, s"a=$a b=$b")
  }

  test("rollLine stamps rolled_from; loadPrevField reads top-level numerics") {
    val line = """{"metric":"total","value":1.2,"queries":{"a":0.1},"cpu_kernel_sec":0.1234,"run_seq":17,"sf":"x"}"""
    val rolled = Bench.rollLine(line, 17L)
    assert(rolled.endsWith(""","rolled_from":17}"""))
    val p = java.nio.file.Paths.get(SparkEntry.tempDir("graft-bench-prev"), "bench-prev-prov.json")
    java.nio.file.Files.writeString(p, rolled + "\n")
    assert(Bench.loadPrevField(p, "cpu_kernel_sec").contains(0.1234))
    assert(Bench.loadPrevField(p, "rolled_from").contains(17.0))
    assert(Bench.loadPrevField(p, "nope").isEmpty)
    assert(Bench.loadPrevField(java.nio.file.Paths.get("/nonexistent/x.json"),
      "cpu_kernel_sec").isEmpty)
    // the roll keeps the queries map parseable
    assert(Bench.loadPrevMedians(p) == Map("a" -> 0.1))
  }

  test("loadPrevField anchors to TOP-LEVEL fields: nested and in-string shadows can't win") {
    // the ADVICE r15 hazard: a query literally named cpu_kernel_sec inside
    // the queries object, AND a string value containing the field-shaped
    // substring — the old indexOf scan parsed whichever came first
    val line = """{"metric":"total","sf":"note \"cpu_kernel_sec\":99 here",""" +
      """"queries":{"cpu_kernel_sec":7.0,"q1":0.1},"cpu_kernel_sec":0.05,"run_seq":3}"""
    val p = java.nio.file.Paths.get(SparkEntry.tempDir("graft-bench-prev"), "bench-prev-shadow.json")
    java.nio.file.Files.writeString(p, line + "\n")
    assert(Bench.loadPrevField(p, "cpu_kernel_sec").contains(0.05))
    assert(Bench.loadPrevField(p, "run_seq").contains(3.0))
    // prefix-named fields: "run" must not match inside "run_seq"
    assert(Bench.loadPrevField(p, "run").isEmpty)
    assert(Bench.loadPrevMedians(p) == Map("cpu_kernel_sec" -> 7.0, "q1" -> 0.1))
  }

  test("shouldRollPrev: opt-in only, and refused under a degraded window") {
    // the r14/r15 driver clobber: no env flag -> never rolls
    assert(!Bench.shouldRollPrev(Map.empty, 0.94))
    assert(!Bench.shouldRollPrev(Map("SPARK_GRAFT_NO_ROLL_PREV" -> "1"), 0.94))
    // the builder's freeze recipe: explicit flag + healthy window rolls
    assert(Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "1"), 0.94))
    assert(Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "1"), 1.1))
    // even an explicit request refuses a degraded-window roll (load 1.064
    // was exactly the r15 post-freeze record that clobbered the baseline —
    // under the bar, but the flag alone would have stopped it)
    assert(!Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "1"), 1.2))
    assert(!Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "0"), 0.9))
    // common truthy spellings roll too — a freeze-recipe typo (`=true`)
    // silently skipping the roll would be the stale-baseline failure this
    // flag exists to close; unrecognized values refuse loudly instead
    assert(Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "true"), 0.9))
    assert(Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "YES"), 0.9))
    assert(!Bench.shouldRollPrev(Map("SPARK_GRAFT_ROLL_PREV" -> "maybe"), 0.9))
    assert(Bench.rollValueUnrecognized(Map("SPARK_GRAFT_ROLL_PREV" -> "maybe")))
    assert(!Bench.rollValueUnrecognized(Map("SPARK_GRAFT_ROLL_PREV" -> "false")))
    assert(!Bench.rollValueUnrecognized(Map.empty))
  }

  test("summaryLine stays under a tail-capture window and is self-describing") {
    // the driver's artifact capture keeps only the stdout TAIL of a very
    // long record line — the compact repeat must survive a tail window
    // intact (≤500 bytes) with every anchor present, even at worst-case
    // field widths
    val line = Bench.summaryLine(
      total = 99999.999, nQueries = 99999, loadRatio = 99.999,
      cpuRatio = 99.999, runSeq = Long.MaxValue,
      transformRps = Long.MaxValue, upsertRps = Long.MaxValue,
      microbatchSec = 99999.999, nErrors = 999, nReran = 999,
      sf = "x" * 300) // pathological sfDir truncates rather than growing
    assert(line.getBytes("UTF-8").length <= 500, line)
    val fields = Bench.topLevelFields(line)
    assert(fields.get("metric").contains("\"bench_summary\""))
    for (k <- Seq("value", "n_queries", "load_ratio", "cpu_ratio", "run_seq",
        "transform_rps", "upsert_rps", "microbatch_sec", "n_errors",
        "n_reran", "n_burst_windows", "sf"))
      assert(fields.contains(k), s"missing $k in $line")
    // and realistic values round-trip numerically
    val real = Bench.summaryLine(85.7, 195, 0.951, 0.698, 1755321000000L,
      5100000L, 35800L, 0.69, 0, 0, "/root/testdata/sf0.1")
    assert(Bench.topLevelFields(real)("value").toDouble === 85.7)
    assert(Bench.topLevelFields(real)("n_queries").toInt === 195)
    // a quote/backslash in sfDir must not break the one line whose whole
    // purpose is to parse; non-ASCII paths bound by BYTES, not chars
    val hostile = Bench.summaryLine(1.0, 1, 1.0, 1.0, 1L, 1L, 1L, 1.0, 0, 0,
      """C:\data\"quoted" dir""")
    assert(Bench.topLevelFields(hostile).contains("sf"), hostile)
    assert(Bench.topLevelFields(hostile)("n_reran") === "0")
    val cjk = Bench.summaryLine(1.0, 1, 1.0, 1.0, 1L, 1L, 1L, 1.0, 0, 0,
      "数" * 300)
    assert(cjk.getBytes("UTF-8").length <= 500, cjk)
    assert(Bench.topLevelFields(cjk).contains("sf"))
    // byte-truncation never strands half a surrogate pair
    val emoji = new String(Character.toChars(0x1F600)) * 100
    val em = Bench.jsonStr(emoji, maxBytes = 10)
    assert(em.getBytes("UTF-8").length <= 12)
    assert(!em.exists(Character.isHighSurrogate(_)) ||
      em.count(Character.isHighSurrogate) == em.count(Character.isLowSurrogate))
  }

  test("burstWindows flags a roving-load stretch; single regressions stay silent") {
    val prev = ('a' to 'z').map(c => s"q_$c" -> 1.0).toMap
    // healthy run: uniform 1.1x — no windows
    val healthy = ('a' to 'z').map(c => s"q_$c" -> 1.1)
    assert(Bench.burstWindows(healthy, prev, 1.1).isEmpty)
    // the r17 signature: one execution-order stretch at ~3x under a
    // normal suite median
    val burst = ('a' to 'z').map { c =>
      s"q_$c" -> (if (c >= 'h' && c <= 'm') 3.0 else 1.0)
    }
    val w = Bench.burstWindows(burst, prev, 1.0)
    assert(w === Seq(("q_h", "q_m", 6, 3.0)))
    // one genuine 10x plan regression (or a co-touched pair) never trips
    val single = ('a' to 'z').map { c =>
      s"q_$c" -> (if (c == 'h' || c == 'i') 10.0 else 1.0)
    }
    assert(Bench.burstWindows(single, prev, 1.0).isEmpty)
    // uniform host load is the loadRatio's job, not a burst: a whole-run
    // 2.5x with loadRatio 2.5 normalizes away
    val uniform = ('a' to 'z').map(c => s"q_$c" -> 2.5)
    assert(Bench.burstWindows(uniform, prev, 2.5).isEmpty)
    // launch-noise queries (prev <= 50 ms) are not eligible; stretches
    // separated ONLY by them are continuous in wall time (sub-50 ms
    // queries take no window) and count as one burst
    val tinyPrev = prev + ("q_j" -> 0.01) + ("q_k" -> 0.01)
    val bridged = ('a' to 'z').map { c =>
      s"q_$c" -> (if (c >= 'h' && c <= 'm') 3.0 else 1.0)
    }
    // h,i + l,m = 4 consecutive eligible queries at 3x → one window
    assert(Bench.burstWindows(bridged, tinyPrev, 1.0) ===
      Seq(("q_h", "q_m", 4, 3.0)))
  }

  test("burstWindows property: windows are >=4, above-bar throughout, maximal, disjoint") {
    val rnd = new scala.util.Random(181818L)
    for (_ <- 1 to 200) {
      val n = 5 + rnd.nextInt(60)
      val names = (0 until n).map(i => f"q_$i%03d")
      val prev = names.map(_ -> 1.0).toMap
      // mix healthy ratios with occasional elevated stretches
      val cur = names.map { k =>
        val r =
          if (rnd.nextDouble() < 0.25) 2.0 + rnd.nextDouble() * 3
          else 0.7 + rnd.nextDouble()
        k -> r
      }
      val ws = Bench.burstWindows(cur, prev, 1.0)
      val ratio = cur.toMap
      val idx = names.zipWithIndex.toMap
      // reconstruct each window's span and check every property
      var lastEnd = -1
      for ((from, to, len, med) <- ws) {
        val (i, j) = (idx(from), idx(to))
        assert(j - i + 1 === len && len >= 4)
        assert(i > lastEnd, "windows overlap or out of order")
        lastEnd = j
        val member = (i to j).map(k => ratio(names(k)))
        assert(member.forall(_ >= 2.0), s"below-bar member in $from..$to")
        assert(med >= 2.0)
        // maximal: the neighbors just outside are below the bar
        if (i > 0) assert(ratio(names(i - 1)) < 2.0, "left-extendable window")
        if (j < n - 1) assert(ratio(names(j + 1)) < 2.0, "right-extendable window")
      }
      // completeness: every >=4 run of >=2x ratios is reported
      var i = 0
      var expected = 0
      while (i < n) {
        if (ratio(names(i)) >= 2.0) {
          var j = i
          while (j + 1 < n && ratio(names(j + 1)) >= 2.0) j += 1
          if (j - i + 1 >= 4) expected += 1
          i = j + 1
        } else i += 1
      }
      assert(ws.size === expected, s"missed or extra windows (n=$n)")
    }
  }

  test("jsonStr budgets the ESCAPED bytes — expansion cannot outgrow maxBytes") {
    // escape expansion (quote/backslash 2×, control chars 6×) used to be
    // measured on the RAW string: a 120-byte field of quotes emitted 240
    // bytes and could push the summary line past its tail-window budget
    for (s <- Seq("\"" * 120, "\\" * 120, "\u0001" * 120,
        ("\"\\\u0007" + "数") * 60)) {
      val out = Bench.jsonStr(s, maxBytes = 120)
      // content bytes (between the enclosing quotes) within budget
      assert(out.getBytes("UTF-8").length <= 122, s"overflow: $out")
      assert(out.startsWith("\"") && out.endsWith("\""))
      // still parseable: the escape trim never splits a \-sequence
      assert(Bench.topLevelFields(s"""{"sf":$out}""").contains("sf"), out)
    }
    // plain ASCII keeps the full budget (the fix must not over-shrink)
    assert(Bench.jsonStr("x" * 120, maxBytes = 120) === "\"" + "x" * 120 + "\"")
  }

  test("Verify summary line stays under the tail window with hostile fields") {
    // the correctness-side record line gets the same pins the bench side
    // has: every variable-width field byte-bounded THROUGH Bench.jsonStr,
    // whole line ≤500 bytes, parseable by topLevelFields — a non-ASCII
    // outDir or pathological query names truncate rather than grow
    val hostile = Verify.summaryLine(
      nQueries = 99999, nFailures = 99999,
      failedKeys = Seq.fill(9)("q_" + "数" * 200 + "\"\\"),
      outDir = "/tmp/ü" + "数" * 200)
    assert(hostile.getBytes("UTF-8").length <= 500, hostile)
    val fields = Bench.topLevelFields(hostile)
    assert(fields.get("metric").contains("\"verify_summary\""))
    for (k <- Seq("n_queries", "n_failures", "failed", "out"))
      assert(fields.contains(k), s"missing $k in $hostile")
    // realistic values round-trip numerically
    val real = Verify.summaryLine(210, 1, Seq("q1_agg"), "/tmp/verify-out")
    assert(Bench.topLevelFields(real)("n_queries").toInt === 210)
    assert(Bench.topLevelFields(real)("n_failures").toInt === 1)
    assert(Bench.topLevelFields(real)("failed") === """["q1_agg"]""")
  }

  test("loadPrevMedians parses a persisted record line and tolerates absence") {
    val p = java.nio.file.Paths.get(SparkEntry.tempDir("graft-bench-prev"), "bench-prev.json")
    java.nio.file.Files.writeString(p,
      """{"metric":"total","value":1.2,"unit":"sec","queries":{"q1_agg":0.475,"q_topn":0.13},"query_bands":{"q1_agg":[0.4,0.475,0.5]},"sf":"x"}""")
    val m = Bench.loadPrevMedians(p)
    assert(m == Map("q1_agg" -> 0.475, "q_topn" -> 0.13))
    assert(Bench.loadPrevMedians(java.nio.file.Paths.get("/nonexistent/x.json")).isEmpty)
  }
}
