package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Reports per-query wall seconds plus the three BASELINE.md §"Bench target"
  * throughput anchors: snapshot-load rows/sec into the upsert sink
  * (`upsert_rps`, comparable to the reference's DsqlBatchSinkFunction RPS
  * logs), end-to-end transform throughput (`transform_rps`), and micro-batch
  * latency for a 1k-event batch (`microbatch_sec` vs the reference's 30 s
  * batch-timeout operating point).
  *
  * Usage: runMain graft.Bench                              — the record
  *        runMain graft.Bench phases [sfDir] [query...]    — see [[phases]]
  *        runMain graft.Bench ab-spread [sfDir] [query...] — see [[abSpread]]
  */
object Bench {

  /** Pick which timed triple (sorted [min, median, max]) to report.
    *
    * A fresh triple is SUSPICIOUS when (a) its own band is wide
    * (max/min > 3×) — the round-7 signature — or (b) its median exceeds 3×
    * the same query's PREVIOUS-round median by ≥0.2 s absolute: round-9's
    * driver record shipped seven load-poisoned medians (6–9× on trivial
    * queries) whose in-run bands were individually tight, so only the
    * cross-round comparison can see them. Suspicious triples are remeasured
    * once; pick the smaller-median triple for cross-round suspicion (a
    * GENUINE regression reproduces, so the min of two medians still shows
    * it; transient machine load does not) and the tighter band for in-run
    * suspicion. Returns (triple, wasRemeasured); a flaked remeasure keeps
    * the four-successful-runs first triple.
    */
  def adjudicate(t1: Seq[Double], prevMedian: Option[Double],
                 remeasure: () => Option[Seq[Double]]): (Seq[Double], Boolean) = {
    def spread(t: Seq[Double]): Double = t.last / math.max(t.head, 1e-9)
    val inRunSuspicious = spread(t1) > 3.0
    val vsPrevSuspicious =
      prevMedian.exists(p => t1(1) > 3.0 * p && t1(1) - p > 0.2)
    if (!inRunSuspicious && !vsPrevSuspicious) (t1, false)
    else remeasure() match {
      case Some(t2) =>
        val pick =
          if (vsPrevSuspicious) { if (t2(1) < t1(1)) t2 else t1 }
          else { if (spread(t2) < spread(t1)) t2 else t1 }
        (pick, true)
      case None => (t1, true)
    }
  }

  /** Locale-pinned numeric formatting for the JSON records: `f"..%.3f"`
    * formats with the JVM default locale, so a comma-decimal host would
    * write an invalid-JSON baseline that [[loadPrevMedians]] silently
    * parses as an empty map next round. ONE shared helper for Bench and
    * ScaleProbe.
    */
  def jnum(d: Double, decimals: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** Median of an ASCENDING-sorted sequence, averaging the central pair for
    * even sizes — `rs(rs.size / 2)` is the upper-middle element there,
    * which systematically loosens any envelope normalized by it.
    */
  def medianOfSorted(rs: Seq[Double]): Double = {
    require(rs.nonEmpty, "median of empty seq")
    if (rs.size % 2 == 1) rs(rs.size / 2)
    else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2.0
  }

  /** The run's own median per-query ratio vs the previous round's medians —
    * uniform ambient host load moves every query by ~this ratio (the
    * r12/r13 signature), so a cross-round regression analysis compares
    * `median / loadRatio` against the previous medians: one query far off
    * the shared ratio is a plan change, the ratio itself is the host.
    * Sub-50 ms previous medians are launch-noise and excluded; no shared
    * queries → 1.0.
    */
  def loadRatio(current: Seq[(String, Double)],
                prev: Map[String, Double]): Double = {
    val rs = current.flatMap { case (k, v) =>
      prev.get(k).collect { case p if p > 0.05 => v / p }
    }.sorted
    if (rs.isEmpty) 1.0 else medianOfSorted(rs)
  }

  /** Mechanical in-run burst verdict — the discard decision the builder
    * made BY HAND for two r17 runs (roving multi-minute host-load windows
    * inflate one execution-order stretch of queries 2.7–3.4× with TIGHT
    * in-run bands, invisible to the suite-median `loadRatio`), now a field
    * of the record itself (`window_flags`), the way `jit_floor_samples`
    * made isolated-probe adjudication mechanical.
    *
    * A burst window = ≥4 consecutive (execution-order) ratio-eligible
    * queries whose prev-normalized, load-corrected ratios all reach 2× —
    * long enough that one genuine plan regression (a single query, or a
    * co-touched pair) cannot trip it, short enough to catch the
    * multi-minute windows. Eligibility mirrors [[loadRatio]]: previous
    * median > 50 ms. Returns (firstQuery, lastQuery, n, medianRatio) per
    * window; an empty result is the healthy-run verdict a roll-worthy
    * record should carry.
    *
    * ASSUMPTION: bursts are a MINORITY of the eligible queries. The
    * correction divides by the suite-median `loadRatio`, which is computed
    * over the same run — a burst covering ~half or more of the eligible
    * queries drags the median up with it and the division masks the window
    * (e.g. a 40%-of-run burst at 2.2× under a polluted median of 1.6 flags
    * nothing). That matches the observed host signature (multi-minute
    * windows over a ~100-query suite); a majority-of-run elevation is the
    * uniform-load case, which is `loadRatio`'s job, not this detector's.
    */
  def burstWindows(ordered: Seq[(String, Double)], prev: Map[String, Double],
                   loadRatio: Double): Seq[(String, String, Int, Double)] = {
    val lr = math.max(1.0, loadRatio)
    val ratios = ordered.flatMap { case (k, v) =>
      prev.get(k).collect { case p if p > 0.05 => (k, v / p / lr) }
    }
    val out = Seq.newBuilder[(String, String, Int, Double)]
    var i = 0
    while (i < ratios.length) {
      if (ratios(i)._2 >= 2.0) {
        var j = i
        while (j + 1 < ratios.length && ratios(j + 1)._2 >= 2.0) j += 1
        if (j - i + 1 >= 4) {
          val rs = ratios.slice(i, j + 1).map(_._2).sorted
          out += ((ratios(i)._1, ratios(j)._1, j - i + 1, medianOfSorted(rs)))
        }
        i = j + 1
      } else i += 1
    }
    out.result()
  }

  /** The per-core-CPU-bound query families — dedup shingle hashing and the
    * knn/hard-negative/fuzzy codegen loops, the shapes that twice (r13,
    * r14) ran 1.7–2.4× their envelopes under ambient windows the suite
    * median could not see (it is shuffle/launch bound). These normalize by
    * `max(load_ratio, cpu_ratio)` ([[envelopeRatio]]) instead of
    * `load_ratio` alone.
    */
  def cpuBoundFamily(name: String): Boolean =
    name.startsWith("q_dedup") || cpuBoundNames(name)
  val cpuBoundNames: Set[String] = Set("q_knn_join", "q_hard_negatives",
    "q_fuzzy_join", "q_fuzzy_join_probe", "q_paragraph_dedup",
    "q_semdedup", "q_span_dedup")

  /** The envelope normalizer for one query: uniform host load
    * (`loadRatio`) for every query; the CPU-bound families additionally
    * ride the measured `cpuRatio` when it is larger. Both legs clamp ≥ 1 —
    * a FASTER host never tightens a committed envelope.
    */
  def envelopeRatio(loadRatio: Double, cpuRatio: Double, cpuBound: Boolean): Double = {
    val lr = math.max(1.0, loadRatio)
    if (cpuBound) math.max(lr, math.max(1.0, cpuRatio)) else lr
  }

  /** Raw text of each TOP-LEVEL field of a one-line JSON record — a
    * depth- and string-aware scan (values come back verbatim, nested
    * braces included), shared by [[loadPrevField]] and
    * [[loadPrevMedians]]. The old indexOf substring scan would match a
    * field name appearing INSIDE a nested object (a query literally named
    * `cpu_kernel_sec`) or inside a string value, silently parsing the
    * wrong number into every CPU-bound envelope for the round.
    */
  def topLevelFields(s: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = s.indexOf('{')
    if (i < 0) return Map.empty
    i += 1
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    // at an opening quote: consume the string, return its unescaped-enough
    // content (field names in our records never contain escapes)
    def parseString(): String = {
      val sb = new StringBuilder
      i += 1
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\' && i + 1 < s.length) { sb.append(s(i + 1)); i += 2 }
        else { sb.append(s(i)); i += 1 }
      }
      i += 1
      sb.toString
    }
    // raw value text: tracks nesting depth and in-string state so commas
    // and braces inside nested objects/strings never terminate early
    def parseValue(): String = {
      val start = i
      var depth = 0
      var inStr = false
      var done = false
      while (i < s.length && !done) {
        val c = s(i)
        if (inStr) {
          if (c == '\\') i += 1
          else if (c == '"') inStr = false
          i += 1
        } else c match {
          case '"' => inStr = true; i += 1
          case '{' | '[' => depth += 1; i += 1
          case '}' | ']' =>
            if (depth == 0) done = true else { depth -= 1; i += 1 }
          case ',' if depth == 0 => done = true
          case _ => i += 1
        }
      }
      s.substring(start, i).trim
    }
    var more = true
    while (more && i < s.length) {
      skipWs()
      if (i >= s.length || s(i) == '}') more = false
      else if (s(i) == ',') i += 1
      else if (s(i) == '"') {
        val key = parseString()
        skipWs()
        if (i < s.length && s(i) == ':') { i += 1; skipWs(); out += key -> parseValue() }
        else more = false
      } else more = false
    }
    out.result()
  }

  /** One top-level numeric field from a persisted record line (e.g.
    * `cpu_kernel_sec`). Missing file/field → None, never a failed bench.
    */
  def loadPrevField(path: java.nio.file.Path, field: String): Option[Double] =
    try topLevelFields(java.nio.file.Files.readString(path)).get(field)
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
    catch { case _: Exception => None }

  /** The compact record line printed LAST on stdout, after the full
    * record: the driver's artifact capture has kept only the stdout TAIL
    * of a very long record line for nine straight rounds (`BENCH_r{N}`
    * `parsed: null`), so totals + anchors + provenance — no per-query
    * maps — are repeated in a self-describing line small enough (≤500
    * bytes by construction, pinned in spec) to survive a tail window
    * intact. The builder-side records (`target/bench-latest.json`,
    * `bench-prev.json`) are unchanged and stay the full line.
    */
  def summaryLine(total: Double, nQueries: Int, loadRatio: Double,
                  cpuRatio: Double, runSeq: Long, transformRps: Long,
                  upsertRps: Long, microbatchSec: Double, nErrors: Int,
                  nReran: Int, sf: String, nBurstWindows: Int = 0): String =
    s"""{"metric":"bench_summary","value":${jnum(total)},"unit":"sec",""" +
      s""""n_queries":$nQueries,"load_ratio":${jnum(loadRatio)},""" +
      s""""cpu_ratio":${jnum(cpuRatio)},"run_seq":$runSeq,""" +
      s""""transform_rps":$transformRps,"upsert_rps":$upsertRps,""" +
      s""""microbatch_sec":${jnum(microbatchSec)},""" +
      s""""n_errors":$nErrors,"n_reran":$nReran,""" +
      s""""n_burst_windows":$nBurstWindows,""" +
      s""""sf":${jsonStr(sf, maxBytes = 120)}}"""

  /** JSON string literal, escaped (a quote or backslash in a path must
    * not break the one line whose whole purpose is to parse) and bounded
    * by UTF-8 BYTES of the ESCAPED output — `take(n)` counts chars (120
    * CJK chars is ~360 bytes), and budgeting the raw string lets escape
    * expansion (quote/backslash 2×, control chars 6×) blow past the
    * tail-window byte budget the summary line pins in spec. Trimming the
    * raw string until its escaped form fits can never split an escape
    * sequence. Quadratic in the worst case, but inputs are ≤300-char
    * paths and it runs once per record line.
    */
  def jsonStr(s: String, maxBytes: Int): String = {
    def bytes(t: String): Int =
      jsonEsc(t).getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    var t = s
    while (bytes(t) > maxBytes) t = t.substring(0, t.length - 1)
    // char-wise truncation can strand a high surrogate — drop it rather
    // than emit invalid UTF-8
    if (t.nonEmpty && Character.isHighSurrogate(t.last))
      t = t.substring(0, t.length - 1)
    "\"" + jsonEsc(t) + "\""
  }

  /** The harness's one JSON string escape: backslash, quote, and ALL control
    * chars (< 0x20; `\n`, `\r` and `\t` short) — a tab or CR in an
    * oracle's SQL would otherwise make `json.load` of `oracle_sql.json`
    * fail and silently zero the whole correctness check.
    */
  def jsonEsc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A JSON string literal, unbounded: [[jsonEsc]] in quotes. */
  def jstr(s: String): String = "\"" + jsonEsc(s) + "\""

  /** Stamp the rolled baseline with the run it came from: `bench-prev.json`
    * gets a `rolled_from` field naming the source record's `run_seq`, so a
    * hand-assembled baseline (the r14 practice: run-1 medians + run-3's
    * late audit queries) is self-describing and a reviewer can tell a
    * mechanical roll from an assembled one without archaeology.
    */
  def rollLine(recordLine: String, runSeq: Long): String =
    recordLine.stripLineEnd.stripSuffix("}") + s""","rolled_from":$runSeq}"""

  /** Previous-round per-query medians from a persisted bench record line
    * (the TOP-LEVEL `"queries":{...}` object — resolved via
    * [[topLevelFields]], so a same-named key nested elsewhere can't
    * shadow it). Missing/corrupt file → empty map, never a failed bench.
    */
  def loadPrevMedians(path: java.nio.file.Path): Map[String, Double] =
    try {
      topLevelFields(java.nio.file.Files.readString(path)).get("queries") match {
        case Some(obj) if obj.startsWith("{") =>
          obj.stripPrefix("{").stripSuffix("}").split(',').iterator.flatMap { kv =>
            kv.split(':') match {
              case Array(k, v) =>
                try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
                catch { case _: NumberFormatException => None }
              case _ => None
            }
          }.toMap
        case _ => Map.empty
      }
    } catch { case _: Exception => Map.empty }

  /** Whether this run may replace the committed cross-round baseline
    * (`bench-prev.json`). The roll is OPT-IN — `SPARK_GRAFT_ROLL_PREV=1`,
    * set only by the builder's freeze recipe (SCALE.md): the driver's
    * post-freeze bench, which knows nothing of the flag, clobbered the
    * committed healthy baseline with a degraded-window roll in BOTH r14
    * and r15 — provenance (`rolled_from`) made it visible, the inverted
    * default makes it impossible. Even when requested, a run whose own
    * raw load_ratio exceeds [[RollLoadBar]] refuses: a degraded window
    * must never become the envelope every next-round query normalizes
    * against (exactly the r13 trap, now closed on the explicit path too).
    */
  val RollLoadBar = 1.1

  /** Any common truthy spelling requests the roll — a freeze recipe typo
    * (`=true` instead of `=1`) silently skipping the roll AND its refusal
    * warning would be exactly the stale-baseline failure this flag exists
    * to close. Unrecognized non-empty values refuse LOUDLY (see main)
    * rather than guessing.
    */
  def rollRequested(env: Map[String, String]): Boolean =
    env.get("SPARK_GRAFT_ROLL_PREV").map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .exists(v => v == "1" || v == "true" || v == "yes")
  def rollValueUnrecognized(env: Map[String, String]): Boolean =
    env.get("SPARK_GRAFT_ROLL_PREV")
      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .exists(v => v.nonEmpty && !Set("1", "true", "yes", "0", "false", "no").contains(v))
  def shouldRollPrev(env: Map[String, String], loadRatio: Double): Boolean =
    rollRequested(env) && loadRatio <= RollLoadBar

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq() => record()
    case "phases" +: rest => perQuery("graft-bench-phases", rest)(phases)
    case "ab-spread" +: rest => perQuery("graft-bench-ab-spread", rest)(abSpread)
    case mode +: _ => throw new IllegalArgumentException(
      s"unknown Bench mode '$mode': run with no arguments, or phases | ab-spread")
  }

  private def record(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")

    // JVM/codegen warmup so per-query numbers measure the engine, not JIT
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // A query that throws is SURFACED in an `errors` map and excluded from
    // the timings — a -1 s sentinel folded into `total` (the old behavior)
    // reads as a fast query, not a broken one.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timedOrError(name: String)(f: => Unit): Option[Double] =
      try Some(time(f)._2)
      catch {
        case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(300)
          None
      }

    // one untimed warmup run per query (JIT, codegen cache, page cache), then
    // median of three timed runs: round-4 showed 5x same-code swings under
    // single-shot timing (q_embed_ivf_topk 0.82s vs 4.01s), which makes a 2x
    // perf gate unadjudicable — the median absorbs GC/JIT outliers both ways.
    // Suspicious triples (wide in-run band, or >3x this query's
    // previous-round median from bench-prev.json) are remeasured once —
    // see [[adjudicate]].
    val prevPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench-prev.json"))
    val prevMedians = loadPrevMedians(prevPath)
    // per-core CPU calibration: the fixed kernel at run start (and again at
    // run end, below) vs the baseline run's kernel — the CPU-bound
    // families' cross-round suspicion bar scales by it, so a slow ambient
    // window stops triggering remeasures the suite-median load_ratio
    // cannot justify
    val kernelStart = Calibrate.kernelSec()
    val prevKernel = loadPrevField(prevPath, "cpu_kernel_sec")
    val cpuRatioStart = prevKernel.fold(1.0)(p => kernelStart / p)
    val reran = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.timed
      .flatMap { q =>
        val name = q.name
        def once(): Option[Double] = timedOrError(name) { q.build(spark, sfDir).count(); () }
        once() // warmup
        def triple(): Option[Seq[Double]] =
          if (errors.contains(name)) None
          else {
            val rs = (1 to 3).map(_ => once())
            if (rs.exists(_.isEmpty)) None else Some(rs.flatten.sorted)
          }
        // the CPU-bound families' previous medians scale by the measured
        // cpu_ratio (clamped ≥ 1) before the 3× suspicion compare
        val prevForBar = prevMedians.get(name).map(
          _ * envelopeRatio(1.0, cpuRatioStart, cpuBoundFamily(name)))
        triple().map { t1 =>
          val (picked, didRerun) = adjudicate(t1, prevForBar, () => {
            val t2 = triple()
            // a flaked remeasure must not degrade four successful timed runs
            // into a hard error — adjudicate keeps the first triple
            if (t2.isEmpty) errors.remove(name)
            t2
          })
          if (didRerun) reran += name
          (name, picked)
        }
      }

    // composed e2e control-path rows: launch-overhead-bound (sf-invariant),
    // run once each and reported OUTSIDE the throughput total — see
    // SparkEntry.Q's `launchBound`
    val e2e = SparkEntry.catalog.filter(_.launchBound).sortBy(_.name).flatMap { q =>
      timedOrError(q.name) { q.build(spark, sfDir).count(); () }
        .map(sec => (q.name, sec))
    }

    // throughput anchors (queries already warmed by the loop above)
    val lineitemRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val tTransform = median3 {
      time { SparkEntry.query("q_transform_computed").build(spark, sfDir).count() }._2
    }
    val transformRps = lineitemRows / math.max(tTransform, 1e-9)

    val eventRows = spark.read.parquet(s"$sfDir/events.parquet").count()
    val tUpsert = median3 {
      time { SparkEntry.query("q_stream_pipeline").build(spark, sfDir).count() }._2
    }
    val upsertRps = eventRows / math.max(tUpsert, 1e-9)

    // micro-batch latency: 1000-event debezium batch through the full pipeline
    val microbatchSec = {
      import graft.model._
      import org.apache.spark.sql.functions._
      val srcId = TableId.of("db", "events")
      val schema = CdcSchema.of("user_id" -> "BIGINT", "event_type" -> "STRING", "value" -> "DOUBLE")
        .copy(primaryKeys = Seq("user_id"))
      val out = SparkEntry.tempDir("graft-bench-mb")
      val sink = new graft.sinks.ParquetUpsertSink(out)
      val pipe = new graft.streaming.StreamingPipeline(new graft.operators.SchemaRegistry(), sink = sink)
      pipe.applySchemaChange(CreateTableEvent(srcId, schema))
      val batch = graft.sinks.ChangelogJson.debezium(
        spark.read.parquet(s"$sfDir/events.parquet").limit(1000).select(
          col("user_id"), col("event_type"), col("value"),
          lit("REPLACE").as(graft.operators.Changelog.OpCol),
          col("event_id").as(graft.operators.Changelog.SeqCol)), srcId).cache()
      batch.count()
      val (_, t0) = time { pipe.processBatch(batch, 0L) } // initial load
      // steady-state merge, median of three batches
      val t1 = median3 { time { pipe.processBatch(batch, 1L) }._2 }
      math.min(t0, t1)
    }

    val ratio = loadRatio(results.map { case (k, v) => (k, v(1)) }, prevMedians)
    // run-end kernel: the pair (start, end) records within-run host drift —
    // the r14 end-of-round degradation measurement, now a number in the
    // record instead of prose in SCALE.md. The canonical cpu_kernel_sec
    // (what next round's ratio divides by) is the mean of the two: the
    // queries were measured throughout the window, not at either edge.
    val kernelEnd = Calibrate.kernelSec()
    val kernelSec = (kernelStart + kernelEnd) / 2.0
    val cpuRatio = prevKernel.fold(1.0)(p => kernelSec / p)
    val qs = results.map { case (k, v) => jstr(k) + ":" + v(1) }.mkString("{", ",", "}")
    // per-query [min, median, max] of the 3 timed runs: round-6 reported a
    // 3.5x "regression" on q_dedup_ngram that round-7 could not reproduce
    // (machine-load noise during the driver run) — the bands let future
    // rounds separate noise from signal without archaeology
    val bands = results.map { case (k, v) =>
      jstr(k) + ":[" + v.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2.apply(1)).sum
    val e2eJson = e2e.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val reranJson = reran.map(jstr).mkString("[", ",", "]")
    // the burst-discard verdict rides the record (see [[burstWindows]]):
    // a run the freeze recipe should discard says so itself
    val bursts = burstWindows(
      results.map { case (k, v) => (k, v(1)) }, prevMedians, ratio)
    val burstJson = bursts.map { case (from, to, n, r) =>
      s"""{"from":${jstr(from)},"to":${jstr(to)},"n":$n,"ratio":${jnum(r)}}"""
    }.mkString("""{"bursts":[""", ",", "]}")
    val runSeq = System.currentTimeMillis()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""load_ratio":${jnum(ratio)},""" +
      s""""cpu_kernel_sec":${jnum(kernelSec, 4)},""" +
      s""""cpu_kernel_sec_start":${jnum(kernelStart, 4)},""" +
      s""""cpu_kernel_sec_end":${jnum(kernelEnd, 4)},""" +
      s""""cpu_ratio":${jnum(cpuRatio)},""" +
      s""""run_seq":$runSeq,""" +
      s""""query_bands":$bands,"e2e_untimed_sec":$e2eJson,""" +
      s""""errors":$errJson,"reran":$reranJson,"window_flags":$burstJson,""" +
      s""""transform_rps":${transformRps.round},"upsert_rps":${upsertRps.round},""" +
      s""""microbatch_sec":$microbatchSec,"sf":${jstr(sfDir)}}"""
    // scalastyle:off println
    println(line)
    // scalastyle:on
    // ALSO persist the record: round-7's stdout tail capture truncated 65 of
    // 79 per-query numbers — a file copy makes the record loss-proof
    try {
      val p = java.nio.file.Paths.get("target/bench-latest.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
      // and roll the cross-round baseline: next round's run compares each
      // query against THIS run's medians (bench-prev.json is committed, so
      // it survives `clean` and re-clones). The roll is OPT-IN
      // (SPARK_GRAFT_ROLL_PREV=1, the builder's freeze recipe) and refuses
      // under a degraded window — see [[shouldRollPrev]]; the rolled
      // baseline names its source record (`rolled_from` = this record's
      // run_seq) so a hand-assembled baseline stays distinguishable from
      // a mechanical roll
      if (shouldRollPrev(sys.env, ratio)) {
        java.nio.file.Files.writeString(prevPath, rollLine(line, runSeq) + "\n")
        ()
      } else if (rollRequested(sys.env))
        System.err.println(f"[graft] bench: roll requested but load_ratio " +
          f"$ratio%.3f exceeds the ${RollLoadBar} sanity bar — baseline NOT " +
          "rolled (re-run in a quieter window)")
      else if (rollValueUnrecognized(sys.env))
        System.err.println("[graft] bench: SPARK_GRAFT_ROLL_PREV=" +
          s"'${sys.env("SPARK_GRAFT_ROLL_PREV")}' not recognized " +
          "(use 1/true/yes) — baseline NOT rolled")
    } catch { case _: Exception => () } // stdout line already carries the record
    // the compact repeat is the LAST stdout line — see [[summaryLine]] —
    // and a fixed liftable file next to the full record (the same two
    // capture chances Verify's summary has: stdout tail + a file)
    val summary = summaryLine(total, results.size, ratio, cpuRatio, runSeq,
      transformRps.round, upsertRps.round, microbatchSec, errors.size,
      reran.size, sfDir, bursts.size)
    try {
      // own createDirectories: the bench-latest block above also creates
      // target/, but this file must not depend on that unrelated write
      // having succeeded (or on block order) in a clean checkout
      val sp = java.nio.file.Paths.get("target/bench-summary.json")
      java.nio.file.Files.createDirectories(sp.getParent)
      java.nio.file.Files.writeString(sp, summary + "\n")
      ()
    } catch { case _: Exception => () } // the stdout line still carries it
    // scalastyle:off println
    println(summary)
    // scalastyle:on
    spark.stop()
  }

  /** The profiling modes' shared loop: the named queries (default: every
    * timed one) over `sfDir` (default `SPARK_GRAFT_SF_DIR`, else sf0.1) on
    * an ERROR-level session warmed by one lineitem scan; one JSON line per
    * query on stdout, `{"q":…,"error":…}` when it throws. `measure` returns
    * the line's fields after `q`.
    */
  private def perQuery(app: String, args: Seq[String])(
      measure: (SparkSession, String, SparkEntry.Q) => String): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = if (args.length > 1) args.drop(1) else SparkEntry.timed.map(_.name)
    val spark = Sessions.local(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    for (name <- names) {
      val fields =
        try {
          spark.sparkContext.setJobDescription(name)
          measure(spark, sfDir, SparkEntry.query(name))
        } catch {
          case e: Throwable => s""""error":${jsonStr(
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage), 200)}"""
        }
      // scalastyle:off println
      println(s"""{"q":${jstr(name)},$fields}""")
      // scalastyle:on
    }
    spark.stop()
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
  private def median3(f: => Double): Double = (1 to 3).map(_ => f).sorted.apply(1)

  /** `phases`: split a query's wall time into driver-side phases so tuning
    * targets the real cost, not a guess.
    *
    *   build = q.build(spark, dir)                   — DataFrame construction
    *           (includes any driver actions the query runs while composing,
    *           e.g. split-point lookups or index builds)
    *   plan  = df.queryExecution.executedPlan          — analyze + optimize +
    *           physical planning (AQE re-planning still lands in exec)
    *   exec  = df.count()                              — the bench's action
    *
    * Methodology mirrors the record: one untimed warmup, then median of
    * three per phase.
    */
  private def phases(spark: SparkSession, sfDir: String, q: SparkEntry.Q): String = {
    def df = q.build(spark, sfDir)
    df.count() // warmup (JIT, codegen, page cache)
    val build = median3(time(df)._2)
    // the bench's action is .count(), which plans its own aggregate on
    // top of the query — phase-split THAT plan, not the bare frame's
    val plan = median3 {
      val c = df.groupBy().count()
      time(c.queryExecution.executedPlan)._2
    }
    val exec = median3 {
      val c = df.groupBy().count()
      c.queryExecution.executedPlan // planned outside the timed region
      time(c.head().getLong(0))._2
    }
    val total = median3(time(df.count())._2)
    s""""build":${jnum(build)},"plan":${jnum(plan)},""" +
      s""""exec":${jnum(exec)},"total":${jnum(total)}"""
  }

  /** `ab-spread`: in-JVM alternating A/B of the [[graft.ops.Spread]] exchange
    * (ambient host load moves BETWEEN JVMs,
    * so the only trustworthy compare interleaves both arms in one session).
    * Warm up both arms once, then 3 interleaved (on, off) timed pairs of the
    * bench action; report per-arm medians.
    */
  private def abSpread(spark: SparkSession, sfDir: String, q: SparkEntry.Q): String = {
    def arm(on: Boolean): Double = {
      spark.conf.set(graft.ops.Spread.ConfKey, on.toString)
      time(q.build(spark, sfDir).count())._2
    }
    arm(true); arm(false) // warmups
    val pairs = (1 to 3).map(_ => (arm(true), arm(false)))
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val on = med(pairs.map(_._1))
    val off = med(pairs.map(_._2))
    s""""spread_on":${jnum(on)},"spread_off":${jnum(off)},""" +
      s""""ratio":${jnum(on / math.max(off, 1e-9))}"""
  }
}
