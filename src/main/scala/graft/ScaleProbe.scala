package graft

import graft.Bench.{jnum, jstr}
import org.apache.spark.sql.SparkSession

/** Super-linearity probe: run the timed query set ONCE at a larger scale
  * factor and compare each wall time against `factor ×` the committed
  * sf0.1 medians — the cheapest way to catch a quadratic shape the sf0.1
  * gate structurally cannot see (a candidate explosion, an accidental
  * cross join, a per-key buffer that grows with corpus size).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<scaledDir> runMain graft.ScaleProbe [factor=10] [query...]
  * (trailing query names restrict the run — the per-fix re-measure loop)
  *
  * One untimed warmup run per query (codegen/JIT, and the once-per-JVM
  * shared index builds land there, exactly as in Bench), then ONE timed
  * run — medians-of-three would triple an already-long probe for noise
  * margins the flag rule doesn't need. Flags on ratio AND absolute
  * excess — `t > 2 × norm × linear + 1 s` where `linear = factor ×
  * sf0.1 median`, `norm = loadRatio` ([[loadNormalizer]]: the run's own
  * median per-query ratio vs linear, clamped to [1, 1.5], neutral below
  * 20 shared queries) for most queries, and `max(loadRatio, cpu_ratio)`
  * for the per-core-CPU-bound families ([[Bench.cpuBoundFamily]], with
  * cpu_ratio the fixed [[Calibrate]] kernel vs the baseline run's) —
  * tighter than the round brief's 10× bar, loose enough that single-run
  * noise on sub-second queries cannot flag, and immune to both uniform
  * ambient host load and family-selective CPU drift (each moves its
  * recorded ratio, not the flag count). The >10 s index-building [[heavyTail]] runs last
  * in an isolated phase (cache-clear + GC before each) so block-manager
  * residue from ~170 earlier queries stops inflating exactly the queries
  * big enough to feel it. Writes `target/scale-probe.json`; flagged
  * queries get a SCALE.md diagnosis.
  */
object ScaleProbe {

  /** The probe's measured heavy tail (>10 s at sf1): index-building
    * similarity/fuzzy families whose in-run times have twice run 2-2.7x
    * their isolated-JVM envelopes (r12 fuzzy_join, r13 fuzzy_join_probe —
    * both adjudicated clean by manual isolated re-runs). The contention is
    * JVM debris: ~170 earlier queries leave localCheckpoint blocks and
    * cached relations in the block manager until a GC lets ContextCleaner
    * drain them, and these four are the queries big enough to fight that
    * residue for heap. They run LAST in their own phase, each behind a
    * cache-clear + GC + settle that reproduces the isolated recipe in-run,
    * so a flag on them means a plan change, not an adjudication chore.
    */
  val heavyTail: Set[String] =
    Set("q_knn_join", "q_fuzzy_join", "q_fuzzy_join_probe", "q_hard_negatives")

  /** The probe's load normalizer from the ASCENDING-sorted per-query
    * ratios vs linear — median (central-pair averaged), clamped to
    * [1.0, 1.5], and NEUTRAL (1.0) below 20 shared queries. The guards
    * close two self-masking holes: an explicit 1–2-query probe invocation
    * must not let a regressed query set its own envelope (min-count), and
    * a uniform REAL regression across the suite must not normalize itself
    * away entirely (the 1.5 cap bounds how much the rule can attribute to
    * host load — above it, queries flag and the recorded load_ratio gets
    * eyeballed, see SCALE.md).
    */
  def loadNormalizer(sortedRatios: Seq[Double]): Double =
    if (sortedRatios.size < 20) 1.0
    else math.min(1.5, math.max(1.0, Bench.medianOfSorted(sortedRatios)))

  /** Drop JVM residue before an isolated measurement: evict cached
    * relations, then GC so ContextCleaner reclaims unreferenced
    * localCheckpoint/broadcast blocks, then settle briefly while the
    * cleaner's async drain runs.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(500)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    // the factor really is optional before trailing query names: a
    // non-numeric first arg starts the query list
    val (factor, queryArgs) =
      args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption) match {
        case Some(f) => (f, args.drop(1))
        case None => (10, args)
      }
    val spark = Sessions.local("graft-scale-probe")

    val prevPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench-prev.json"))
    val prev = Bench.loadPrevMedians(prevPath)
    // per-core CPU calibration vs the baseline run's kernel — the
    // CPU-bound families (dedup/knn/fuzzy) normalize by max(load_ratio,
    // cpu_ratio): family-selective host drift the suite median cannot see
    val kernelStart = Calibrate.kernelSec()
    val prevKernel = Bench.loadPrevField(prevPath, "cpu_kernel_sec")

    spark.read.parquet(s"$sfDir/lineitem.parquet").count() // JVM warmup

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val only = queryArgs.toSet
    val selected = SparkEntry.timed.filter(q => only.isEmpty || only(q.name))
    // heavy tail runs LAST in its own isolated phase — see [[heavyTail]]
    val (heavy, light) = selected.partition(q => heavyTail(q.name))
    // JIT floor: the first THREE non-heavy queries' (cold warmup, warm
    // timed) pairs — the fresh-JVM floor the r15 end-of-round check had
    // to infer from cpu_ratio (an isolated 2-query probe read 2.7x/1.8x
    // with per-core CPU FASTER) is a small distribution in the record
    // rather than a point (one query's cold/warm pair can itself be an
    // outlier), so an isolated re-run reading ~cold/warm above its
    // envelope is mechanical, not prose in SCALE.md
    val jitFloors = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Double)]
    val results = (light ++ heavy).flatMap { q =>
      val name = q.name
      try {
        if (heavyTail(name)) isolate(spark)
        val w0 = System.nanoTime()
        q.build(spark, sfDir).count() // untimed warmup (JIT + shared caches)
        val coldSec = (System.nanoTime() - w0) / 1e9
        val t0 = System.nanoTime()
        q.build(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (jitFloors.size < 3 && !heavyTail(name))
          jitFloors += ((name, coldSec, sec))
        // scalastyle:off println
        println(f"  $name%-28s $sec%8.2f s  (linear ${prev.get(name).fold("?")(p => f"${factor * p}%.2f")})")
        // scalastyle:on
        Some(name -> sec)
      } catch {
        case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(300)
          None
      }
    }

    // flag rule, load-normalized: ambient host slowdown moves EVERY query
    // by roughly the same ratio (the r12/r13 signature the builder kept
    // adjudicating by hand) — so the envelope scales by the run's own
    // median per-query ratio vs linear, clamped to >= 1 (a FASTER run
    // never tightens the bar below the committed envelope). A genuine
    // plan regression moves one query far off the shared ratio and still
    // flags; a uniformly-loaded host moves the ratio, not the flag count.
    val ratios = results.flatMap { case (name, sec) =>
      prev.get(name).collect { case p if factor * p > 0.05 => sec / (factor * p) }
    }.sorted
    // raw median recorded ALONGSIDE the applied normalizer: the clamp/
    // neutralize guards hide the magnitude the eyeball-above-cap step
    // needs (was it 1.6 or 6.0?), and a small-query run under heavy load
    // would otherwise record a misleading 1.0
    val loadRatioRaw = if (ratios.isEmpty) 1.0 else Bench.medianOfSorted(ratios)
    val loadRatio = loadNormalizer(ratios)
    // run-end kernel: (start, end) records within-run host drift; the
    // canonical ratio uses the mean (queries ran throughout the window)
    val kernelEnd = Calibrate.kernelSec()
    val kernelSec = (kernelStart + kernelEnd) / 2.0
    val cpuRatio = prevKernel.fold(1.0)(p => kernelSec / p)
    val flags = results.flatMap { case (name, sec) =>
      val norm = Bench.envelopeRatio(loadRatio, cpuRatio, Bench.cpuBoundFamily(name))
      prev.get(name).collect {
        case p if sec > 2.0 * norm * factor * p + 1.0 =>
          name -> (sec, factor * p)
      }
    }

    // ---- streaming state probe (SPARK_GRAFT_STREAM_PROBE=1) ----
    //
    // The timed-query probe above cannot see the stateful STREAMING shapes
    // (they're launch-bound and excluded), yet a state-store shape that
    // grows super-linearly — an interval join buffering beyond its
    // eviction bound, a session store keyed wider than its key domain —
    // would be invisible to every other gate. This section re-runs the
    // stateful e2es at the base AND scaled SF with micro-batches bounded
    // to 8 files (so the watermark advances and eviction actually runs
    // per batch, the deployment shape) and compares the MAX total
    // state-store rows across batches: flag when
    // scaledState > 2 × rowsRatio × baseState + 1000.
    val streamSection: Option[String] =
      if (!sys.env.get("SPARK_GRAFT_STREAM_PROBE").contains("1")) None
      else try {
        val baseDir = sys.env.getOrElse("SPARK_GRAFT_STREAM_BASE", "/root/testdata/sf0.1")
        val shapes = Seq("q_stream_dedup", "q_stream_session_window",
          "q_stream_sessions_state", "q_stream_interval_join",
          "q_stream_outer_join", "q_stream_full_outer")
          .filter(q => only.isEmpty || only(q))
        if (shapes.isEmpty) None
        else {
          // (max rows, max bytes) across batches — independent maxes; bytes
          // catch a per-key VALUE accumulating per event (one row per key,
          // so the row count alone cannot see that failure)
          def maxState(name: String, dir: String): (Long, Long) = {
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            graft.streaming.StreamingNative.probeMaxFilesPerTrigger = Some(8)
            graft.streaming.StreamingNative.probeStateRows = Some(buf)
            try { SparkEntry.query(name).build(spark, dir).count(); () }
            finally {
              graft.streaming.StreamingNative.probeMaxFilesPerTrigger = None
              graft.streaming.StreamingNative.probeStateRows = None
            }
            if (buf.isEmpty) (-1L, -1L) else (buf.map(_._1).max, buf.map(_._2).max)
          }
          def errEntry(name: String, e: Throwable): String =
            s""""$name":{"error":${jstr((e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage)).take(300))}}"""
          val rowsBase = spark.read.parquet(s"$baseDir/events.parquet").count()
          val rowsScaled = spark.read.parquet(s"$sfDir/events.parquet").count()
          val rowsRatio = rowsScaled.toDouble / rowsBase
          val scaledState = scala.collection.mutable.Map.empty[String, (Long, Long)]
          val entries = shapes.map { name =>
            try {
              val (b, bBytes) = maxState(name, baseDir)
              val (sc, scBytes) = maxState(name, sfDir)
              scaledState(name) = (sc, scBytes)
              val flagged = b >= 0 && sc > 2.0 * rowsRatio * b + 1000.0
              // scalastyle:off println
              println(f"  [stream] $name%-28s state $b%9d -> $sc%9d  (rows x$rowsRatio%.1f${if (flagged) "  FLAG" else ""})")
              // scalastyle:on
              s""""$name":{"base_max_state":$b,"scaled_max_state":$sc,""" +
                s""""base_state_bytes":$bBytes,"scaled_state_bytes":$scBytes,"flag":$flagged}"""
            } catch {
              case e: Throwable => errEntry(name, e)
            }
          }
          // hot-key skew probe: remap ~10% of events onto ONE key and re-run
          // the keyed-state shapes at the scaled SF. Keyed state must be
          // O(1) PER KEY (one dedup entry / one open session per key), so
          // collapsing keys can only SHRINK the store — a skewed max state
          // above the uniform one means per-EVENT state is accumulating
          // under the hot key (the failure the uniform ratio gate can't
          // see, because it scales every key equally).
          val skewShapes = Seq("q_stream_dedup", "q_stream_sessions_state")
            .filter(shapes.contains)
          // the skewed copy setup sits inside its own try: a failure there
          // (disk full, schema drift) must cost only the skew section, never
          // the uniform entries computed above; the scaled-SF-sized copy is
          // deleted once the skew shapes finish
          val skewEntries = if (skewShapes.isEmpty) Nil else {
            try {
              val skewDir = SparkEntry.tempDir("graft-skew-events")
              try {
                import org.apache.spark.sql.functions.{col, when, lit}
                val ev = spark.read.parquet(s"$sfDir/events.parquet")
                ev.withColumn("user_id",
                    when(col("user_id") % 10 === 0, lit(0L)).otherwise(col("user_id")))
                  .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
                skewShapes.map { name =>
                  try {
                    val (sk, skBytes) = maxState(name, skewDir)
                    val (uni, uniBytes) = scaledState.getOrElse(name, (-1L, -1L))
                    // rows rule: collapsing keys can only SHRINK the store,
                    // so more rows under skew is per-event accumulation.
                    // bytes rule (generous 2x + 1 MiB): a hot key whose
                    // VALUE grows per event balloons the store while the
                    // row count, one per key, stays flat — the rows rule
                    // alone is structurally blind to it
                    val rowsFlag = uni >= 0 && sk > uni + 1000.0
                    val bytesFlag = uniBytes > 0 && skBytes > 2L * uniBytes + (1L << 20)
                    val flagged = rowsFlag || bytesFlag
                    // scalastyle:off println
                    println(f"  [skew]   $name%-28s state $uni%9d -> $sk%9d  bytes $uniBytes%10d -> $skBytes%10d  (hot key ~10%% of events${if (flagged) "  FLAG" else ""})")
                    // scalastyle:on
                    s""""$name":{"uniform_max_state":$uni,"skew_max_state":$sk,""" +
                      s""""uniform_state_bytes":$uniBytes,"skew_state_bytes":$skBytes,"flag":$flagged}"""
                  } catch {
                    case e: Throwable => errEntry(name, e)
                  }
                }
              } finally {
                org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(skewDir))
                ()
              }
            } catch {
              case e: Throwable => List(errEntry("skew_setup", e))
            }
          }
          val skewJson = if (skewEntries.isEmpty) ""
            else s""","skew_shapes":{${skewEntries.mkString(",")}}"""
          Some(s"""{"rows_ratio":${Bench.jnum(rowsRatio, 2)},"max_files_per_trigger":8,""" +
            s""""shapes":{${entries.mkString(",")}}$skewJson}""")
        }
      } catch {
        // a missing base dir must not lose the timed-query record that
        // already completed above
        case e: Throwable =>
          Some(s"""{"error":${jstr((e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(300))}}""")
      }

    // the same mechanical burst verdict the bench record carries (r18):
    // >=4 consecutive execution-order queries at >=2x their load-corrected
    // factor-scaled medians = a roving host-load window, adjudicated by
    // the record instead of by eye against variance bands. `results` is
    // already execution-ordered (light ++ heavy); prev medians scale by
    // the probe factor, and the correction uses the RAW (uncapped) load
    // median — burstWindows' own contract
    val bursts = Bench.burstWindows(results,
      prev.view.mapValues(_ * factor).toMap, loadRatioRaw)
    val burstJson = bursts.map { case (from, to, n, r) =>
      s"""{"from":${jstr(from)},"to":${jstr(to)},"n":$n,"ratio":${jnum(r)}}"""
    }.mkString("""{"bursts":[""", ",", "]}")
    val qs = results.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val fl = flags.map { case (k, (t, lin)) =>
      jstr(k) + ":{\"sec\":" + jnum(t) + ",\"linear\":" + jnum(lin) + "}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // `jit_floor` stays the first pair (r16's shape — existing readers
    // keep working); `jit_floor_samples` carries the distribution
    val jitJson = jitFloors.headOption.fold("") { case (q, cold, warm) =>
      s""""jit_floor":{"query":${jstr(q)},"cold_sec":${jnum(cold)},""" +
        s""""warm_sec":${jnum(warm)}},""" +
        s""""jit_floor_samples":[""" + jitFloors.map { case (q2, c2, w2) =>
          s"""{"query":${jstr(q2)},"cold_sec":${jnum(c2)},"warm_sec":${jnum(w2)}}"""
        }.mkString(",") + "],"
    }
    val line = s"""{"metric":"scale_probe","factor":$factor,"total_sec":${jnum(total)},""" +
      s""""n_queries":${results.size},"load_ratio":${jnum(loadRatio)},""" +
      s""""load_ratio_raw":${jnum(loadRatioRaw)},""" + jitJson +
      s""""cpu_kernel_sec":${Bench.jnum(kernelSec, 4)},""" +
      s""""cpu_kernel_sec_start":${Bench.jnum(kernelStart, 4)},""" +
      s""""cpu_kernel_sec_end":${Bench.jnum(kernelEnd, 4)},""" +
      s""""cpu_ratio":${jnum(cpuRatio)},""" +
      s""""run_seq":${System.currentTimeMillis()},""" +
      s""""heavy_tail_isolated":${heavy.map(h => jstr(h.name)).mkString("[", ",", "]")},""" +
      s""""queries":$qs,"flags":$fl,"errors":$errJson,""" +
      s""""window_flags":$burstJson,"n_burst_windows":${bursts.size},""" +
      streamSection.fold("")(s => s""""streaming":$s,""") +
      s""""sf":${jstr(sfDir)}}"""
    // scalastyle:off println
    println(line)
    // scalastyle:on
    try {
      val p = java.nio.file.Paths.get("target/scale-probe.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
      ()
    } catch { case _: Exception => () }
    spark.stop()
  }
}
