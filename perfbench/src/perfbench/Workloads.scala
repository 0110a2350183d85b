package perfbench

import java.nio.file.{Files, Path}

import graft.model.{AddColumnEvent, AlterColumnTypeEvent, SchemaChangeJson, TableId}
import graft.pipeline.PipelineDef
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, traceDir: Path)

/** What one run measured. `e2e` and `layer` are keyed by metric name. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         e2e: Map[String, Double], layer: Map[String, Double], notes: Seq[String])

/** State shared by a run's phases: the recorder, the GC watch and the
  * timestamps the per-layer summary needs. `start` is main's start.
  */
final class RunCtx(val args: Args, val rec: Recorder, val gc: GcWatch, start: Long) {
  val trace: Option[Trace] = if (args.trace) Some(new Trace(rec)) else None
  /** Seconds from main's start until the pipeline was ready: `setup_s`. */
  var setupS = 0.0
  var spark: SparkSession = _
  var windowStart = 0L
  var windowEnd = 0L
  var dueOf: Map[String, Long] = Map.empty
  var eventsOf: Map[String, Int] = Map.empty
  var fileBatch: Map[String, Long] = Map.empty
  def sessionExtra: Map[String, String] = trace.map(_.sessionConf).getOrElse(Map.empty)
  def ready(): Unit = setupS = (System.nanoTime() - start) / 1e9
}

/** Set-up: one cold bring-up per run, from main's start. The feeds are
  * rendered after it, so `setup_s` holds only the product's own work.
  */
object Setup {
  def timed[T](ctx: RunCtx, name: String)(f: => T): T = ctx.rec.span(s"pipeline.$name")(f)

  /** YAML parse and session, as `Cli.runPipeline` does them; the traced
    * run's listeners are attached by the workload, once its warm-up is done.
    */
  def session(ctx: RunCtx, dir: Path, yaml: Path => String): PipelineDef = {
    Files.createDirectories(dir.resolve("feed"))
    val p = timed(ctx, "yaml")(Pipeline.yaml(Workloads.yamlFile(dir, yaml(dir))))
    ctx.spark = timed(ctx, "session")(Pipeline.session(p, ctx.sessionExtra))
    p
  }
}

object Workloads {
  val TickMs = 200
  /** The first micro-batches of a fresh JVM run two to three times slower
    * than later ones: the first `PrimeTicks` files are fed one micro-batch at
    * a time before the schedule starts, and the first `WarmupTicks` scheduled
    * files are not measured.
    */
  val PrimeTicks = 2
  val WarmupTicks = 30

  def yamlFile(dir: Path, body: String): Path = {
    Files.createDirectories(dir)
    val f = dir.resolve("pipeline.yaml")
    Files.writeString(f, body)
    f
  }

  /** Open-loop measurement over pre-rendered tick files: one generator thread
    * publishes file `i` when it is due, the stream consumes them; returns once
    * every published file is in a committed micro-batch.
    */
  final case class OpenLoop(late: Array[Long], done: Boolean)

  def openLoop(ctx: RunCtx, run: Pipeline.Running, feed: FeedDir, files: IndexedSeq[FeedFile],
               checkpoint: Path): OpenLoop = {
    val log = new CheckpointLog(checkpoint)
    def awaitCommitted(fs: Seq[FeedFile]): Boolean = {
      val deadline = System.nanoTime() + 60000000000L
      var done = false
      while (!done && System.nanoTime() < deadline && run.query.isActive) {
        Thread.sleep(50)
        log.refresh()
        val committed = log.committed
        done = fs.forall(f => log.fileBatch.get(f.name).exists(committed))
      }
      done
    }
    // the primed ticks each run as a micro-batch of their own before the schedule starts
    val primedAt = files.take(PrimeTicks).map { f =>
      val t = System.nanoTime(); feed.publish(f.name, f.bytes); awaitCommitted(Seq(f)); t
    }
    val sched = files.drop(PrimeTicks)
    val tickNs = TickMs * 1000000L
    val start = System.nanoTime() + 100000000L
    val due = sched.indices.map(i => start + i * tickNs)
    val late = new Array[Long](sched.size)
    val gen = new Thread(() => {
      sched.indices.foreach { i =>
        var now = System.nanoTime()
        while (now < due(i)) { java.util.concurrent.locks.LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
        feed.publish(sched(i).name, sched(i).bytes)
        late(i) = System.nanoTime() - due(i)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    ctx.windowStart = due(WarmupTicks)
    ctx.windowEnd = due.last + tickNs
    ctx.dueOf = (files.take(PrimeTicks).map(_.name).zip(primedAt) ++ sched.map(_.name).zip(due)).toMap
    ctx.eventsOf = files.map(f => f.name -> f.events).toMap
    gen.join()
    val done = awaitCommitted(files)
    ctx.fileBatch = log.fileBatch.toMap
    OpenLoop(late, done)
  }

  /** Commit time of each batch: the end of its last sink write. */
  def commitTimes(rec: Recorder): Map[Long, Long] =
    rec.named("sinks.write").filter(_.batch >= 0).groupBy(_.batch).map { case (b, s) => b -> s.map(_.end).max }

  /** End-to-end metrics of an open-loop run, and its validity. */
  def openLoopMetrics(ctx: RunCtx, files: IndexedSeq[FeedFile], ol: OpenLoop,
                      notes: scala.collection.mutable.Buffer[String]): (Map[String, Double], Boolean, Map[String, Double]) = {
    val commit = commitTimes(ctx.rec)
    val window = files.drop(PrimeTicks + WarmupTicks)
    val commitOf: String => Option[Long] = f => ctx.fileBatch.get(f).flatMap(commit.get)
    val samples = window.map(f => (commitOf(f.name).map(c => (c - ctx.dueOf(f.name)) / 1e6).getOrElse(Double.NaN), f.events))
    val lastCommit = window.flatMap(f => commitOf(f.name)).max
    val events = window.map(_.events.toLong).sum
    val rowsPerS = events / ((lastCommit - ctx.windowStart) / 1e9)
    // backlog (offered, not committed) at each tick due time in the window
    def backlogAt(t: Long): Long = files.filter(f => ctx.dueOf(f.name) <= t &&
      commitOf(f.name).forall(_ > t)).map(_.events.toLong).sum
    val dues = window.map(f => ctx.dueOf(f.name))
    val third = math.max(1, dues.size / 3)
    val firstThird = dues.take(third).map(backlogAt).sum.toDouble / third
    val lastThird = dues.takeRight(third).map(backlogAt).sum.toDouble / third
    val backlogEnd = backlogAt(ctx.windowEnd)
    val rate = events / ((ctx.windowEnd - ctx.windowStart) / 1e9)
    val lateP95 = Stats.quantile(ol.late.map(_ / 1e6).toSeq, 0.95)
    val perBatch = window.filter(f => ctx.fileBatch.contains(f.name)).groupBy(f => ctx.fileBatch(f.name))
      .values.map(_.map(_.events.toDouble).sum).toSeq
    val batches = perBatch.size
    // the backlog swings by about one batch as batches commit; a trend beyond that is a growing queue
    val valid = ol.done && !samples.exists(_._1.isNaN) && lateP95 <= TickMs &&
      lastThird <= firstThird + Stats.median(perBatch)
    notes += f"open loop: offered ${rate}%.0f ev/s, $events events in ${samples.size} files, $batches batches " +
      f"(median ${Stats.median(perBatch)}%.0f events); generator late p95 $lateP95%.1f ms; " +
      f"backlog mean ${firstThird}%.0f -> ${lastThird}%.0f events, at end $backlogEnd"
    if (!valid) notes += "INVALID: generator fell behind or backlog grew"
    val writes = ctx.rec.named("sinks.write").filter(_.batch >= 0).groupBy(_.batch).toSeq.sortBy(_._1)
    notes += "batch commit_s/write_ms: " + writes.map { case (b, s) =>
      f"$b:${(s.map(_.end).max - ctx.windowStart) / 1e9}%.1f/${s.map(_.ms).max}%.0f" }.mkString(" ")
    val e2e = Map(
      "rows_per_s" -> rowsPerS,
      "latency_p50_ms" -> Stats.weighted(samples, 0.50),
      "latency_p95_ms" -> Stats.weighted(samples, 0.95))
    val honesty = Map(
      "generator.late_ms_p95" -> lateP95,
      "generator.backlog_end_events" -> backlogEnd.toDouble,
      "generator.offered_rows_per_s" -> rate,
      "latency.samples" -> events.toDouble,
      "latency.batches" -> batches.toDouble)
    (e2e, valid, honesty)
  }

  /** Verifies every expected sink table; returns (failed events, notes). */
  def verify(spark: SparkSession, sink: graft.sinks.ParquetUpsertSink, expected: Seq[Oracle.Expected],
             notes: scala.collection.mutable.Buffer[String]): (Long, Boolean) = {
    var failed = 0L
    var ok = true
    expected.foreach { e =>
      val v = Oracle.compare(e, sink.read(spark, e.table), Oracle.expectedFrame(spark, e))
      notes += s"verify ${e.table}: ${v.rows} rows, ${v.detail}"
      if (!v.ok) { ok = false; failed += Oracle.failedEvents(e, v) }
    }
    (failed, ok)
  }

  /** The isolated-layer input: the run's own feed and pipeline rules. */
  def isoInput(files: Seq[Array[Byte]], src: TableId, ddl: String, pks: Seq[String], dir: Path,
               change: graft.model.SchemaChangeEvent): Isolated.Input = {
    val p = Pipeline.yaml(dir.resolve("pipeline.yaml"))
    Isolated.Input(files, src, ddl, pks, p.transforms, p.routes, change)
  }

  // ---------------------------------------------------------------- steady

  /** One large table, preloaded; a fixed offered rate of small Zipf-keyed
    * ticks, mostly updates, ~1% re-delivered duplicates.
    */
  final case class SteadyShape(keys: Int, rate: Int, zipf: Double = 0.99, deleteShare: Double = 0.05,
                               dupShare: Double = 0.01)
  val steadyShape = SteadyShape(keys = 50000, rate = 600)

  /** Tick files of an open loop over one table: each event picks a key; an
    * absent key is inserted, a present one updated or deleted.
    */
  def renderTicks(seed: Long, ticks: Int, perTick: Int, m: TableModel,
                  key: java.util.SplittableRandom => Int, deleteShare: Double,
                  dupShare: Double): IndexedSeq[FeedFile] = {
    val rng = new java.util.SplittableRandom(seed * 31 + 17)
    var seq = 0L
    (0 until ticks).map { t =>
      val sb = new java.lang.StringBuilder(perTick * 160)
      var n = 0
      (0 until perTick).foreach { _ =>
        val k = key(rng)
        seq += 1
        val lineStart = sb.length
        if (!m.alive.get(k)) m.insert(sb, k, seq)
        else if (rng.nextDouble() < deleteShare) m.delete(sb, k, seq)
        else m.update(sb, k, seq)
        sb.append('\n'); n += 1
        if (rng.nextDouble() < dupShare) {
          // at-least-once re-delivery right behind the original (producer retry)
          val line = sb.substring(lineStart)
          sb.append(line); n += 1; m.events(k) += 1
        }
      }
      FeedFile.of(f"t$t%06d.json", sb, n)
    }
  }

  /** The preloaded model and the tick files of a steady run. */
  def steadyFeed(seed: Long, sh: SteadyShape, ticks: Int): (TableModel, IndexedSeq[FeedFile]) = {
    val model = new TableModel("app", "accounts", 1, AccountKind, sh.keys, 0L, seed)
    (0 until sh.keys).foreach(k => model.snapshot(null, k, 0L, emit = false))
    val zipf = new Zipf(sh.keys, sh.zipf)
    (model, renderTicks(seed, ticks, sh.rate * TickMs / 1000, model, zipf.sample,
      sh.deleteShare, sh.dupShare))
  }

  def steady(ctx: RunCtx): Outcome = {
    val a = ctx.args
    val sh = steadyShape
    val src = TableId.of("app", "accounts")
    def yaml(dir: Path) =
      s"""source:
         |  type: debezium-json
         |  path: ${dir.resolve("feed")}
         |  schema.app.accounts: "${AccountKind.sourceDdl}"
         |transform:
         |  - source-table: app.accounts
         |    primary-keys: id
         |route:
         |  - source-table: app.accounts
         |    sink-table: ods.accounts
         |sink:
         |  type: parquet-upsert
         |  path: ${dir.resolve("state")}
         |pipeline:
         |  name: perfbench-steady
         |""".stripMargin
    val dir = a.work.resolve("steady")
    val p = Setup.session(ctx, dir, yaml)
    ctx.trace.foreach(_.attach(ctx.spark))
    val running = Setup.timed(ctx, "build")(Pipeline.build(ctx.spark, p, ctx.rec))
    Setup.timed(ctx, "preload")(running.pipe.snapshotLoad(src, AccountKind.preload(ctx.spark, sh.keys)))
    ctx.ready()
    val (model, files) = steadyFeed(a.seed, sh, PrimeTicks + WarmupTicks + a.seconds * 1000 / TickMs)
    val feed = new FeedDir(dir.resolve("feed"), dir.resolve("staging"))
    val notes = scala.collection.mutable.Buffer.empty[String]
    val ol = openLoop(ctx, running, feed, files, dir.resolve("state").resolve("_checkpoint"))
    val (e2e, valid, honesty) = openLoopMetrics(ctx, files, ol, notes)
    ctx.trace.foreach(_.endWindow())
    running.query.stop()
    ctx.gc.close()
    val expected = Seq(Oracle.Expected(TableId.of("ods", "accounts"), AccountKind.sinkSchema, "id", Seq(model)))
    val (failed, ok) = verify(ctx.spark, running.sink, expected, notes)
    val layer = ctx.trace.map(_.layerMetrics(ctx, running.sink, expected.map(_.table),
      isoInput(files.map(_.bytes), src, AccountKind.sourceDdl, Seq("id"), dir,
        AddColumnEvent(src, "tier", StringType)))).getOrElse(Map.empty)
    Outcome(ok && valid, files.map(_.events.toLong).sum, failed, e2e, layer ++ honesty, notes.toSeq)
  }

  // ---------------------------------------------------------------- catchup

  /** Snapshot rows (all three tables) per `--seconds`. */
  val CatchupRowsPerSecond = 12000
  /** Snapshot rows per table of the warm-up catch-up. */
  val WarmupSnapshot = 3000

  final case class CatchupFeed(customers: TableModel, shard0: TableModel, shard1: TableModel,
                               snap: IndexedSeq[FeedFile], tail: IndexedSeq[FeedFile])

  /** Snapshot (`op: r`) of three tables, then in-band DDL and a change tail of
    * 30% of the snapshot: Zipf keys, inserts, deletes and a few key moves.
    */
  def catchupFeed(seed: Long, snapshot: Int): CatchupFeed = {
    val tail = snapshot * 3 / 10
    val cap = snapshot + tail
    val customers = new TableModel("app", "customers", 10, CustomerKind, cap, 0L, seed)
    val shard0 = new TableModel("app", "orders_0", 20, OrderKind(0), cap, 0L, seed)
    val shard1 = new TableModel("app", "orders_1", 21, OrderKind(1), cap, OrderKind.ShardOneBase, seed)
    val models = Seq(customers, shard0, shard1)
    var seq = 0L
    val chunk = 20000
    // written in chunks so the file source reads in parallel
    val snapFiles = models.flatMap { m =>
      (0 until snapshot).grouped(chunk).zipWithIndex.map { case (keys, j) =>
        val sb = new java.lang.StringBuilder(keys.size * 200)
        keys.foreach { k => seq += 1; m.snapshot(sb, k, seq); sb.append('\n') }
        FeedFile.of(s"snap_${m.table}_$j.json", sb, keys.size)
      }
    }.toIndexedSeq
    val rng = new java.util.SplittableRandom(seed * 131 + 7)
    val zipf = new Zipf(snapshot, 0.99)
    val nextNew = scala.collection.mutable.Map(models.map(_ -> snapshot): _*)
    def fresh(m: TableModel): Int = { val k = nextNew(m); nextNew(m) = k + 1; k }
    seq += 1
    val ddl = Seq(
      SchemaChangeJson.toJson(AddColumnEvent(TableId.of("app", "orders_0"), "note", StringType)),
      SchemaChangeJson.toJson(AlterColumnTypeEvent(TableId.of("app", "customers"), "age", LongType)))
    shard0.ddlSeq = seq
    val tailFiles = (0 until tail * 3).grouped(chunk).zipWithIndex.map { case (evs, j) =>
      val sb = new java.lang.StringBuilder(evs.size * 300)
      if (j == 0) ddl.foreach(l => sb.append(l).append('\n'))
      evs.foreach { _ =>
        val u = rng.nextDouble()
        val m = if (u < 0.4) customers else if (u < 0.7) shard0 else shard1
        val k = zipf.sample(rng)
        seq += 1
        val op = rng.nextDouble()
        if (!m.alive.get(k) || op < 0.06) m.insert(sb, fresh(m), seq)
        else if (op < 0.12) m.delete(sb, k, seq)
        else if ((m eq customers) && op < 0.125) m.pkChange(sb, k, fresh(m), seq)
        else m.update(sb, k, seq)
        sb.append('\n')
      }
      FeedFile.of(s"tail_$j.json", sb, evs.size)
    }.toIndexedSeq
    CatchupFeed(customers, shard0, shard1, snapFiles, tailFiles)
  }

  def catchup(ctx: RunCtx): Outcome = {
    val a = ctx.args
    val yamlBody: Path => String = dir =>
      s"""source:
         |  type: debezium-json
         |  path: ${dir.resolve("feed")}
         |  schema.app.customers: "${CustomerKind.sourceDdl}"
         |  schema.app.orders_0: "${OrderKind(0).sourceDdl}"
         |  schema.app.orders_1: "${OrderKind(1).sourceDdl}"
         |transform:
         |  - source-table: app.customers
         |    projection: "${CustomerKind.projection}"
         |    filter: "${CustomerKind.filter}"
         |    primary-keys: id
         |  - source-table: app.orders_\\.*
         |    primary-keys: order_id
         |route:
         |  - source-table: app.customers
         |    sink-table: ods.customers
         |  - source-table: app.orders_\\.*
         |    sink-table: ods.orders
         |sink:
         |  type: parquet-upsert
         |  path: ${dir.resolve("state")}
         |pipeline:
         |  name: perfbench-catchup
         |  trigger: available-now
         |""".stripMargin
    val dir = a.work.resolve("catchup")
    val p = Setup.session(ctx, dir, yamlBody)
    // first bring-up over the empty feed: checkpoint created, nothing to drain
    Setup.timed(ctx, "build")(Pipeline.build(ctx.spark, p, ctx.rec).query.awaitTermination())
    ctx.ready()
    val notes = scala.collection.mutable.Buffer.empty[String]

    /** Publishes `files`, restarts the pipeline from its checkpoint and waits
      * until the backlog is drained: (start, end, the run).
      */
    def drain(p: PipelineDef, dir: Path, files: Seq[FeedFile], rec: Recorder): (Long, Long, Pipeline.Running) = {
      val feed = new FeedDir(dir.resolve("feed"), dir.resolve("staging"))
      files.foreach(f => feed.publish(f.name, f.bytes))
      val t0 = System.nanoTime()
      val r = Pipeline.build(ctx.spark, p, rec)
      r.query.awaitTermination()
      (t0, System.nanoTime(), r)
    }
    // A fresh JVM's first drains cost ~20 s whatever their size (query start,
    // code generation, JIT): one small catch-up of the same shape in a
    // pipeline of its own runs first, unmeasured, so the timed drains scale
    // with the backlog.
    val warmT = System.nanoTime()
    val warmDir = a.work.resolve("warmup")
    Files.createDirectories(warmDir.resolve("feed"))
    val warmP = Pipeline.yaml(yamlFile(warmDir, yamlBody(warmDir)))
    val warmFeed = catchupFeed(a.seed + 1000003L, WarmupSnapshot)
    drain(warmP, warmDir, warmFeed.snap ++ warmFeed.tail, new Recorder(false))
    notes += f"warm-up catch-up: ${(System.nanoTime() - warmT) / 1e9}%.2f s"
    ctx.trace.foreach(_.attach(ctx.spark))

    val feedData = catchupFeed(a.seed, CatchupRowsPerSecond * a.seconds / 3)
    import feedData.{customers, shard0, shard1}
    val snapFiles = feedData.snap
    val tailFiles = feedData.tail
    val checkpoint = dir.resolve("state").resolve("_checkpoint")
    val (s1, e1, _) = drain(p, dir, snapFiles, ctx.rec)
    val (s2, e2, run2) = drain(p, dir, tailFiles, ctx.rec)
    ctx.windowStart = s1
    ctx.windowEnd = e2
    ctx.trace.foreach(_.endWindow())
    val log = new CheckpointLog(checkpoint)
    log.refresh()
    ctx.fileBatch = log.fileBatch.toMap
    val commit = commitTimes(ctx.rec)
    val offered = snapFiles.map(f => f.name -> s1).toMap ++ tailFiles.map(f => f.name -> s2)
    ctx.dueOf = offered
    ctx.eventsOf = (snapFiles ++ tailFiles).map(f => f.name -> f.events).toMap
    // on the catch-up's clock, which runs only while a drain runs: the
    // snapshot's events are in after drain 1, the tail's after both drains
    val before = snapFiles.map(f => f.name -> 0L).toMap ++ tailFiles.map(f => f.name -> (e1 - s1))
    val samples = (snapFiles ++ tailFiles).map { f =>
      (ctx.fileBatch.get(f.name).flatMap(commit.get).map(c => (c - offered(f.name) + before(f.name)) / 1e6)
        .getOrElse(Double.NaN), f.events)
    }
    val events = (snapFiles ++ tailFiles).map(_.events.toLong).sum
    val drainS = ((e1 - s1) + (e2 - s2)) / 1e9
    val batches = ctx.fileBatch.values.toSet.size
    notes += f"catchup: ${snapFiles.map(_.events).sum} snapshot + ${tailFiles.map(_.events).sum} tail events, " +
      f"drains ${(e1 - s1) / 1e9}%.2f s + ${(e2 - s2) / 1e9}%.2f s, $batches batches"
    val e2e = Map(
      "rows_per_s" -> events / drainS,
      "latency_p50_ms" -> Stats.weighted(samples, 0.50),
      "latency_p95_ms" -> Stats.weighted(samples, 0.95))
    ctx.gc.close()
    val expected = Seq(
      Oracle.Expected(TableId.of("ods", "customers"), CustomerKind.sinkSchema, "id", Seq(customers)),
      Oracle.Expected(TableId.of("ods", "orders"), OrderKind.sinkSchema, "order_id", Seq(shard0, shard1)))
    val (failed, ok) = verify(ctx.spark, run2.sink, expected, notes)
    val src = TableId.of("app", "customers")
    val layer = ctx.trace.map(_.layerMetrics(ctx, run2.sink, expected.map(_.table),
      isoInput((snapFiles ++ tailFiles).map(_.bytes), src, CustomerKind.sourceDdl, Seq("id"), dir,
        AlterColumnTypeEvent(src, "age", LongType)))).getOrElse(Map.empty)
    // closed loop: the whole backlog is on disk before each drain starts
    val honesty = Map("latency.samples" -> events.toDouble, "latency.batches" -> batches.toDouble,
      "generator.late_ms_p95" -> 0.0, "generator.backlog_end_events" -> 0.0)
    Outcome(ok && !samples.exists(_._1.isNaN), events, failed, e2e, layer ++ honesty, notes.toSeq)
  }
}
