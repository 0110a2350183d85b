package perfbench

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.model.{CdcSchema, CreateTableEvent, SchemaChangeBehavior, SchemaChangeEvent, TableId}
import graft.operators.{Changelog, RouteRule, SchemaRegistry, Transform, TransformRule}
import graft.sinks.CdcSink
import graft.sources.DebeziumJson
import graft.streaming.StreamingPipeline
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Local file system that counts the calls the sink's commit protocol makes,
  * by kind, attributed to the enclosing benchmark span (driver thread or task).
  * Registered through the traced session's Hadoop conf only.
  */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, Path => HPath}
  import org.apache.hadoop.fs.permission.FsPermission
  private def hit(kind: String): Unit = CountingFs.hit(kind)
  override def rename(src: HPath, dst: HPath): Boolean = { hit("rename"); super.rename(src, dst) }
  override def delete(p: HPath, recursive: Boolean): Boolean = { hit("delete"); super.delete(p, recursive) }
  override def mkdirs(p: HPath, perm: FsPermission): Boolean = { hit("mkdirs"); super.mkdirs(p, perm) }
  override def mkdirs(p: HPath): Boolean = { hit("mkdirs"); super.mkdirs(p) }
  override def create(p: HPath, perm: FsPermission, overwrite: Boolean, buf: Int, rep: Short, block: Long,
                      prog: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    hit("create"); super.create(p, perm, overwrite, buf, rep, block, prog)
  }
  override def listStatus(p: HPath): Array[FileStatus] = { hit("list"); super.listStatus(p) }
  @annotation.nowarn("cat=deprecation")
  override def exists(p: HPath): Boolean = { hit("exists"); super.exists(p) }
}

object CountingFs {
  val Kinds: Seq[String] = Seq("rename", "delete", "mkdirs", "create", "list", "exists")
  /** (span id, kind) → calls; span 0 = outside any benchmark span. */
  val counts = new ConcurrentHashMap[(Long, String), AtomicLong]()
  /** Span id of the sink call running on this driver thread. */
  val driverSpan = new ThreadLocal[java.lang.Long]()
  def currentSpan: Long = Option(TaskContext.get()) match {
    case Some(tc) => Option(tc.getLocalProperty(Recorder.SpanProp)).map(_.toLong).getOrElse(0L)
    case None => Option(driverSpan.get()).map(_.longValue).getOrElse(0L)
  }
  def hit(kind: String): Unit = {
    counts.computeIfAbsent((currentSpan, kind), _ => new AtomicLong()).incrementAndGet(); ()
  }
}

/** One Spark job and the task metrics of its stages. */
final class JobRec(val id: Int, val span: Long, val batch: Long, val start: Long) {
  @volatile var end: Long = 0L
  val tasks = new AtomicLong; val runMs = new AtomicLong; val shuffleBytes = new AtomicLong
  val outBytes = new AtomicLong; val outRecords = new AtomicLong; val inRecords = new AtomicLong
  @volatile var failed = false
}

/** One micro-batch as the stream engine reported it. */
final case class BatchRec(batch: Long, start: Long, trigger: Long, addBatch: Long, rows: Long)

/** The traced run's listeners and per-layer summary. Everything here runs
  * only with `--trace 1`.
  */
final class Trace(rec: Recorder) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def ns(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val batches = new ConcurrentHashMap[Long, BatchRec]()
  val failedQueries = new AtomicLong

  def sessionConf: Map[String, String] = Map("spark.hadoop.fs.file.impl" -> classOf[CountingFs].getName)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
      val j = new JobRec(e.jobId, prop(Recorder.SpanProp).map(_.toLong).getOrElse(0L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), ns(e.time))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
      j.end = ns(e.time)
      j.failed = e.jobResult != JobSucceeded
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        j.tasks.incrementAndGet()
        j.runMs.addAndGet(m.executorRunTime)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        j.outRecords.addAndGet(m.outputMetrics.recordsWritten)
        j.inRecords.addAndGet(m.inputMetrics.recordsRead)
      }
  }

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.put(p.batchId, BatchRec(p.batchId, ns(java.time.Instant.parse(p.timestamp).toEpochMilli),
          dur("triggerExecution"), dur("addBatch"), p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.exception.isDefined) { failedQueries.incrementAndGet(); () }
  }

  /** Registers the listeners on a (new) session, and drops cached file
    * systems so the next lookup instantiates the counting one.
    */
  def attach(spark: SparkSession): Unit = {
    org.apache.hadoop.fs.FileSystem.closeAll()
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
  }

  /** Listener events are asynchronous: wait until the bus has drained. */
  def endWindow(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline && jobs.values.asScala.exists(_.end == 0L)) Thread.sleep(20)
  }

  def layerMetrics(ctx: RunCtx, sink: graft.sinks.ParquetUpsertSink, tables: Seq[TableId],
                   iso: Isolated.Input): Map[String, Double] = {
    endWindow()
    val spark = ctx.spark
    val inWindow: Set[Long] = ctx.fileBatch.filter { case (f, _) => ctx.dueOf.get(f).exists(_ >= ctx.windowStart) }
      .values.toSet
    val bs = batches.values.asScala.filter(b => inWindow(b.batch)).toSeq.sortBy(_.batch)
    val nb = math.max(1, bs.size)
    val rowsIn = math.max(1L, bs.map(_.rows).sum)
    val allJobs = jobs.values.asScala.toSeq
    val batchJobs = allJobs.filter(j => inWindow(j.batch))
    val writes = rec.named("sinks.write").filter(s => inWindow(s.batch))
    val writeIds = writes.map(_.id).toSet
    val sinkJobs = batchJobs.filter(j => writeIds(j.span))
    // the batch's own jobs that run before its first sink write: tableOf + table discovery
    val firstWrite = writes.groupBy(_.batch).map { case (b, s) => b -> s.map(_.start).min }
    val tagJobs = batchJobs.filter(j => j.span == 0L && firstWrite.get(j.batch).exists(j.start < _))
    // per event: batch start minus the time its file was due
    val batchStart = bs.map(b => b.batch -> b.start).toMap
    val queue = ctx.fileBatch.toSeq.flatMap { case (f, b) =>
      for (s <- batchStart.get(b); d <- ctx.dueOf.get(f)) yield ((s - d) / 1e6, ctx.eventsOf.getOrElse(f, 0))
    }
    val cores = spark.sparkContext.defaultParallelism
    val wallMs = math.max(1.0, (ctx.windowEnd - ctx.windowStart) / 1e6)
    val fs = CountingFs.Kinds.map { k =>
      val n = CountingFs.counts.asScala.collect { case ((s, kind), c) if kind == k && writeIds(s) => c.get }.sum
      s"sinks.fs_${k}_per_write" -> n.toDouble / math.max(1, writes.size)
    }.toMap
    def sumJ(js: Seq[JobRec])(f: JobRec => Long): Double = js.map(f).sum.toDouble
    val ddl = rec.named("sinks.ddl")
    val stateDirs = tables.map(t => java.nio.file.Paths.get(sink.tablePath(t)))
    val parquet = stateDirs.flatMap { d =>
      val s = Files.walk(d); try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq finally s.close()
    }
    def phase(n: String): Double = Stats.median(rec.named(s"pipeline.$n").map(_.ms / 1000))
    val iso0 = Isolated.run(spark, iso)
    writeSpans(ctx, bs)
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.rows_per_batch" -> rowsIn.toDouble / nb,
      "streaming.queue_wait_ms_p50" -> Stats.weighted(queue, 0.5),
      "streaming.trigger_ms_p50" -> Stats.median(bs.map(_.trigger.toDouble)),
      "streaming.engine_overhead_ms_p50" -> Stats.median(bs.map(b => (b.trigger - b.addBatch).toDouble)),
      "streaming.jobs_per_batch" -> batchJobs.size.toDouble / nb,
      "streaming.tasks_per_batch" -> sumJ(batchJobs)(_.tasks.get) / nb,
      "streaming.table_writes_per_batch" -> writes.size.toDouble / nb,
      "streaming.executor_busy_share" -> sumJ(batchJobs)(_.runMs.get) / (cores * wallMs),
      "streaming.failed_batches" -> (failedQueries.get + batchJobs.count(_.failed)).toDouble,
      "sources.tag_ms_per_batch" -> tagJobs.map(j => (j.end - j.start) / 1e6).sum / nb,
      "sinks.write_ms_p50" -> Stats.quantile(writes.map(_.ms), 0.5),
      "sinks.write_ms_p95" -> Stats.quantile(writes.map(_.ms), 0.95),
      "sinks.rows_written_per_row_in" -> sumJ(sinkJobs)(_.outRecords.get) / rowsIn,
      "sinks.bytes_written_per_row_in" -> sumJ(sinkJobs)(_.outBytes.get) / rowsIn,
      "sinks.state_rows_read_per_row_in" -> sumJ(sinkJobs)(_.inRecords.get) / rowsIn,
      "sinks.shuffle_bytes_per_row_in" -> sumJ(sinkJobs)(_.shuffleBytes.get) / rowsIn,
      "sinks.ddl_ms" -> (if (ddl.isEmpty) 0.0 else ddl.map(_.ms).sum / ddl.size),
      "sinks.state_rows" -> tables.map(t => sink.read(spark, t).count()).sum.toDouble,
      "sinks.state_files" -> parquet.size.toDouble,
      "sinks.state_bytes" -> parquet.map(Files.size(_)).sum.toDouble,
      "pipeline.session_s" -> phase("session"),
      "pipeline.build_s" -> phase("build"),
      "pipeline.preload_s" -> (if (rec.named("pipeline.preload").isEmpty) 0.0 else phase("preload"))
    ) ++ fs ++ iso0
  }

  /** Spans (benchmark calls, micro-batches, Spark jobs) as JSON lines, and
    * each span name's total and self time: duration minus the part of it its
    * children cover.
    */
  private def writeSpans(ctx: RunCtx, bs: Seq[BatchRec]): Unit = {
    val batchSpan = bs.map(b => b.batch -> Span(rec.nextId(), "streaming.batch", 0, b.batch, b.start,
      b.start + b.trigger * 1000000L)).toMap
    val own = rec.spans.asScala.toSeq.map(s =>
      if (s.parent == 0 && s.batch >= 0) s.copy(parent = batchSpan.get(s.batch).map(_.id).getOrElse(0L)) else s)
    val jobSpans = jobs.values.asScala.toSeq.filter(_.end > 0).map { j =>
      val parent = if (j.span != 0) j.span else batchSpan.get(j.batch).map(_.id).getOrElse(0L)
      Span(rec.nextId(), if (j.span != 0) "spark.job" else "sources.tag_job", parent, j.batch, j.start, j.end,
        s"tasks=${j.tasks.get} run_ms=${j.runMs.get}")
    }
    val all = own ++ batchSpan.values ++ jobSpans
    val children = all.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b } else curE = math.max(curE, b)
      }
      if (curE > curS) total += curE - curS
      total
    }
    val dir = ctx.args.traceDir
    Files.createDirectories(dir)
    val lines = all.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        f""""start_ms":${(s.start - ctx.rec.t0) / 1e6}%.3f,"end_ms":${(s.end - ctx.rec.t0) / 1e6}%.3f,""" +
        s""""detail":"${s.detail.replace("\"", "'")}"}"""
    }
    Files.write(dir.resolve("spans.jsonl"), lines.asJava)
    val self = all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      f""""$n":{"count":${ss.size},"total_ms":${ss.map(_.ms).sum}%.3f,""" +
        f""""self_ms":${ss.map(s => (s.end - s.start - covered(s)) / 1e6).sum}%.3f}"""
    }
    Files.writeString(dir.resolve("self_time.json"), self.mkString("{", ",\n", "}\n"))
  }
}

/** Forced, isolated calls of single layers on the run's own generated input:
  * each layer runs over a cached copy of the previous layer's output, so its
  * time is its own.
  */
object Isolated {
  final case class Input(files: Seq[Array[Byte]], table: TableId, sourceDdl: String, pks: Seq[String],
                         transforms: Seq[TransformRule], routes: Seq[RouteRule], ddl: SchemaChangeEvent)

  private def forced(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e9
  }
  private def best3(f: => Double): Double = Stats.median(Seq(f, f, f))

  def run(spark: SparkSession, in: Input): Map[String, Double] = {
    val lines = in.files.flatMap(b => new String(b, java.nio.charset.StandardCharsets.UTF_8).split('\n'))
      .filter(_.nonEmpty)
    val raw = spark.createDataset(lines)(Encoders.STRING).toDF("value")
    val slice = DebeziumJson.tableOf(raw)
      .where(col("__db") === in.table.schemaName && col("__table") === in.table.tableName).cache()
    val cols = in.sourceDdl.split(",").map(_.trim).map { c => val Array(n, t) = c.split("\\s+", 2); n -> t }
    val struct = CdcSchema.of(cols.toIndexedSeq: _*).struct
    try {
      val n = slice.count().toDouble
      def parsed = DebeziumJson.parse(slice, struct, primaryKeys = in.pks).drop("__db", "__table")
      val parseS = best3(forced(parsed))
      val p = parsed.cache(); val pn = p.count().toDouble
      def transformed = Transform.applyRules(p, in.table, in.transforms, opColumn = Some(Changelog.OpCol),
        passthrough = Seq(Changelog.OpCol, Changelog.SeqCol))
      val transformS = best3(forced(transformed))
      val t = transformed.cache(); val tn = t.count().toDouble
      val reduceS = best3(forced(Changelog.materialize(t, in.pks)))
      t.unpersist(); p.unpersist()
      Map(
        "sources.parse_rows_per_s" -> n / parseS,
        "operators.transform_rows_per_s" -> pn / transformS,
        "operators.reduce_rows_per_s" -> tn / reduceS,
        "operators.schema_change_ms" -> best3(schemaChangeMs(in, cols)))
    } finally { slice.unpersist(); () }
  }

  /** `StreamingPipeline.applySchemaChange` on a pipeline of the run's rules
    * whose sink only times its own calls: the span minus its sink child.
    */
  private def schemaChangeMs(in: Input, cols: Array[(String, String)]): Double = {
    val sinkNs = new AtomicLong
    val sink = new CdcSink {
      def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = ()
      override def applySchemaChange(e: SchemaChangeEvent): Unit = {
        val t = System.nanoTime(); sinkNs.addAndGet(System.nanoTime() - t); ()
      }
    }
    val pipe = new StreamingPipeline(new SchemaRegistry(SchemaChangeBehavior.Evolve), in.transforms, in.routes, sink)
    pipe.applySchemaChange(CreateTableEvent(in.table,
      CdcSchema.of(cols.toIndexedSeq: _*).copy(primaryKeys = in.pks)))
    val t = System.nanoTime()
    pipe.applySchemaChange(in.ddl)
    (System.nanoTime() - t - sinkNs.get) / 1e6
  }
}
