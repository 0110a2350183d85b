package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.Cli
import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.pipeline.PipelineDef
import graft.sinks.{BatchCtx, CdcSink, ParquetUpsertSink}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One span: a layer call made by the benchmark (or observed by a
  * listener), on the run's nanosecond clock. `batch` is the micro-batch id,
  * -1 outside the stream.
  */
final case class Span(id: Long, name: String, parent: Long, batch: Long, start: Long, end: Long,
                      detail: String = "") {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store. Spans of the benchmark's own calls are recorded in
  * every run (two clock reads each; sink-write ends are the commit times
  * latency is measured from); listener and file-system data only in the
  * traced run.
  */
final class Recorder(val traced: Boolean) {
  val t0: Long = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = { spans.add(s); () }
  def span[T](name: String)(f: => T): T = {
    val id = nextId()
    val t = System.nanoTime()
    try f finally add(Span(id, name, 0, -1, t, System.nanoTime()))
  }
  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq
}

object Recorder {
  /** Spark local property carrying the enclosing span id into jobs. */
  val SpanProp = "perfbench.span"
}

/** Timing decorator passed through `Cli.buildStreaming`'s `sinkDecorator`:
  * records each sink call as a span and, when tracing, tags the Spark jobs
  * it runs with the span id.
  */
final class TimedSink(inner: CdcSink, rec: Recorder) extends CdcSink {
  private def tagged[T](name: String, batch: Long, detail: String)(f: => T): T = {
    val id = rec.nextId()
    val sc = if (rec.traced) SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
                               .map(_.sparkContext) else None
    val prev = sc.map(_.getLocalProperty(Recorder.SpanProp))
    sc.foreach(_.setLocalProperty(Recorder.SpanProp, id.toString))
    if (rec.traced) CountingFs.driverSpan.set(id)
    val t = System.nanoTime()
    try f
    finally {
      rec.add(Span(id, name, 0, batch, t, System.nanoTime(), detail))
      sc.foreach(_.setLocalProperty(Recorder.SpanProp, prev.orNull))
      if (rec.traced) CountingFs.driverSpan.remove()
    }
  }
  override def applySchemaChange(e: SchemaChangeEvent): Unit =
    tagged("sinks.ddl", -1, e.getClass.getSimpleName)(inner.applySchemaChange(e))
  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit =
    tagged("sinks.write", -1, id.identifier)(inner.write(id, changelog, schema))
  override def writeBatch(id: TableId, changelog: DataFrame, schema: CdcSchema,
                          ctx: Option[BatchCtx]): Unit =
    tagged("sinks.write", ctx.map(_.batchId).getOrElse(-1L), id.identifier)(
      inner.writeBatch(id, changelog, schema, ctx))
}

/** Heap occupancy after every collection, young ones included, and GC
  * time, from construction (main start) until [[close]] (the end of the
  * measured work, before the benchmark's own verification).
  */
final class GcWatch {
  @volatile var peakBytes: Long = 0L
  @volatile var collections: Long = 0L
  private val heapPools: Set[String] = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        GcWatch.this.synchronized { collections += 1; if (used > peakBytes) peakBytes = used }
      }
  }
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
    .addNotificationListener(listener, null, null))
  def gcMillis: Long = beans.map(_.getCollectionTime).filter(_ > 0).sum
  def close(): Unit = beans.foreach(b =>
    try b.asInstanceOf[javax.management.NotificationEmitter].removeNotificationListener(listener)
    catch { case _: Exception => () })
}

/** The product path, brought up the way `graft.Cli` brings it up. */
object Pipeline {

  /** Session exactly as `Cli.runPipeline` builds it; `extra` carries only the
    * traced run's counting file system.
    */
  def session(p: PipelineDef, extra: Map[String, String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(p.name)
      .config("spark.sql.shuffle.partitions", math.max(p.parallelism, cpus.toInt))
      .config("spark.sql.session.timeZone", p.localTimeZone)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Trigger exactly as `Cli.runStreaming` resolves it. */
  def trigger(p: PipelineDef): Trigger = p.config.get("trigger") match {
    case Some("available-now") => Trigger.AvailableNow()
    case Some(other) => throw new IllegalArgumentException(s"unknown trigger $other")
    case None => Trigger.ProcessingTime(p.config.getOrElse("batch-interval", "1 second"))
  }

  final case class Running(pipe: StreamingPipeline, sink: ParquetUpsertSink, query: StreamingQuery)

  def build(spark: SparkSession, p: PipelineDef, rec: Recorder): Running = {
    var inner: CdcSink = null
    val (pipe, _, q) = Cli.buildStreaming(spark, p, trigger(p),
      sinkDecorator = Some { s => inner = s; new TimedSink(s, rec) })
    Running(pipe, inner.asInstanceOf[ParquetUpsertSink], q)
  }

  def yaml(path: Path): PipelineDef = PipelineDef.fromYaml(Files.readString(path))
}

/** Which feed files each micro-batch read, and which batches committed:
  * the file source's own log and the commit log in the checkpoint dir.
  */
final class CheckpointLog(checkpoint: Path) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val seenLogs = scala.collection.mutable.Set.empty[String]
  /** feed file name → batch id */
  val fileBatch = scala.collection.mutable.Map.empty[String, Long]

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator.asScala.toSeq finally s.close() }

  def committed: Set[Long] = list(checkpoint.resolve("commits"))
    .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).toSet

  /** Reads log files not read before (compaction files included). */
  def refresh(): Unit = list(checkpoint.resolve("sources").resolve("0"))
    .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.endsWith(".tmp") }
    .sortBy(_.getFileName.toString).foreach { f =>
      val n = f.getFileName.toString
      if (!seenLogs(n)) {
        val lines = try Files.readAllLines(f).asScala.toSeq catch { case _: java.io.IOException => Nil }
        if (lines.nonEmpty) {
          lines.drop(1).filter(_.startsWith("{")).foreach { l =>
            val j = mapper.readTree(l)
            val name = new org.apache.hadoop.fs.Path(new java.net.URI(j.get("path").asText())).getName
            fileBatch(name) = j.get("batchId").asLong()
          }
          seenLogs += n
        }
      }
    }
}

/** Small statistics helpers over weighted samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1))) }
  /** Quantile of values each repeated `weight` times. */
  def weighted(xs: Seq[(Double, Int)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2.toLong).sum
    if (total == 0) return Double.NaN
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(s.last._1)
  }
}
