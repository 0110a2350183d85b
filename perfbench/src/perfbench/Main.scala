package perfbench

import java.nio.file.{Files, Paths}

/** Pipeline benchmark entry point. Runs one workload and writes a JSON record
  * (metrics, correctness, notes, provenance) to `--out`; `run.py` turns it
  * into the one-line result.
  *
  * Usage: perfbench.Main --workload catchup|steady --seed N --seconds S
  *          --trace 0|1 --work DIR --out FILE [--trace-dir DIR]
  *        perfbench.Main --selftest
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val start = System.nanoTime()
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        if (argv.contains("--selftest")) { SelfTest.run(); 0 }
        else run(kv, start)
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  private def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "" }

  /** (steal, total) jiffies of all CPUs from /proc/stat; steal is time the
    * hypervisor gave this machine's CPUs to others.
    */
  private def cpuJiffies: (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  private def run(kv: Map[String, String], start: Long): Int = {
    val work = Paths.get(kv("work"))
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv.get("trace").contains("1"),
      work, Paths.get(kv.getOrElse("trace-dir", work.resolve("trace").toString)))
    val load0 = loadavg
    val cpu0 = cpuJiffies
    val gc = new GcWatch
    val ctx = new RunCtx(args, new Recorder(args.trace), gc, start)
    val out = args.workload match {
      case "catchup" => Workloads.catchup(ctx)
      case "steady" => Workloads.steady(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val e2e = out.e2e ++ Map("setup_s" -> ctx.setupS, "peak_heap_mb" -> gc.peakBytes / 1048576.0)
    val wallMs = (System.nanoTime() - start) / 1e6
    val layer = out.layer ++ Map("pipeline.gc_share" -> gc.gcMillis / wallMs) ++
      e2e.map { case (k, v) => s"traced.$k" -> v }
    val spark = ctx.spark
    val conf = spark.conf
    val prov = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "seed" -> args.seed.toString,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> spark.version,
      "loadavg_start" -> load0,
      "loadavg_end" -> loadavg,
      "cpu_steal_share" -> { val (st, tot) = cpuJiffies
        f"${(st - cpu0._1).toDouble / math.max(1L, tot - cpu0._2)}%.4f" },
      "gc_collections" -> gc.collections.toString)
    spark.stop()
    out.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    Files.writeString(Paths.get(kv("out")), Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "e2e" -> Json.nums(e2e),
      "layer" -> Json.nums(if (args.trace) layer else Map.empty),
      "notes" -> out.notes.map(Json.str).mkString("[", ",", "]"),
      "provenance" -> Json.obj(prov.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
