package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload once and writes every figure it measured to a JSON
  * file. Usage:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --out <result.json> --work <scratch dir> [--spans <spans.json>]
  * }}}
  * With `--trace 1` the tracer records layer spans, job and task
  * counters and micro-batch progress, and the result carries the
  * per-layer table; with `--trace 0` nothing is attached. */
object Main {

  val Workloads: Seq[Workload] = Seq(EpochStream, WarehouseRead, WarehouseDml)

  /** Writes the result and span files; `ListMap`s keep their key order. */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.find(_.name == arg("workload")).getOrElse(
      sys.error(s"unknown workload ${arg("workload")}; one of " +
        Workloads.map(_.name).mkString(", ")))
    val seed = arg("seed").toLong
    val secs = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsoluteFile
    work.mkdirs()

    val load0 = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(s"perfbench-${wl.name}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = f"${wl.name}-s$seed-t${if (traced) 1 else 0}-" +
      f"${System.currentTimeMillis()}%x"
    val tracer = new Tracer(spark, traced, wl.name, runId)

    val tRun = System.nanoTime()
    val out = wl.run(Ctx(spark, tracer, seed, secs, work))
    val runS = (System.nanoTime() - tRun) / 1e9
    tracer.stop()
    args.get("spans").foreach(p => tracer.writeSpans(new File(p)))

    val opSecs = out.ops.map(_.secs).toSeq
    val tail = Stats.tail(opSecs)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(out.setupS.toSeq), "s"),
      ("ops_per_s", out.ops.size / out.measuredS, "1/s"),
      ("op_s.p50", Stats.median(opSecs), "s")) ++
      tail.map(t => ("op_s.tail", t.value, "s")) ++ Seq(
      ("readback_s", out.readbackS, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("live_heap_mb", out.liveHeapMb, "MB"),
      ("error_rate", out.failed.toDouble / out.attempted, "ratio")) ++ out.extra

    val layers = if (!traced) Nil else layerMetrics(tracer, out, Stats.median(opSecs))
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    val host = ListMap(
      "nproc" -> cores, "master" -> s"local[$cores]",
      "shuffle_partitions" -> cores,
      "loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
      "process_cpu_s" -> cpu,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "workload_s" -> runS,
      "setup_total_s" -> out.setupS.sum, "measured_s" -> out.measuredS,
      "phases_s" -> ListMap(out.phases.toSeq: _*),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version)
    def metrics(ms: Seq[(String, Double, String)]) =
      ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    val result = ListMap(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> secs,
      "trace" -> traced, "run_id" -> runId,
      "correct" -> (out.failed == 0), "attempted" -> out.attempted,
      "failed" -> out.failed,
      "end_to_end" -> metrics(e2e),
      "tail" -> ListMap("percentile" -> tail.map(_.p), "n" -> opSecs.size,
        "beyond" -> tail.map(_.beyond)),
      "ops" -> out.ops.groupBy(_.kind).map { case (k, os) => k -> ListMap(
        "n" -> os.size, "p50_s" -> Stats.median(os.map(_.secs).toSeq),
        "failed" -> os.count(!_.ok)) },
      "samples" -> out.ops.map(o => Seq(o.kind, o.secs, o.ok)).toSeq,
      "per_layer" -> metrics(layers),
      "inputs" -> ListMap(out.inputs.toSeq: _*), "host" -> host,
      "notes" -> out.notes.toSeq)
    Json.writeValue(new File(arg("out")), result)
    spark.stop()
  }

  /** The traced run's per-layer figures: per-call means of the generic
    * counters for every layer, then the layer-specific ones. */
  private def layerMetrics(t: Tracer, out: Outcome,
      tracedP50: Double): Seq[(String, Double, String)] = {
    val spans = t.allSpans
    val jobs = t.allJobs
    val table = Layers.table(spans, jobs)
    val units = Map("wall_s" -> "s", "self_s" -> "s", "jobs" -> "count",
      "tasks" -> "count", "task_s" -> "s", "driver_gap_s" -> "s",
      "shuffle_bytes" -> "bytes", "input_bytes" -> "bytes")
    def perCall(key: String): Double = {
      val calls = table(key.takeWhile(_ != '.'))("calls")
      if (calls == 0) 0.0 else t.counter(key) / calls
    }
    val extra = out.layerExtra.toMap
    Layers.All.flatMap(l => Layers.Generic.map(c =>
      (s"$l.$c", table(l)(c), units(c)))) ++ Seq(
      ("connector.rows", perCall("connector.rows"), "count"),
      ("staging.swap_s", perCall("staging.swap_s"), "s"),
      ("commit.files", perCall("commit.files"), "count"),
      ("commit.bytes", perCall("commit.bytes"), "bytes"),
      ("commit.manifest_bytes", perCall("commit.manifest_bytes"), "bytes"),
      ("read.plan_s", Layers.planSeconds("read", spans, jobs), "s"),
      ("read.epochs_opened", extra.getOrElse("read.epochs_opened", 0.0), "count"),
      ("read.epochs_total", extra.getOrElse("read.epochs_total", 0.0), "count"),
      ("read.epoch_hit_ratio", extra.getOrElse("read.epoch_hit_ratio", 0.0), "ratio"),
      ("dml.plan_s", Layers.planSeconds("dml", spans, jobs), "s"),
      ("compact.bytes_rewritten", perCall("compact.bytes_rewritten"), "bytes")) ++
      Seq("trigger_s", "add_batch_s", "wal_s", "latest_offset_s", "planning_s",
        "overhead_s").map(k => (s"stream.$k", perCall(s"stream.$k"), "s")) ++
      Seq(("traced.op_s.p50", tracedP50, "s"))
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8).trim
    catch { case _: java.io.IOException => "" }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(new File("/proc/self/status").toPath),
        UTF_8).linesIterator.find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => Double.NaN }
}
