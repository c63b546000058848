package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval at a layer boundary. Times are wall-clock
  * milliseconds since the Unix epoch (fractional), the clock Spark's
  * listener events use, so spans and jobs can be intersected. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long) {
  def dur: Double = end - start
}

/** A finished Spark job and the work of its tasks. */
final case class JobRec(id: Int, group: String, start: Double, end: Double,
    tasks: Int, taskMs: Double, shuffleBytes: Long, inputBytes: Long,
    outputBytes: Long)

private final case class OpenJob(group: String, start: Double)
private final case class TaskAgg(tasks: Int, ms: Double, shuffle: Long,
    input: Long, output: Long) {
  def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, ms + o.ms,
    shuffle + o.shuffle, input + o.input, output + o.output)
}

/** The benchmark's tracer. Off (`enabled = false`) it only runs the
  * body; on, it records a span around each call into a layer, tags the
  * jobs the call starts with `setJobGroup("pb:<span id>")`, and listens
  * (public [[SparkListener]] / [[StreamingQueryListener]]) for jobs,
  * tasks and micro-batch progress. Spans stay in memory until
  * [[writeSpans]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
    workload: String, val runId: String) {

  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  /** Wall-clock ms, sub-ms resolution, monotone within the run. */
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counters = TrieMap.empty[String, Double]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val open = TrieMap.empty[Int, OpenJob]
  private val stageJob = TrieMap.empty[Int, Int]
  private val taskAgg = TrieMap.empty[Int, TaskAgg]
  private val jobs = new ConcurrentLinkedQueue[JobRec]()

  private val NoTasks = TaskAgg(0, 0.0, 0L, 0L, 0L)
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val InterruptKey = "spark.job.interruptOnCancel"

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("")
      open(e.jobId) = OpenJob(g, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        val add = Option(e.taskMetrics).map(m => TaskAgg(1,
          m.executorRunTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
          .getOrElse(NoTasks.copy(tasks = 1))
        taskAgg.synchronized {
          taskAgg(j) = taskAgg.getOrElse(j, NoTasks) + add
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      open.remove(e.jobId).foreach { o =>
        val t = taskAgg.synchronized(taskAgg.getOrElse(e.jobId, NoTasks))
        jobs.add(JobRec(e.jobId, o.group, o.start, e.time.toDouble,
          t.tasks, t.ms, t.shuffle, t.input, t.output))
      }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `body` as one call into layer `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val sc = spark.sparkContext
      val saved = Seq(GroupKey, DescKey, InterruptKey).map(k =>
        k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"pb:$id", name, interruptOnCancel = false)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        stack.set(stack.get().tail)
        spans.add(Span(id, name, start, end, parent))
      }
    }

  /** Time one call as layer `first` until the body calls the `next`
    * function it is given, and as layer `second` from then on. */
  def split[T](first: String, second: String)(body: (() => Unit) => T): T =
    if (!enabled) body(() => ())
    else {
      val sc = spark.sparkContext
      val saved = Seq(GroupKey, DescKey, InterruptKey).map(k =>
        k -> sc.getLocalProperty(k))
      val parent = stack.get().headOption.getOrElse(0L)
      var cur = (ids.incrementAndGet(), first, nowMs)
      sc.setJobGroup(s"pb:${cur._1}", first, interruptOnCancel = false)
      val next = () => {
        val t = nowMs
        spans.add(Span(cur._1, cur._2, cur._3, t, parent))
        cur = (ids.incrementAndGet(), second, t)
        sc.setJobGroup(s"pb:${cur._1}", second, interruptOnCancel = false)
      }
      try body(next)
      finally {
        spans.add(Span(cur._1, cur._2, cur._3, nowMs, parent))
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }

  /** A fresh span id, for spans derived after the run. */
  def nextId(): Long = ids.incrementAndGet()

  /** Add `v` to the layer counter `key` (e.g. `commit.files`). */
  def add(key: String, v: Double): Unit =
    if (enabled) counters.synchronized {
      counters(key) = counters.getOrElse(key, 0.0) + v
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.start)
  def allProgress: Seq[StreamingQueryProgress] = progress.asScala.toSeq
  def counter(key: String): Double = counters.getOrElse(key, 0.0)

  /** Replace the span set (re-parented and derived spans). */
  def replaceSpans(ss: Seq[Span]): Unit = {
    spans.clear(); ss.foreach(spans.add)
  }

  /** Detach the listeners, once the asynchronous listener bus has
    * delivered the end of every job the run started. */
  def stop(): Unit = if (enabled) {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 10L * 1000000000L
    Thread.sleep(200)
    while (open.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Write every span as one JSON document. */
  def writeSpans(path: java.io.File): Unit = if (enabled) {
    path.getParentFile.mkdirs()
    val rows = allSpans.map(s => ListMap("id" -> s.id, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
      "workload" -> workload, "run_id" -> runId))
    val jobRows = allJobs.map(j => ListMap("id" -> j.id, "group" -> j.group,
      "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks,
      "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes,
      "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes))
    Main.Json.writeValue(path, ListMap("workload" -> workload,
      "run_id" -> runId, "spans" -> rows, "jobs" -> jobRows))
  }
}

object Layers {
  /** Every layer the benchmark times, named after the program's modules. */
  val All: Seq[String] = Seq("connector", "stages", "staging", "check",
    "commit", "read", "dml", "compact", "stream")

  /** Generic counters reported for every layer. */
  val Generic: Seq[String] = Seq("wall_s", "self_s", "jobs", "tasks",
    "task_s", "driver_gap_s", "shuffle_bytes", "input_bytes")

  /** Per-call means of the generic counters, per layer. A layer the
    * workload never calls reports zeros. */
  def table(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Map[String, Double]] = {
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Set[Long] =
      children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + id
    val jobsBySpan = jobs.groupBy(j =>
      if (j.group.startsWith("pb:")) j.group.stripPrefix("pb:").toLong else -1L)
    All.map { layer =>
      val ss = spans.filter(_.name == layer)
      val n = ss.size.max(1).toDouble
      val per = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        val js = subtree(s.id).toSeq.flatMap(i => jobsBySpan.getOrElse(i, Nil))
        (s.dur, Stats.selfTime(s.start, s.end, kids),
          Stats.driverGap(s.start, s.end, js.map(j => (j.start, j.end))), js)
      }
      val js = per.flatMap(_._4)
      layer -> Map(
        "wall_s" -> per.map(_._1).sum / 1e3 / n,
        "self_s" -> per.map(_._2).sum / 1e3 / n,
        "jobs" -> js.size / n,
        "tasks" -> js.map(_.tasks).sum / n,
        "task_s" -> js.map(_.taskMs).sum / 1e3 / n,
        "driver_gap_s" -> per.map(_._3).sum / 1e3 / n,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum / n,
        "input_bytes" -> js.map(_.inputBytes).sum / n,
        "calls" -> ss.size.toDouble)
    }.toMap.map { case (k, v) => k -> (v: Map[String, Double]) }
  }

  /** Mean time from a span's start to the first job it started, over
    * the spans of `layer` that started any job (planning time). */
  def planSeconds(layer: String, spans: Seq[Span], jobs: Seq[JobRec]): Double = {
    val jobsBySpan = jobs.filter(_.group.startsWith("pb:"))
      .groupBy(_.group.stripPrefix("pb:").toLong)
    val gaps = spans.filter(_.name == layer).flatMap { s =>
      jobsBySpan.get(s.id).map(js => js.map(_.start).min - s.start)
    }
    if (gaps.isEmpty) 0.0 else gaps.map(math.max(0.0, _)).sum / 1e3 / gaps.size
  }
}
