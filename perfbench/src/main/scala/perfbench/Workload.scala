package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload is given: the session, the tracer, the seed, how long
  * to measure and a scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, work: File) {
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** One timed operation of a workload's closed loop. */
final case class Op(kind: String, secs: Double, ok: Boolean)

/** Everything a workload measured. `attempted`/`failed` count the ops
  * plus the final state check. */
final class Outcome {
  val setupS = ArrayBuffer.empty[Double]
  val ops = ArrayBuffer.empty[Op]
  var measuredS = 0.0
  var readbackS = 0.0
  var liveHeapMb = 0.0
  var finalOk = false
  /** Workload-specific end-to-end figures: name, value, unit. */
  val extra = ArrayBuffer.empty[(String, Double, String)]
  /** Workload-specific per-layer figures. */
  val layerExtra = ArrayBuffer.empty[(String, Double)]
  val inputs = ArrayBuffer.empty[(String, Any)]
  val notes = ArrayBuffer.empty[String]
  /** Wall seconds of each phase of the run, in order. */
  val phases = ArrayBuffer.empty[(String, Double)]
  private var phaseT0 = System.nanoTime()
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases += (name -> (now - phaseT0) / 1e9)
    phaseT0 = now
  }

  /** Read back the final state `WarmReadBacks` times untimed (the read
    * path runs here for the first time in the run, and its first calls
    * are still compiling), then `ReadBacks` times as timed `read` calls,
    * keeping the median. The hash, if every read gave the same one. */
  def readBack(t: Tracer)(read: => Stats.TableHash): Option[Stats.TableHash] = {
    val warm = (1 to Outcome.WarmReadBacks).map(_ => read)
    val runs = (1 to Outcome.ReadBacks).map(_ => Workload.seconds(t.span("read")(read)))
    readbackS = Stats.median(runs.map(_._2))
    inputs += "read_back_samples_s" -> runs.map(_._2)
    val hashes = (warm ++ runs.map(_._1)).distinct
    if (hashes.size > 1) notes += s"read-backs disagree: ${hashes.mkString(", ")}"
    hashes.headOption.filter(_ => hashes.size == 1)
  }

  /** Close the timed phase: record the heap still in use after full
    * collections, while the workload's state is reachable. The pause
    * lets Spark's cleaner release what the first collection found
    * unreachable, so the second one frees it. */
  def endTimed(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    phase("timed")
  }

  def attempted: Int = ops.size + 1
  def failed: Int = ops.count(!_.ok) + (if (finalOk) 0 else 1)

  /** Median of the op times of the given kinds (0 when none ran). */
  def p50Of(kinds: String*): Double = {
    val xs = ops.filter(o => kinds.contains(o.kind)).map(_.secs).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}

object Outcome {
  val WarmReadBacks = 5
  val ReadBacks = 7
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Workload {
  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one op of the closed loop: time it, then run its (untimed)
    * check; an exception in either fails the op. */
  def op(out: Outcome, kind: String)(body: => Unit)(check: => Boolean): Unit = {
    val t0 = System.nanoTime()
    var secs = Double.NaN
    val ok = try {
      body
      secs = (System.nanoTime() - t0) / 1e9
      check || { out.notes += s"$kind op ${out.ops.size + 1} failed its check"; false }
    } catch {
      case NonFatal(e) =>
        out.notes += s"$kind op ${out.ops.size + 1} failed: " +
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        false
    }
    out.ops += Op(kind, if (secs.isNaN) (System.nanoTime() - t0) / 1e9 else secs, ok)
  }

  /** Order-independent hash of a DataFrame's rows, computed where the
    * rows live. */
  def tableHash(df: DataFrame): Stats.TableHash =
    df.rdd.mapPartitions(it => Iterator(Stats.TableHash.of(it.map(_.toSeq))))
      .collect().foldLeft(Stats.TableHash.Empty)(_ + _)

  /** Data files, their bytes, and the newest manifest's bytes under a
    * warehouse directory. */
  final case class Listing(files: Long, bytes: Long, manifestBytes: Long)

  def listing(dir: String): Listing = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new File(dir)
    val all = if (root.exists()) walk(root) else Nil
    val (man, data) = all.partition(_.getParentFile.getName == "_manifest")
    val newest = man.filter(f => f.getName.matches("v\\d+\\.json"))
      .sortBy(_.getName.stripPrefix("v").stripSuffix(".json").toLong)
      .lastOption.map(_.length()).getOrElse(0L)
    val real = data.filterNot(f => f.getName.startsWith(".") ||
      f.getName.startsWith("_"))
    Listing(real.size.toLong, real.map(_.length()).sum, newest)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
