package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sinks.AtomicWarehouse
import Workload._

/** The dashboard side: a warehouse of time-ordered drains (contiguous
  * key blocks, late corrections to recent keys, deferred purge
  * tombstones and one column rename) read by a seeded closed-loop mix of
  * point, one-epoch range, full merged and connector reads. An op is one
  * read; each result is checked against the generator's model. */
object WarehouseRead extends Workload {
  val name = "warehouse_read"

  val Epochs = 8
  val RowsPerEpoch = 3000
  val UpdateShare = 0.1
  val PurgedKeys = 40
  val ZipfS = 1.1
  val SetupRepeats = 3
  /** One block of the read mix, shuffled per block. */
  val Mix: Seq[String] = Seq.fill(11)("point") ++ Seq.fill(5)("range") ++
    Seq.fill(2)("conn") ++ Seq.fill(2)("full")

  /** What the generated history must read as. */
  final class Model(val epochs: IndexedSeq[IndexedSeq[Gen.WhRow]],
      val purged: Set[Long]) {
    /** key -> (epoch index, winning version) */
    val latest: Map[Long, (Int, Gen.WhRow)] = epochs.zipWithIndex
      .flatMap { case (rows, e) => rows.map(w => w.k -> (e, w)) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      .filter { case (k, _) => !purged(k) }
    /** Every committed version's key, purged keys excluded (the log view). */
    val logKeys: IndexedSeq[Long] =
      epochs.flatten.map(_.k).filterNot(purged).sorted
    val liveKeys: IndexedSeq[Long] = latest.keys.toIndexedSeq.sorted
    val epochKeys: IndexedSeq[Array[Long]] =
      epochs.map(_.map(_.k).sorted.toArray)

    private def inRange(ks: IndexedSeq[Long], lo: Long, hi: Long): (Long, Long) = {
      val sel = ks.filter(k => k >= lo && k <= hi)
      (sel.size.toLong, sel.sum)
    }
    def merged(lo: Long, hi: Long): (Long, Long) = inRange(liveKeys, lo, hi)
    def log(lo: Long, hi: Long): (Long, Long) = inRange(logKeys, lo, hi)
    def epochHolds(e: Int, lo: Long, hi: Long): Boolean = {
      val ks = epochKeys(e)
      val i = java.util.Arrays.binarySearch(ks, lo)
      val j = if (i >= 0) i else -i - 1
      j < ks.length && ks(j) <= hi
    }
    def row(k: Long): Option[Seq[Any]] = latest.get(k).map { case (e, w) =>
      Seq(w.k, w.title, w.views, w.score, e + 1L) }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val r = new Random(ctx.seed)
    val epochs = Gen.epochs(r, Epochs, RowsPerEpoch, UpdateShare)
    val allKeys = epochs.flatten.map(_.k).distinct
    val purged = r.shuffle(allKeys).take(PurgedKeys)
    val model = new Model(epochs, purged.toSet)

    var dir = ""
    (1 to SetupRepeats).foreach { i =>
      val d = ctx.dir(s"wh_$i")
      out.setupS += seconds(build(ctx, d, epochs, purged))._2
      if (dir.nonEmpty) deleteTree(new File(dir))
      dir = d
    }

    out.phase("setup")
    val zipf = new Gen.Zipf(Epochs, ZipfS)
    val total = Epochs.toLong * RowsPerEpoch
    def anyRange(): (Long, Long) = {
      val lo = Gen.KeyBase + (r.nextDouble() * (total - RowsPerEpoch)).toLong
      (lo, lo + RowsPerEpoch - 1)
    }
    def pointKey(): Long = {
      val e = Epochs - zipf.rank(r)
      Gen.KeyBase + e.toLong * RowsPerEpoch + r.nextInt(RowsPerEpoch)
    }
    val t = ctx.tracer
    def pruning(lo: Long, hi: Long, point: Boolean): Unit = if (t.enabled) {
      val entries = AtomicWarehouse.committedEntriesAt(spark, dir,
        AtomicWarehouse.currentVersion(spark, dir))
      val opened =
        if (point) AtomicWarehouse.scanListForPoint(entries, "k", lo)
        else AtomicWarehouse.scanListForRange(entries, "k", lo, hi)
      val hits = opened.map(_.name).collect {
        case n if n.matches("epoch_\\d+") => n.stripPrefix("epoch_").toInt - 1
      }.count(e => model.epochHolds(e, lo, hi))
      t.add("read.epochs_total", entries.size)
      t.add("read.epochs_opened", opened.size)
      t.add("read.epoch_hits", hits)
      t.add("read.pruned_reads", 1)
    }
    def agg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)), sum(col("k"))).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    def conn() = spark.read.format("graft-warehouse").option("path", dir).load()

    def readOnce(kind: String): Unit = kind match {
      case "point" =>
        val k = pointKey()
        var got: Array[Row] = null
        op(out, "point") {
          got = t.span("read")(AtomicWarehouse.readPoint(spark, dir, "k", k)
            .select("k", "title", "view_count", "score", "load_seq").collect())
        } { got.map(_.toSeq).toSeq == model.row(k).toSeq }
        pruning(k, k, point = true)
      case "range" =>
        val (lo, hi) = anyRange()
        var got = (0L, 0L)
        op(out, "range") {
          got = t.span("read")(agg(AtomicWarehouse.readRange(spark, dir, "k", lo, hi)))
        } { got == model.merged(lo, hi) }
        pruning(lo, hi, point = false)
      case "full" =>
        var got = (0L, 0L)
        op(out, "full") {
          got = t.span("read")(agg(AtomicWarehouse.read(spark, dir, "k")))
        } { got == model.merged(Long.MinValue, Long.MaxValue) }
      case "conn" =>
        val (lo, hi) = anyRange()
        var got = (0L, 0L)
        op(out, "conn") {
          got = t.span("read")(agg(conn().where(col("k").between(lo, hi))))
        } { got == model.log(lo, hi) }
        pruning(lo, hi, point = false)
    }

    // warm-up (untimed): one read of each kind
    Seq("point", "range", "full", "conn").foreach(readOnce)
    out.ops.clear()

    out.phase("warm_up")
    // whole blocks only, so every run times the same mix of reads
    val t0 = System.nanoTime()
    while (out.ops.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      r.shuffle(Mix).foreach(readOnce)
    out.measuredS = out.ops.map(_.secs).sum

    out.endTimed()
    val got = out.readBack(t)(tableHash(AtomicWarehouse.read(spark, dir, "k")
      .select("k", "title", "view_count", "score", "load_seq")))
    val want = Stats.TableHash.of(model.liveKeys.iterator.map(k => model.row(k).get))
    out.finalOk = got.contains(want)
    if (!out.finalOk) out.notes += s"final read hash $got != model $want"

    out.phase("read_back_check")
    Seq("point" -> "read_point_s.p50", "range" -> "read_range_s.p50",
      "full" -> "read_full_s.p50", "conn" -> "read_conn_s.p50").foreach {
      case (k, m) => out.extra += ((m, out.p50Of(k), "s"))
    }
    val pruned = t.counter("read.pruned_reads")
    if (pruned > 0) {
      out.layerExtra += (("read.epochs_opened", t.counter("read.epochs_opened") / pruned))
      out.layerExtra += (("read.epochs_total", t.counter("read.epochs_total") / pruned))
      out.layerExtra += (("read.epoch_hit_ratio",
        t.counter("read.epoch_hits") / t.counter("read.epochs_opened").max(1.0)))
    }
    out.inputs ++= Seq("epochs" -> Epochs, "rows_per_epoch" -> RowsPerEpoch,
      "row_versions" -> epochs.map(_.size).sum,
      "live_keys" -> model.liveKeys.size,
      "update_share" -> (epochs.map(_.size).sum - allKeys.size).toDouble /
        allKeys.size,
      "purged_keys" -> PurgedKeys, "zipf_s" -> ZipfS,
      "mix" -> Mix.groupBy(identity).map { case (k, v) => k -> v.size },
      "warehouse_entries" -> AtomicWarehouse.committedEpochs(spark, dir).size,
      "warehouse_bytes" -> listing(dir).bytes)
    out
  }

  /** Commit the history: every epoch with key stats and a key bloom,
    * then two deferred purge tombstones and a column rename. */
  private def build(ctx: Ctx, dir: String,
      epochs: IndexedSeq[IndexedSeq[Gen.WhRow]], purged: Seq[Long]): Unit = {
    val spark = ctx.spark
    epochs.zipWithIndex.foreach { case (rows, e) =>
      AtomicWarehouse.commitEpoch(spark, dir, Gen.whDF(spark, rows, e + 1L),
        e + 1L, statsKey = Some("k"), bloomKey = Some("k"))
    }
    val (a, b) = purged.splitAt(purged.size / 2)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", a)
    AtomicWarehouse.purgeKeysDeferred(spark, dir, "k", b)
    AtomicWarehouse.renameColumn(spark, dir, "views", "view_count")
  }
}
