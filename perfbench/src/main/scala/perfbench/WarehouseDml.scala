package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.Row
import graft.sinks.AtomicWarehouse
import Workload._

/** Writes next to reads on the warehouse layer: a smaller warehouse of
  * the same shape, then a seeded closed-loop mix of append/upsert epoch
  * commits, SQL MERGE INTO / UPDATE / predicate DELETE through the
  * warehouse catalog and the `GraftExtensions` rewrite rules, key purges,
  * and a compaction every block. An op is one statement; an untimed
  * point read after each op checks a key it touched, and the final state
  * is checked against the model after the whole op log. */
object WarehouseDml extends Workload {
  val name = "warehouse_dml"

  val Epochs = 3
  val RowsPerEpoch = 1000
  val UpdateShare = 0.1
  val SetupRepeats = 5
  val Catalog = "pbdml"
  /** One block of the statement mix: one statement of each kind in a
    * seeded order, then a compaction, so a compact runs every
    * `Mix.size` statements. The weights are equal because no measured
    * production mix exists to follow. */
  val Mix: Seq[String] = Seq("append", "merge", "update", "delete", "purge")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val r = new Random(ctx.seed)
    val epochs = Gen.epochs(r, Epochs, RowsPerEpoch, UpdateShare)

    var root = ""
    (1 to SetupRepeats).foreach { i =>
      val rt = ctx.dir(s"dml_$i")
      out.setupS += seconds {
        epochs.zipWithIndex.foreach { case (rows, e) =>
          AtomicWarehouse.commitEpoch(spark, s"$rt/t", Gen.whDF(spark, rows, e + 1L),
            e + 1L, statsKey = Some("k"), bloomKey = Some("k"))
        }
      }._2
      if (root.nonEmpty) deleteTree(new File(root))
      root = rt
    }
    out.phase("setup")
    val dir = s"$root/t"
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sources.v2.WarehouseCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", root)
    spark.conf.set(s"spark.sql.catalog.$Catalog.mergeKey", "k")
    val table = s"$Catalog.t"

    // the model: current winner per key
    val state = mutable.Map.empty[Long, Gen.WhRow]
    epochs.foreach(_.foreach(w => state(w.k) = w))
    var nextKey = Gen.KeyBase + Epochs.toLong * RowsPerEpoch
    def fresh(n: Int): Seq[Gen.WhRow] = (0 until n).map { _ =>
      nextKey += 1; Gen.whRow(r, nextKey) }
    def existing(n: Int): Seq[Long] = {
      val ks = state.keys.toIndexedSeq.sorted
      Seq.fill(n)(ks(r.nextInt(ks.size))).distinct
    }
    /** A run of consecutive live keys starting at a random one. */
    def keyRun(n: Int): (Long, Long) = {
      val ks = state.keys.toIndexedSeq.sorted
      val i = r.nextInt(math.max(1, ks.size - n))
      (ks(i), ks(math.min(ks.size - 1, i + n - 1)))
    }
    val t = ctx.tracer
    def pointIs(k: Long): Boolean = {
      if (t.enabled) {
        val entries = AtomicWarehouse.committedEntriesAt(spark, dir,
          AtomicWarehouse.currentVersion(spark, dir))
        t.add("read.epochs_total", entries.size)
        t.add("read.epochs_opened", AtomicWarehouse.scanListForPoint(entries, "k", k).size)
        t.add("read.pruned_reads", 1)
      }
      val got = t.span("read")(AtomicWarehouse.readPoint(spark, dir, "k", k)
        .select("k", "title", "views", "score").collect()).map(_.toSeq).toSeq
      got == state.get(k).map(w => Seq(w.k, w.title, w.views, w.score)).toSeq
    }
    def commitTraced(body: => Unit): Unit = {
      val before = listing(dir)
      t.span("commit")(body)
      val after = listing(dir)
      t.add("commit.files", (after.files - before.files).toDouble)
      t.add("commit.bytes", (after.bytes - before.bytes).toDouble)
      t.add("commit.manifest_bytes", after.manifestBytes.toDouble)
    }
    var srcN = 0

    def statement(kind: String): Unit = kind match {
      case "append" =>
        val rows = fresh(150) ++ existing(40).map(k => Gen.whRow(r, k))
        op(out, kind) {
          commitTraced {
            val seq = AtomicWarehouse.maxLoadSeq(spark, dir).getOrElse(0L) + 1
            AtomicWarehouse.commitEpoch(spark, dir, Gen.whDF(spark, rows, seq),
              seq, statsKey = Some("k"), bloomKey = Some("k"))
          }
          rows.foreach(w => state(w.k) = w)
        } { pointIs(rows.last.k) }
      case "merge" =>
        val rows = existing(30).map(k => Gen.whRow(r, k)) ++ fresh(10)
        srcN += 1
        val view = s"pb_src_$srcN"
        spark.createDataFrame(spark.sparkContext.parallelize(
            rows.map(w => Row(w.k, w.title, w.views, w.score)), 1),
          Gen.WhSchema.copy(fields = Gen.WhSchema.fields.init))
          .createOrReplaceTempView(view)
        op(out, kind) {
          t.span("dml")(spark.sql(
            s"""MERGE INTO $table t USING $view s ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET k = s.k, title = s.title,
               |  views = s.views, score = s.score
               |WHEN NOT MATCHED THEN INSERT (k, title, views, score)
               |  VALUES (s.k, s.title, s.views, s.score)""".stripMargin))
          rows.foreach(w => state(w.k) = w)
        } { pointIs(rows.head.k) }
      case "update" =>
        val (lo, hi) = keyRun(20)
        op(out, kind) {
          t.span("dml")(spark.sql(s"UPDATE $table SET title = concat('u', title) " +
            s"WHERE k >= $lo AND k <= $hi"))
          state.keys.filter(k => k >= lo && k <= hi).foreach { k =>
            state(k) = state(k).copy(title = "u" + state(k).title) }
        } { pointIs(lo) }
      case "delete" =>
        val (lo, hi) = keyRun(12)
        op(out, kind) {
          t.span("dml")(spark.sql(s"DELETE FROM $table WHERE k >= $lo AND k <= $hi"))
          state.keys.filter(k => k >= lo && k <= hi).toList.foreach(state.remove)
        } { pointIs(lo) }
      case "purge" =>
        val keys = existing(8)
        op(out, kind) {
          commitTraced(AtomicWarehouse.purgeKeys(spark, dir, "k", keys,
            statsKey = Some("k"), bloomKey = Some("k")))
          keys.foreach(state.remove)
        } { pointIs(keys.head) }
      case "compact" =>
        val k = existing(1).head
        op(out, kind) {
          val before = listing(dir).bytes
          t.span("compact")(AtomicWarehouse.compact(spark, dir, "k",
            statsKey = Some("k"), bloomKey = Some("k")))
          t.add("compact.bytes_rewritten", (listing(dir).bytes - before).toDouble)
        } { pointIs(k) }
    }

    // warm-up (untimed): two blocks; the first timed block after only
    // one still ran about a quarter slower than the later ones
    (1 to 2).foreach(_ => (Mix :+ "compact").foreach(statement))
    out.ops.clear()

    out.phase("warm_up")
    // whole blocks only, so every run times the same mix of statements
    // and ends on a freshly compacted warehouse
    val t0 = System.nanoTime()
    while (out.ops.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      r.shuffle(Mix).foreach(statement)
      statement("compact")
    }
    out.measuredS = out.ops.map(_.secs).sum

    out.endTimed()
    val got = out.readBack(t)(tableHash(
      AtomicWarehouse.read(spark, dir, "k").select("k", "title", "views", "score")))
    val want = Stats.TableHash.of(state.valuesIterator.map(w =>
      Seq(w.k, w.title, w.views, w.score)))
    out.finalOk = got.contains(want)
    if (!out.finalOk) out.notes += s"final state hash $got != model $want"

    out.phase("read_back_check")
    val pruned = t.counter("read.pruned_reads")
    if (pruned > 0) {
      out.layerExtra += (("read.epochs_opened", t.counter("read.epochs_opened") / pruned))
      out.layerExtra += (("read.epochs_total", t.counter("read.epochs_total") / pruned))
    }
    out.extra += (("commit_s.p50", out.p50Of("append"), "s"))
    out.extra += (("dml_s.p50", out.p50Of("merge", "update", "delete", "purge"), "s"))
    out.inputs ++= Seq("epochs" -> Epochs, "rows_per_epoch" -> RowsPerEpoch,
      "update_share" -> {
        val keys = epochs.flatten.map(_.k).distinct.size
        (epochs.map(_.size).sum - keys).toDouble / keys
      },
      "mix" -> (Mix :+ "compact").groupBy(identity).map { case (k, v) => k -> v.size },
      "statements" -> out.ops.size, "live_keys" -> state.size,
      "warehouse_entries" -> AtomicWarehouse.committedEpochs(spark, dir).size,
      "warehouse_bytes" -> listing(dir).bytes)
    out
  }
}
