package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.pipeline.{Pipeline, Schemas, Stages}
import graft.sinks.{AtomicWarehouse, Constraints, Warehouse}
import graft.sources.AnalyticsSource
import Workload._

/** The production path: a seeded video feed committed through the
  * `graft-videos` sink, drained by `Pipeline.streamEpochs` under
  * `Trigger.AvailableNow` in bounded micro-batches, each one epoch of
  * stages 1–6 and a CHECK-gated `AtomicWarehouse` commit. An op is one
  * epoch. The final warehouse is read back once and its hash compared
  * with a batch replay of stages 1–6 over the generated feed that
  * bypasses the connector, the stream and the warehouse. */
object EpochStream extends Workload {
  val name = "epoch_stream"

  val Videos = 8000
  val ReingestShare = 0.1
  val TargetEpochs = 6
  val SetupRepeats = 3

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val feed = Gen.feed(ctx.seed, Videos, ReingestShare,
      minDelay = math.ceil(Videos * (1 + ReingestShare) / TargetEpochs).toInt)
    // admission sized so the feed drains in exactly TargetEpochs epochs
    val batchRows = math.ceil(feed.videos.size.toDouble / TargetEpochs).toInt
    val (channels, employees, shows, cpm) = Gen.dims(spark)

    // set-up: commit the feed through the connector's sink and
    // materialize the analytics facts, several times; the last one serves
    var feedDir = ""
    var facts: DataFrame = null
    (1 to SetupRepeats).foreach { i =>
      val dir = ctx.dir(s"feed_$i")
      out.setupS += seconds {
        Gen.videosDF(spark, feed.videos).write.format("graft-videos")
          .option("path", dir).mode("append").save()
        facts = Gen.factsDF(spark, feed.facts).localCheckpoint()
      }._2
      if (feedDir.nonEmpty) deleteTree(new File(feedDir))
      feedDir = dir
    }
    out.phase("setup")
    val srcFor = (batch: DataFrame) => Pipeline.Sources(batch, channels,
      employees, shows, cpm, facts, Gen.Owners)

    // warm-up (untimed): a short stream over a small feed loads the
    // classes and code paths the timed epochs use
    val warmDir = ctx.dir("warm_feed")
    Gen.videosDF(spark, feed.videos.take(batchRows / 2))
      .write.format("graft-videos").option("path", warmDir).mode("append").save()
    runStream(ctx, warmDir, batchRows / 4, srcFor, "warm", traced = false)

    out.phase("warm_up")
    // timed: whole AvailableNow drains into a fresh warehouse, as many
    // as fit in the measuring time (at least one)
    val t0 = System.nanoTime()
    var round = 0
    var lastWh = ""
    var rows = 0L
    var streamS = 0.0
    var roundS = 0.0
    val timedRuns = scala.collection.mutable.Set.empty[java.util.UUID]
    while (round == 0 || (System.nanoTime() - t0) / 1e9 + roundS <= ctx.seconds) {
      round += 1
      val (progress, wall) = seconds(runStream(ctx, feedDir, batchRows,
        srcFor, s"r$round", traced = ctx.tracer.enabled))
      streamS += wall
      roundS = wall
      timedRuns ++= progress.map(_.runId)
      progress.filter(_.numInputRows > 0).foreach { p =>
        rows += p.numInputRows
        out.ops += Op("epoch", p.durationMs.get("triggerExecution") / 1e3, ok = true)
      }
      if (lastWh.nonEmpty) deleteTree(new File(lastWh).getParentFile)
      lastWh = ctx.dir(s"r$round/warehouse")
    }
    out.measuredS = (System.nanoTime() - t0) / 1e9

    out.endTimed()
    // read-back: the dashboard's last-wins read plus its hash
    val got = out.readBack(ctx.tracer)(tableHash(
      AtomicWarehouse.read(spark, lastWh, "video_id").drop("load_seq")
        .select(Schemas.stagingColumns.map(org.apache.spark.sql.functions.col): _*)))

    out.phase("read_back")
    // independent replay: one batch pass of stages 1–6 over the
    // generated feed (no connector, no stream, no warehouse), last-wins
    // by ingest_seq, then the warehouse's all-string edge
    val prior = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.staging)
    val s3 = Stages.enrichShow(Stages.enrichTitleCode(Stages.ingest(
      Gen.videosDF(spark, feed.videos), channels, prior, Gen.WindowStart,
      Gen.WindowEnd), employees), shows)
    val metrics = AnalyticsSource.metricsAcrossOwners(facts,
      s3.select("video_id"), Gen.Owners, withContentType = true)
    val replay = Warehouse.allString(Warehouse.sanitizeColumns(
      Stages.toCanonical(Stages.derive(Stages.mergeAnalytics(s3, metrics), cpm))))
    val want = tableHash(replay)
    out.finalOk = got.contains(want)
    if (!out.finalOk)
      out.notes += s"warehouse hash $got != replay hash $want"

    out.phase("replay_check")
    if (ctx.tracer.enabled) deriveSpans(ctx.tracer, timedRuns.toSet)
    val epochs = out.ops.size
    out.extra += (("rows_per_s", rows / streamS, "1/s"))
    out.inputs ++= feed.props
    out.inputs ++= Seq("epochs" -> epochs, "rounds" -> round,
      "max_rows_per_batch" -> batchRows, "warehouse_rows" -> want.rows,
      "warehouse_epochs" -> AtomicWarehouse.committedEpochs(spark, lastWh).size,
      "warehouse_bytes" -> listing(lastWh).bytes)
    out
  }

  /** Traced run: one `stream` span per timed micro-batch (its trigger
    * interval from the progress report) as the parent of that batch's
    * layer spans; a `staging` child of each `stages` span covering the
    * delete-and-rename swap — from the end of the staging write (its
    * last job that wrote output) to the next job or the return; and the
    * progress-report durations as `stream.*` counters. */
  private def deriveSpans(t: Tracer, runs: Set[java.util.UUID]): Unit = {
    val streams = t.allProgress.filter(p => runs(p.runId) && p.numInputRows > 0)
      .map { p =>
        val d = (k: String) =>
          Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        t.add("stream.trigger_s", d("triggerExecution") / 1e3)
        t.add("stream.add_batch_s", d("addBatch") / 1e3)
        t.add("stream.wal_s", (d("walCommit") + d("commitOffsets")) / 1e3)
        t.add("stream.latest_offset_s", d("latestOffset") / 1e3)
        t.add("stream.planning_s", d("queryPlanning") / 1e3)
        t.add("stream.overhead_s", (d("triggerExecution") - d("addBatch")) / 1e3)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Span(t.nextId(), "stream", start, start + d("triggerExecution"), 0L)
      }
    // progress timestamps have millisecond resolution
    val layers = t.allSpans.map { s =>
      if (s.parent != 0L || s.name == "read") s
      else streams.find(p => p.start <= s.start + 1.0 && s.start <= p.end)
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
    val jobs = t.allJobs
    val staging = layers.filter(_.name == "stages").flatMap { s =>
      val own = jobs.filter(_.group == s"pb:${s.id}")
      own.filter(_.outputBytes > 0).map(_.end).maxOption.map { from =>
        val to = (own.map(_.start).filter(_ >= from) :+ s.end).min
        t.add("staging.swap_s", (to - from) / 1e3)
        Span(t.nextId(), "staging", from, to, s.id)
      }
    }
    t.replaceSpans(layers ++ streams ++ staging)
  }

  /** One AvailableNow drain of `feedDir` into a fresh warehouse; returns
    * the micro-batch progress reports. Untraced, it is exactly
    * `Pipeline.streamEpochs`; traced, each batch runs the same two calls
    * `runEpochAtomic` makes, timed as layers. */
  private def runStream(ctx: Ctx, feedDir: String, batchRows: Int,
      srcFor: DataFrame => Pipeline.Sources, tag: String,
      traced: Boolean): Seq[StreamingQueryProgress] = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dirs = Pipeline.Dirs(ctx.dir(s"$tag/staging"), ctx.dir(s"$tag/warehouse"))
    val ck = ctx.dir(s"$tag/checkpoint")
    val stream = spark.readStream.format("graft-videos")
      .option("path", feedDir)
      .option("maxRowsPerBatch", batchRows.toString)
      .load()
    val q =
      if (!traced)
        Pipeline.streamEpochs(spark, stream, srcFor, dirs, Gen.WindowStart,
          Gen.WindowEnd, Gen.Checks, ck)
      else
        stream.writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            t.add("connector.rows", t.span("connector")(batch.count()).toDouble)
            t.span("stages") {
              Pipeline.runEpoch(spark, srcFor(batch), dirs, Gen.WindowStart,
                Gen.WindowEnd, id + 1, drainToWarehouse = false)
            }
            val before = listing(dirs.warehouseDir)
            t.split("check", "commit") { next =>
              Constraints.drainChecked(spark, dirs.stagingDir,
                dirs.warehouseDir, id + 1, Gen.Checks, afterCheck = next)
            }
            val after = listing(dirs.warehouseDir)
            t.add("commit.files", (after.files - before.files).toDouble)
            t.add("commit.bytes", (after.bytes - before.bytes).toDouble)
            t.add("commit.manifest_bytes", after.manifestBytes.toDouble)
            ()
          }.start()
    q.awaitTermination()
    q.recentProgress.toSeq
  }
}
