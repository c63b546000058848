package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.pipeline.Schemas

/** The one seeded input generator behind all three workloads. The same
  * seed gives the same inputs; the program sees only what is generated
  * here. Each generator also returns the measured input properties. */
object Gen {

  // ---------------------------------------------------------------- feed

  final case class Video(id: String, title: String, publishedAt: String,
      channel: String, seq: Long)

  final case class Fact(video: String, owner: String, ctype: String, j: Int,
      k: Long)

  final case class Feed(videos: IndexedSeq[Video], facts: IndexedSeq[Fact],
      props: Seq[(String, Any)])

  val WindowStart = "2024-05-01T00:00:00Z"
  val WindowEnd = "2024-05-02T23:59:59Z"
  val Owners: Seq[String] = Seq("owner1", "owner2")

  private val DayStart = java.time.Instant.parse(WindowStart).getEpochSecond
  private def iso(sec: Long): String =
    java.time.Instant.ofEpochSecond(sec).toString

  /** Title shapes: a valid 3-char code, a valid 4-char code, and two
    * shapes stage 2 purges to an empty code (all digits, lowercase). */
  private def title(r: Random, i: Long): (String, Boolean) = r.nextInt(10) match {
    case x if x < 3 => (s"Show $i | AB${r.nextInt(10)}", false)
    case x if x < 6 => (s"Clip $i | CDE${r.nextInt(10)}", false)
    case x if x < 8 => (s"Ep $i | 2024", true)
    case _ => (s"Talk $i | xyzw", true)
  }

  /** `n` distinct videos plus re-ingested versions of `reingestShare` of
    * them. A re-ingest carries a new title and a higher `ingest_seq`
    * that lands at least `minDelay` rows later in arrival order, so it
    * is committed in a later epoch and last-wins decides the row.
    * Channels ch4/ch5 miss the channel dimension; 2% of videos fall
    * outside the ingest window. Owner 1 serves about 35% of videos with
    * two fact rows each, owner 2 about 45% with one row; videos both
    * serve must take owner 1's figures (the anti-join), and the rest
    * keep null metrics. */
  def feed(seed: Long, n: Int, reingestShare: Double, minDelay: Int): Feed = {
    val r = new Random(seed)
    val originals = (0 until n).map { i =>
      val (t, _) = title(r, i)
      val pub =
        if (r.nextDouble() < 0.02) iso(DayStart + 3 * 86400L + r.nextInt(86400))
        else iso(DayStart + r.nextInt(172800))
      Video(s"v$i", t, pub, s"ch${r.nextInt(6)}", 10L * i)
    }
    val reingested = originals.filter(_ => r.nextDouble() < reingestShare)
      .map { v =>
        val i = v.seq / 10
        val delay = minDelay + r.nextInt(4 * minDelay)
        v.copy(title = title(r, i)._1, seq = 10L * (i + delay) + 5)
      }
    val videos = (originals ++ reingested).sortBy(_.seq)
    val facts = originals.flatMap { v =>
      val k = v.seq / 10
      val o1 = r.nextDouble() < 0.35
      val o2 = r.nextDouble() < 0.45
      (if (o1) Seq(Fact(v.id, "owner1", "vod", 0, k),
          Fact(v.id, "owner1", "vod", 1, k)) else Nil) ++
        (if (o2) Seq(Fact(v.id, "owner2", "short", 0, k)) else Nil)
    }
    val latest = videos.groupBy(_.id).values.map(_.maxBy(_.seq)).toSeq
    val purged = latest.count(v => v.title.endsWith("2024") ||
      v.title.endsWith("xyzw"))
    val byOwner = facts.groupBy(_.owner).map { case (o, fs) =>
      o -> fs.map(_.video).toSet }
    val o1 = byOwner.getOrElse("owner1", Set.empty[String])
    val o2 = byOwner.getOrElse("owner2", Set.empty[String])
    Feed(videos, facts, Seq(
      "feed_rows" -> videos.size,
      "videos" -> n,
      "reingest_share" -> reingested.size.toDouble / n,
      "purged_title_share" -> purged.toDouble / latest.size,
      "channel_miss_share" ->
        latest.count(v => v.channel == "ch4" || v.channel == "ch5").toDouble /
          latest.size,
      "out_of_window_share" ->
        latest.count(_.publishedAt >= "2024-05-03").toDouble / latest.size,
      "owner1_coverage" -> o1.size.toDouble / n,
      "owner2_coverage" -> o2.size.toDouble / n,
      "owner2_only_coverage" -> (o2 -- o1).size.toDouble / n,
      "no_owner_share" -> (n - (o1 ++ o2).size).toDouble / n))
  }

  def videosDF(spark: SparkSession, vs: Seq[Video]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map(v => Row(v.id, v.title, v.publishedAt, v.channel, v.seq)), 4),
      Schemas.videoRaw)

  /** Analytics facts; values are pure functions of the video index and
    * the row number `j`, like the battery's pipeline fixture. */
  def factsDF(spark: SparkSession, fs: Seq[Fact]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(fs.map { f =>
      val k = f.k; val j = f.j
      Row(f.video, f.owner, f.ctype, (k % 100) * 10 + j,
        (k % 50) * 1.5 + j, (k % 3600) + j * 2L, (k % 20) + j, (k % 30) + j,
        (k % 10) + j, (k % 80) * 2.5 + j * 10, (k % 16) * 0.5 + j,
        (k % 15) + j, (k % 7) + j)
    }, 4), Schemas.analyticsFacts)

  def dims(spark: SparkSession): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    (Seq(("ch0", "Channel Zero"), ("ch1", "Channel One"),
      ("ch2", "Channel Two"), ("ch3", "Channel Three"))
      .toDF("channel_id", "channel_name"),
     Seq(("Team Alpha", "0"), ("Team Beta", "1"), ("Team Gamma", "2"),
      ("Team Delta", "3"), ("Digit Squad", "4"), ("Team Echo", "5"))
      .toDF("team", "employee_code"),
     Seq(("AB0", "Morning News", "B0", "International News"),
      ("AB1", "World Brief", "B1", "International News"),
      ("AB2", "Show AB2", "B2", "Entertainment"),
      ("AB3", "Show AB3", "B3", "Entertainment"),
      ("AB4", "Show AB4", "B4", "Sports"),
      ("CD", "Daily Clips", "BC", "News"))
      .toDF("code", "show_name", "broadcaster", "category"),
     Seq(("Show AB2", "Premium"), ("Show AB3", "Standard"),
      ("Daily Clips", "News Basic"), ("Morning News", "ShouldNotAppear"))
      .toDF("shows_name", "cpm_category"))
  }

  val Checks: Seq[(String, String)] = Seq(
    "video_id_present" -> "video_id IS NOT NULL",
    "seq_nonneg" -> "ingest_seq >= 0",
    "published_in_window" ->
      "published_at >= '2024-05-01' AND published_at <= '2024-05-03'")

  // ----------------------------------------------------------- warehouse

  /** One warehouse row version. */
  final case class WhRow(k: Long, title: String, views: Long, score: Double)

  val KeyBase = 7000000000L

  val WhSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("title", StringType),
    StructField("views", LongType), StructField("score", DoubleType),
    StructField("load_seq", LongType)))

  def whDF(spark: SparkSession, rows: Seq[WhRow], seq: Long): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(w => Row(w.k, w.title, w.views, w.score, seq)), 2), WhSchema)

  def whRow(r: Random, k: Long): WhRow =
    WhRow(k, s"t${k % 997}-${r.nextInt(100000)}", r.nextInt(1000000).toLong,
      r.nextInt(1000000) / 100.0)

  /** `epochs` time-ordered drains: epoch e holds the fresh key block
    * [KeyBase + e·rows, KeyBase + (e+1)·rows) plus new versions of
    * `updateShare`·rows keys from the two previous blocks (late
    * corrections), so each epoch covers a narrow contiguous key range. */
  def epochs(r: Random, epochs: Int, rows: Int,
      updateShare: Double): IndexedSeq[IndexedSeq[WhRow]] =
    (0 until epochs).map { e =>
      val fresh = (0 until rows).map(j => whRow(r, KeyBase + e.toLong * rows + j))
      val lo = math.max(0, e - 2) * rows
      val span = (e - math.max(0, e - 2)) * rows
      val upd = if (span == 0) Nil else
        r.shuffle((0 until span).toList).take((updateShare * rows).toInt)
          .map(j => whRow(r, KeyBase + lo + j))
      fresh ++ upd
    }

  /** Zipf(s) over recency ranks 1..n: rank 1 (the newest) is most likely. */
  final class Zipf(n: Int, val s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def rank(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }
}
