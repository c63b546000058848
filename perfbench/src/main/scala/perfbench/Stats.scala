package perfbench

import scala.util.hashing.MurmurHash3

/** Pure helpers behind every reported number: percentiles, the tail
  * rule, interval unions (self time, driver gap) and the order-independent
  * row hash the correctness checks compare. No Spark state in here. */
object Stats {

  /** Median of `xs` (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The percentiles a tail may be reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** A tail figure: percentile `p`, its value, the sample count and how
    * many samples rank above it. */
  final case class Tail(p: Double, value: Double, n: Int, beyond: Int)

  /** The highest percentile of [[TailLadder]] with at least `minBeyond`
    * samples ranked above it; none when even the median has fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    TailLadder.filter(p => n - rank(n, p) >= minBeyond).lastOption
      .map(p => Tail(p, percentile(xs, p), n, n - rank(n, p)))
  }

  /** Total length covered by `intervals` (overlaps counted once). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (curHi.isNaN || a > curHi) {
          if (!curHi.isNaN) total += curHi - curLo
          curLo = a; curHi = b
        } else curHi = math.max(curHi, b)
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }

  /** Length of [lo, hi] covered by `intervals`. */
  def coveredWithin(lo: Double, hi: Double,
      intervals: Seq[(Double, Double)]): Double =
    unionLength(intervals.map { case (a, b) =>
      (math.max(a, lo), math.min(b, hi)) })

  /** A span's self time: its duration minus the part of it that its
    * child spans cover (children may overlap each other). */
  def selfTime(start: Double, end: Double,
      children: Seq[(Double, Double)]): Double =
    (end - start) - coveredWithin(start, end, children)

  /** Driver gap of a span: its wall time minus the union of the Spark
    * job intervals inside it — planning, listing, manifest I/O and other
    * single-threaded driver work. */
  def driverGap(start: Double, end: Double,
      jobs: Seq[(Double, Double)]): Double =
    selfTime(start, end, jobs)

  /** Canonical rendering of one row: values joined by the unit
    * separator, SQL NULL as the NUL character. */
  def canonicalRow(values: Seq[Any]): String =
    values.map(v => if (v == null) "\u0000" else v.toString).mkString("\u001f")

  /** 64-bit hash of one canonical row. */
  def rowHash64(values: Seq[Any]): Long = {
    val s = canonicalRow(values)
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Order-independent hash of a multiset of rows: the count and the
    * wrapping sum of the per-row hashes. Equal multisets hash equal
    * whatever the row order or partitioning. */
  final case class TableHash(rows: Long, sum: Long) {
    def +(o: TableHash): TableHash = TableHash(rows + o.rows, sum + o.sum)
    override def toString: String = f"$rows%d:$sum%016x"
  }

  object TableHash {
    val Empty: TableHash = TableHash(0L, 0L)
    def of(rows: Iterator[Seq[Any]]): TableHash =
      rows.foldLeft(Empty)((h, r) => h + TableHash(1L, rowHash64(r)))
  }
}
