package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  private def xs(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("tail is the highest ladder percentile with 10 samples beyond it") {
    assert(tail(xs(1000)).contains(Tail(99.0, 990.0, 1000, 10)))
    assert(tail(xs(200)).contains(Tail(95.0, 190.0, 200, 10)))
    assert(tail(xs(199)).map(_.p).contains(90.0)) // p95 would leave only 9 beyond
    assert(tail(xs(100)).contains(Tail(90.0, 90.0, 100, 10)))
    assert(tail(xs(40)).contains(Tail(75.0, 30.0, 40, 10)))
    assert(tail(xs(20)).contains(Tail(50.0, 10.0, 20, 10)))
  }

  test("with fewer than 10 samples beyond the median there is no tail") {
    assert(tail(xs(19)).isEmpty)
    assert(tail(Seq(3.0)).isEmpty)
  }

  test("tail ignores sample order") {
    val shuffled = new scala.util.Random(7).shuffle(xs(100))
    assert(tail(shuffled) == tail(xs(100)))
  }

  test("median and nearest-rank percentile") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(percentile(xs(10), 90.0) == 9.0)
    assert(percentile(xs(10), 100.0) == 10.0)
  }

  test("union length counts overlaps once") {
    assert(unionLength(Nil) == 0.0)
    assert(unionLength(Seq((0.0, 2.0), (5.0, 6.0))) == 3.0)
    assert(unionLength(Seq((0.0, 5.0), (1.0, 2.0))) == 5.0) // nested
    assert(unionLength(Seq((3.0, 6.0), (0.0, 4.0))) == 6.0) // overlapping, unsorted
    assert(unionLength(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0) // touching
    assert(unionLength(Seq((2.0, 1.0))) == 0.0)             // empty interval
  }

  test("self time subtracts the union of overlapping children, clipped") {
    val kids = Seq((1.0, 4.0), (3.0, 6.0), (8.0, 12.0))
    // children cover [1,6] and [8,10] inside the span [0,10]
    assert(selfTime(0.0, 10.0, kids) == 3.0)
    assert(selfTime(0.0, 10.0, Nil) == 10.0)
    assert(selfTime(0.0, 10.0, Seq((-5.0, 20.0))) == 0.0)
  }

  test("driver gap is span wall minus the union of its job intervals") {
    val jobs = Seq((2.0, 3.0), (2.5, 5.0), (7.0, 8.0))
    assert(driverGap(0.0, 10.0, jobs) == 6.0)
    // concurrent jobs do not make the gap negative
    assert(driverGap(0.0, 4.0, Seq((0.0, 4.0), (0.0, 4.0))) == 0.0)
  }

  test("table hash ignores row order and partitioning") {
    val rows = Seq(Seq[Any](1L, "a", 0.5), Seq[Any](2L, null, 1.5),
      Seq[Any](3L, "c", null))
    val whole = TableHash.of(rows.iterator)
    assert(whole == TableHash.of(rows.reverse.iterator))
    assert(whole == TableHash.of(rows.take(1).iterator) +
      TableHash.of(rows.drop(1).iterator))
    assert(whole.rows == 3L)
  }

  test("table hash sees duplicates, nulls and column boundaries") {
    val one = Seq(Seq[Any]("ab", "c"))
    assert(TableHash.of(one.iterator) != TableHash.of((one ++ one).iterator))
    assert(TableHash.of(Iterator(Seq[Any]("ab", "c"))) !=
      TableHash.of(Iterator(Seq[Any]("a", "bc"))))
    assert(TableHash.of(Iterator(Seq[Any](null))) !=
      TableHash.of(Iterator(Seq[Any]("null"))))
    assert(TableHash.of(Iterator(Seq[Any](1L, "x"))) !=
      TableHash.of(Iterator(Seq[Any](2L, "x"))))
  }

  test("layer table: self time, driver gap and job counters per call") {
    val spans = Seq(
      Span(1, "stream", 0, 100, 0),
      Span(2, "stages", 10, 60, 1),
      Span(3, "check", 60, 70, 1),
      Span(4, "staging", 55, 60, 2))
    val jobs = Seq(
      JobRec(1, "pb:2", 20, 30, 4, 1000, 10L, 100L, 0L),
      JobRec(2, "pb:2", 25, 40, 2, 500, 0L, 50L, 0L),
      JobRec(3, "pb:3", 62, 66, 1, 100, 0L, 0L, 0L))
    val t = Layers.table(spans, jobs)
    assert(t("stream")("self_s") == 0.040)            // 100 - (50 + 10) ms
    assert(t("stream")("driver_gap_s") == 0.076)      // 100 - (20 + 4) ms
    assert(t("stages")("self_s") == 0.045)            // 50 - 5 ms staging
    assert(t("stages")("driver_gap_s") == 0.030)      // 50 - union [20,40]
    assert(t("stages")("jobs") == 2.0 && t("stages")("tasks") == 6.0)
    assert(t("stages")("task_s") == 1.5)
    assert(t("dml")("wall_s") == 0.0 && t("dml")("calls") == 0.0)
    assert(Layers.planSeconds("stages", spans, jobs) == 0.010)
  }
}
