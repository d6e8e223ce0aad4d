package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AccountingSpec extends AnyFunSuite {
  import Accounting._

  test("percentile is nearest-rank: the smallest sample with p percent at or below it") {
    val xs = (1 to 10).map(_.toDouble)
    assert(percentile(xs, 50) == 5.0)
    assert(percentile(xs, 90) == 9.0)
    assert(percentile(xs, 91) == 10.0)
    assert(percentile(xs, 100) == 10.0)
    assert(percentile(Seq(7.0), 50) == 7.0)
    assert(percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0, "input order does not matter")
    assert(percentile(Seq(1.0, 2.0), 50) == 1.0)
    assert(percentile(Seq(1.0, 2.0), 90) == 2.0)
    intercept[IllegalArgumentException](percentile(Nil, 50))
    intercept[IllegalArgumentException](percentile(xs, 0))
  }

  test("a tick is committed by the first batch whose end offset covers it") {
    // ticks appended offsets 0..6; batches read (-1, 1], (1, 4], (4, 5]
    val b0 = Batch(0, -1, 1, 1000)
    val b1 = Batch(1, 1, 4, 2000)
    val b2 = Batch(2, 4, 5, 3000)
    val got = committingBatch(0L to 6L, Seq(b2, b0, b1))
    assert(got == Seq(Some(b0), Some(b0), Some(b1), Some(b1), Some(b1), Some(b2), None))
    assert(committingBatch(Seq(0L), Nil) == Seq(None))
  }

  test("the watermark in force for a batch comes from the batches before it") {
    val batches = Seq(Seq(100L, 300L), Seq(200L), Nil, Seq(500L))
    assert(watermarks(batches, 50) == Seq(None, Some(250L), Some(250L), Some(250L)))
  }

  test("an event is dropped when its window closed under its batch's watermark") {
    val min = 60000L
    val day = 1440 * min
    // 2-minute windows and delay; dates have day resolution as in the order stream
    val batches = Seq(
      Seq(10 * day, 12 * day),          // first batch: nothing is late
      Seq(12 * day, 11 * day, 13 * day), // watermark 12d - 2min: 11d is late, 12d is not
      Seq(12 * day + 3 * min))           // watermark 13d - 2min: late
    assert(keptByWatermark(batches, 2 * min, 2 * min) ==
      Seq(Seq(true, true), Seq(true, false, true), Seq(false)))
    // the window [t, t + 2min) stays open while its end is after the watermark
    val edge = Seq(Seq(4 * min), Seq(min), Seq(2 * min + 1))
    assert(keptByWatermark(edge, 2 * min, 2 * min) == Seq(Seq(true), Seq(false), Seq(true)))
  }
}
