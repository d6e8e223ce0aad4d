package perfbench

/** The benchmark's own bookkeeping, kept free of Spark so it can be tested
  * on hand-built inputs. */
object Accounting {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val sorted = values.sorted
    sorted(math.max(math.ceil(p / 100.0 * sorted.size).toInt - 1, 0))
  }

  /** A completed micro-batch: the source offset range it read, `(start, end]`,
    * and when it committed (trigger start plus batch duration), in epoch ms. */
  final case class Batch(id: Long, startOffset: Long, endOffset: Long, endMs: Long)

  /** For each tick (the source offset its append produced), the first batch
    * whose end offset covers it. A tick no batch covers maps to None. */
  def committingBatch(tickOffsets: Seq[Long], batches: Seq[Batch]): Seq[Option[Batch]] = {
    val byEnd = batches.sortBy(_.endOffset).toIndexedSeq
    tickOffsets.map { off =>
      // binary search for the first batch with endOffset >= off
      var lo = 0
      var hi = byEnd.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (byEnd(mid).endOffset < off) lo = mid + 1 else hi = mid
      }
      byEnd.lift(lo)
    }
  }

  /** Event-time watermark in force for each batch of an append-mode
    * aggregation fed `batches` (each a list of event times, ms): the largest
    * event time of all earlier batches minus `delayMs`, or None before any
    * event was seen. */
  def watermarks(batches: Seq[Seq[Long]], delayMs: Long): Seq[Option[Long]] =
    batches.scanLeft(Option.empty[Long]) { (max, b) =>
      (max.toSeq ++ b).maxOption
    }.init.map(_.map(_ - delayMs))

  /** Which events a tumbling-window aggregation keeps: an event is dropped
    * when its window has already closed under the watermark in force for its
    * batch (window end at or before the watermark). Returns one flag per
    * event, batch by batch. */
  def keptByWatermark(batches: Seq[Seq[Long]], delayMs: Long, windowMs: Long): Seq[Seq[Boolean]] =
    batches.zip(watermarks(batches, delayMs)).map { case (events, wm) =>
      events.map { ts =>
        val windowEnd = Math.floorDiv(ts, windowMs) * windowMs + windowMs
        wm.forall(windowEnd > _)
      }
    }
}
