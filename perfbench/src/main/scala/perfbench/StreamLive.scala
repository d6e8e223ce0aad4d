package perfbench

import java.nio.file.Path
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Open loop: one generator thread appends order events at a fixed rate in
  * ticks stamped with their due time, into the keyed path under a
  * `ProcessingTime(0)` trigger. At this rate micro-batches are small, so the
  * fixed cost of a batch sets the latency. */
final class StreamLive(args: Args, events: IndexedSeq[Event]) {
  import StreamLive._

  private val ticks = events.size / PerTick

  /** Appends the ticks on schedule and waits until all are committed. */
  private def pass(spark: SparkSession, dir: Path, tracer: Option[Tracer], parent: Long): Pass = {
    val mem = Streams.memoryStream(spark)
    val start = () => Streams.keyedQuery(spark, mem, args.sfDir, dir)
    val q = tracer.fold(start())(_.scoped(Scope, parent)(start()))
    val t0 = System.currentTimeMillis() + StartDelayMs
    val recorded = (0 until ticks).map { k =>
      val due = t0 + k.toLong * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val late = System.currentTimeMillis() - due
      val off = mem.addData(tick(k).map(_.json)).asInstanceOf[LongOffset].offset
      val committed = Streams.dataBatches(q).map(_.numInputRows).sum
      Tick(off, due, late, (k + 1L) * PerTick - committed)
    }
    q.processAllAvailable()
    q.stop()
    Pass(recorded, Streams.dataBatches(q))
  }

  private def tick(k: Int): Seq[Event] = events.slice(k * PerTick, (k + 1) * PerTick)

  /** Runs the open loop, checks the sink and reports the latency of each
    * tick: the end of the batch that committed it minus its due time. With a
    * tracer, reports the sources and streaming layers instead. */
  def measure(spark: SparkSession, dir: Path, report: Report, tracer: Option[Tracer],
      parent: Long): Unit = {
    val p = pass(spark, dir, tracer, parent)
    Main.log(s"live pass done: ${p.progress.size} batches")
    val latencies = Accounting.committingBatch(p.ticks.map(_.offset), p.progress.map(Streams.batch))
      .zip(p.ticks).collect { case (Some(b), t) => (b.endMs - t.dueMs).toDouble }
    report.ops(p.ticks.size, p.ticks.size - latencies.size, "live ticks committed")
    report.ops(p.progress.size, 0, "live micro-batches")
    Streams.checkKeyedState(spark, args.sfDir, dir, events, report, "live keyed state")
    report.metric("bench.latency_samples", latencies.size, "count")
    tracer match {
      case None =>
        report.metric("latency_p50_ms", Accounting.percentile(latencies, 50), "ms")
        report.metric("latency_p90_ms", Accounting.percentile(latencies, 90), "ms")
      case Some(t) =>
        p.progress.foreach { b =>
          t.span(s"$Scope batch ${b.batchId}", parent, Instant.parse(b.timestamp).toEpochMilli,
            Streams.endMs(b))
        }
        report.metric("sources.gen_late_ms_max", p.ticks.map(_.lateMs).max, "ms")
        report.metric("sources.lag_events_max", p.ticks.map(_.lagEvents).max, "count")
        Streams.engineMetrics(p.progress, report)
    }
  }
}

object StreamLive {
  val Scope = "live"
  val RatePerS = 2000
  val TickMs = 100
  val PerTick: Int = RatePerS * TickMs / 1000
  /** Lets the query start before the first tick is due. */
  val StartDelayMs = 1000L

  final case class Tick(offset: Long, dueMs: Long, lateMs: Long, lagEvents: Long)
  final case class Pass(ticks: Seq[Tick], progress: Seq[StreamingQueryProgress])
}
