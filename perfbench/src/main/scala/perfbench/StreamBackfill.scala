package perfbench

import java.nio.file.Path
import java.time.Instant

import graft.ops.WindowStats
import graft.streaming.OrdersPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** Closed loop: a restart from the earliest offset drains a backlog in large
  * micro-batches, first through the keyed path (`keyed`, in delivery order),
  * then through the watermarked window path (`byTime`, in event-time order
  * with some events delayed). Re-deliveries force the sink's
  * read-back-and-merge; events delayed past the watermark exercise late-row
  * dropping in the state store. Per-event work outweighs fixed cost. */
final class StreamBackfill(args: Args, keyed: IndexedSeq[Event], byTime: IndexedSeq[Event]) {
  import StreamBackfill._

  def windowQuery(mem: MemoryStream[String], dir: Path): StreamingQuery =
    OrdersPipeline.windowedStats(OrdersPipeline.curatedOrders(mem.toDF()))
      .writeStream.queryName(s"window_${dir.getFileName.toString.replace('-', '_')}")
      .outputMode("append").format("memory")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(0)).start()

  /** Feeds `events` in `size` chunks, each appended once the previous one
    * has committed; returns the wall seconds. */
  private def drain(mem: MemoryStream[String], q: StreamingQuery, events: Seq[Event], size: Int): Double = {
    val t0 = System.nanoTime()
    events.grouped(size).foreach { chunk =>
      mem.addData(chunk.map(_.json))
      q.processAllAvailable()
    }
    Main.seconds(t0)
  }

  private def watermark(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("watermark")).map(s => Instant.parse(s).toEpochMilli)

  /** Drains the backlog through both paths under `dirs` (keyed, window). */
  def pass(spark: SparkSession, dirs: (Path, Path), tracer: Option[Tracer], parent: Long): Pass = {
    def scoped[T](scope: String)(body: => T): T = tracer.fold(body)(_.scoped(scope, parent)(body))
    val memK = Streams.memoryStream(spark)
    val k = scoped(KeyedScope)(Streams.keyedQuery(spark, memK, args.sfDir, dirs._1))
    val keyedS = drain(memK, k, keyed, KeyedBatchEvents)
    k.stop()
    val memW = Streams.memoryStream(spark)
    val w = scoped(WindowScope)(windowQuery(memW, dirs._2))
    val windowS = drain(memW, w, byTime, WindowBatchEvents)
    Main.log(f"backfill drained: keyed $keyedS%.2f s, window $windowS%.2f s")
    // the batch that runs without new data closes every window the final
    // watermark passed; wait for it before stopping
    val finalWm = byTime.map(_.tsMs).max - DelayMs
    val deadline = System.currentTimeMillis() + 30000
    while (!w.recentProgress.exists(p => watermark(p).exists(_ >= finalWm)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    w.processAllAvailable()
    w.stop()
    Pass(Streams.dataBatches(k), keyedS, w, w.recentProgress.toSeq, windowS, finalWm)
  }

  def eventsPerS(p: Pass): Double = (keyed.size + byTime.size) / (p.keyedS + p.windowS)

  /** Checks both paths' outputs and reports their throughput. */
  def check(spark: SparkSession, p: Pass, dirs: (Path, Path), report: Report): Unit = {
    val chunks = math.ceil(keyed.size.toDouble / KeyedBatchEvents).toLong
    report.ops(chunks, chunks - p.keyedBatches.size, "keyed micro-batches")
    report.ops(p.windowProgress.count(_.numInputRows > 0), 0, "window micro-batches")
    Streams.checkKeyedState(spark, args.sfDir, dirs._1, keyed, report, "backfill keyed state")
    checkWindows(spark, p, report)
    report.metric("backfill_events_per_s", keyed.size / p.keyedS, "1/s")
    report.metric("window_events_per_s", byTime.size / p.windowS, "1/s")
  }

  /** The batch tumbling counts over `events`. */
  private def expectedWindows(spark: SparkSession, events: Seq[Event]): DataFrame =
    WindowStats.tumblingCountsBatch(
      OrdersPipeline.curatedOrders(Streams.frame(spark, events))
        .withColumn("order_date", col("order_date").cast("timestamp")),
      "order_date", "fufilment_type", "ship_method")

  /** The window path's output must equal the batch tumbling counts over the
    * events not already behind the watermark when their batch ran, for every
    * window the final watermark closed. */
  private def checkWindows(spark: SparkSession, p: Pass, report: Report): Unit = {
    val chunks = byTime.grouped(WindowBatchEvents).toSeq
    val kept = Accounting.keptByWatermark(chunks.map(_.map(_.tsMs)), DelayMs, WindowMs)
      .zip(chunks).flatMap { case (flags, events) => events.zip(flags).collect { case (e, true) => e } }
    val expected = expectedWindows(spark, kept)
      .filter(col("window_end") <= lit(Instant.ofEpochMilli(p.finalWatermarkMs).toString).cast("timestamp"))
      .collect().toSeq.map(_.toString).sorted
    val got = spark.table(p.window.name).select(col("window.start").as("window_start"),
      col("window.end").as("window_end"), col("fufilment_type"), col("total_orders"))
      .collect().toSeq.map(_.toString).sorted
    report.check("backfill windows", got == expected,
      s"${got.size} windows, ${expected.size} expected, " +
        s"${got.diff(expected).size + expected.diff(got).size} differing, " +
        s"${byTime.size - kept.size} late")
  }

  /** The state layer, read from the window path's progress. */
  def stateMetrics(p: Pass, report: Report): Unit = {
    val state = p.windowProgress.flatMap(_.stateOperators.headOption)
    report.metric("state.rows_total", state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
    report.metric("state.memory_bytes", state.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
    report.metric("state.commit_ms", state.map(_.commitTimeMs).sum, "ms")
    report.metric("state.rows_dropped_late", state.map(_.numRowsDroppedByWatermark).sum, "count")
  }

  /** Micro-batch spans of a traced pass, for the jobs to hang under. */
  def spans(p: Pass, tracer: Tracer, parent: Long): Unit =
    (p.keyedBatches.map(KeyedScope -> _) ++ p.windowProgress.map(WindowScope -> _)).foreach {
      case (scope, b) => tracer.span(s"$scope batch ${b.batchId}", parent,
        Instant.parse(b.timestamp).toEpochMilli, Streams.endMs(b))
    }

  def keyedChunks: Seq[Seq[Event]] = keyed.grouped(KeyedBatchEvents).toSeq
}

object StreamBackfill {
  val KeyedScope = "keyed"
  val WindowScope = "window"
  val KeyedBatchEvents = 15000
  val WindowBatchEvents = 7500
  /** The reference's watermark delay and window width (2 minutes). */
  val DelayMs = 120000L
  val WindowMs = 120000L

  final case class Pass(keyedBatches: Seq[StreamingQueryProgress], keyedS: Double,
      window: StreamingQuery, windowProgress: Seq[StreamingQueryProgress], windowS: Double,
      finalWatermarkMs: Long)
}
