package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The reference's streaming pipeline in two phases: the open-loop live
  * phase ([[StreamLive]]) sets the latency metrics, the closed-loop backfill
  * phase ([[StreamBackfill]]) the throughput. */
final class StreamOrders(args: Args) extends Workload {
  import StreamOrders._

  private var live: StreamLive = _
  private var backfill: StreamBackfill = _
  private var warm: IndexedSeq[Event] = IndexedSeq.empty
  private var dirs = 0

  private def freshDir(): Path = {
    dirs += 1
    args.out.resolve(s"stream-$dirs")
  }

  /** A seeded permutation of the orders is split into the backlog's orders,
    * the live ticks and the warm-up events. The backlog delivers its orders
    * in seeded order with a re-delivered share; the window path reads it in
    * event-time order with some events delayed. */
  def prepare(): Unit = {
    val liveEvents = args.seconds * 1000 / StreamLive.TickMs * StreamLive.PerTick
    // more orders than the backlog needs; its tail is cut to size below
    val backlogOrders = (BackfillEvents / (1 + RedeliveredShare) * 1.05).toInt
    val copies = math.ceil((backlogOrders + liveEvents + WarmEvents).toDouble / OrdersAtSf01).toInt
    val topic = Inputs.topic(Main.session(Main.Cores), args.sfDir, copies, args.cache)
    val orders = Inputs.order(args.cache, s"stream-seed${args.seed}-x$copies")(
      new Random(args.seed).shuffle((0 until topic.base.size).toVector))
    val name = s"stream-seed${args.seed}-x$copies-backfill$BackfillEvents-redelivered$RedeliveredShare"
    // a re-delivery always follows its original, so cutting the tail keeps pairs whole
    val backlog = Inputs.order(args.cache, s"$name-keyed")(
      Inputs.withRedeliveries(orders.take(backlogOrders), RedeliveredShare, args.seed)
        .take(BackfillEvents))
    val timeOrder = Inputs.order(args.cache, s"$name-late$LateShare-window")(
      Inputs.byEventTime(topic, backlog, LateShare, MaxDelayDays, args.seed))
    val rest = orders.drop(backlogOrders)
    live = new StreamLive(args, rest.take(liveEvents).map(topic.event))
    warm = rest.slice(liveEvents, liveEvents + WarmEvents).map(topic.event)
    backfill = new StreamBackfill(args, backlog.map(topic.event), timeOrder.map(topic.event))
  }

  /** One micro-batch through each path, the two running side by side. */
  def warmUp(spark: SparkSession): Unit = {
    val (memK, memW) = (Streams.memoryStream(spark), Streams.memoryStream(spark))
    val queries = Seq(Streams.keyedQuery(spark, memK, args.sfDir, freshDir()),
      backfill.windowQuery(memW, freshDir()))
    Seq(memK, memW).foreach(_.addData(warm.map(_.json)))
    queries.foreach { q => q.processAllAvailable(); q.stop() }
  }

  def run(spark: SparkSession, report: Report, traced: Boolean): Unit =
    if (!traced) {
      live.measure(spark, freshDir(), report, None, 0)
      val dirs = (freshDir(), freshDir())
      val p = backfill.pass(spark, dirs, None, 0)
      backfill.check(spark, p, dirs, report)
      report.metric("throughput_per_s", backfill.eventsPerS(p), "1/s")
    } else trace(spark, report)

  /** The traced run: both phases under a tracer, the backfill also once
    * untraced (for the tracing overhead) and once on one core (for the
    * parallel speedup), and each backfill micro-batch replayed stage by stage. */
  private def trace(spark: SparkSession, report: Report): Unit = {
    val tracer = new Tracer(spark)
    val root = tracer.begin("stream_orders traced run", 0)
    val liveStart = System.nanoTime()
    live.measure(spark, freshDir(), report, Some(tracer), root)
    val liveS = Main.seconds(liveStart)
    // untraced first, so that both backfill passes follow the live phase
    val untracedDirs = (freshDir(), freshDir())
    val untraced = backfill.pass(spark, untracedDirs, None, 0)
    backfill.check(spark, untraced, untracedDirs, report)
    val p = backfill.pass(spark, (freshDir(), freshDir()), Some(tracer), root)
    backfill.spans(p, tracer, root)
    report.metric("trace.overhead_share", backfill.eventsPerS(untraced) / backfill.eventsPerS(p) - 1, "ratio")
    backfill.stateMetrics(p, report)
    Streams.sparkMetrics(
      tracer.work(Set(StreamLive.Scope, StreamBackfill.KeyedScope, StreamBackfill.WindowScope)),
      liveS + p.keyedS + p.windowS, Main.Cores, report)
    Streams.replay(spark, args.sfDir, freshDir(), backfill.keyedChunks, tracer, root, report)
    tracer.end(root)
    tracer.write(args.out.resolve("spans.jsonl"), root)
    tracer.stop()
    Main.stopSession()
    val single = Main.session(1)
    val one = backfill.eventsPerS(backfill.pass(single, (freshDir(), freshDir()), None, 0))
    report.metric("baseline.local1_events_per_s", one, "1/s")
    report.metric("baseline.speedup", backfill.eventsPerS(untraced) / one, "ratio")
  }
}

object StreamOrders {
  val OrdersAtSf01 = 150000
  val BackfillEvents = 30000
  val WarmEvents = 1000
  val RedeliveredShare = 0.10
  val LateShare = 0.05
  /** Up to about half the event-time span of a window micro-batch, so that
    * some delayed events land in a later batch, behind the watermark. */
  val MaxDelayDays = 365
}
