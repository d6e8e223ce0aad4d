package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.queries.OrderSynth
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One order event as the topic carries it: `key` is the order id (one
  * `data_key` per order), `tsMs` its `order_date`, `json` the payload. */
final case class Event(key: Long, tsMs: Long, json: String)

/** The order topic and the seeded delivery orders the streams read.
  *
  * The topic is the sf0.1 order stream (`OrderSynth.orderEvents` in the
  * `OrderSynth.rawJson` JSON shape) replicated `copies` times with disjoint
  * order numbers. Every order also has a re-delivered version with a changed
  * total. Synthesis is seed-independent and cached once per copy count; the
  * seed only picks delivery orders, which are cached per seed as index lists.
  */
final class Topic(val base: IndexedSeq[(Long, Long, String, String)]) {

  /** Index `i >= 0` is order `i`; `~i` is its re-delivery. */
  def event(ix: Int): Event = {
    val (key, ts, json, redelivered) = base(if (ix >= 0) ix else ~ix)
    Event(key, ts, if (ix >= 0) json else redelivered)
  }
}

object Inputs {

  /** Order ids of copy `r` are shifted by `r * CopyStride`; sf0.1 order ids
    * stay below it, and order numbers keep their 7 digits for `copies <= 9`. */
  val CopyStride = 1000000L

  def topic(spark: => SparkSession, sfDir: String, copies: Int, cache: Path): Topic = {
    require(copies >= 1 && copies <= 9, s"copies $copies outside 1..9")
    val file = cache.resolve(s"topic-x$copies.tsv")
    if (!Files.exists(file)) {
      val s = spark
      val events = OrderSynth.orderEvents(s, sfDir)
      val copy = s.range(copies).select(col("id").as("copy"))
      val shifted = events.crossJoin(copy)
        .withColumn("order_id", (col("order_id") + col("copy") * CopyStride).cast("int"))
        .withColumn("order_number",
          concat(lit("BX"), lpad(col("order_id").cast("string"), 7, "0")))
        .drop("copy")
      val fields = events.columns.map(col)
      val rows = shifted.select(
          col("order_id").cast("long"),
          unix_millis(to_timestamp(col("order_date"))),
          to_json(struct(fields: _*)),
          to_json(struct(events.columns.map {
            case "order_total" => round(col("order_total") * 1.1, 2).as("order_total")
            case c => col(c)
          }: _*)))
        .orderBy(col("order_id"))
        .collect()
      val lines = rows.iterator.map(r =>
        s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getString(2)}\t${r.getString(3)}")
      val tmp = Files.createTempFile(cache, "topic", ".tmp")
      Files.write(tmp, lines.toSeq.asJava, UTF_8)
      Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val base = Files.readAllLines(file, UTF_8).asScala.iterator.map { line =>
      val Array(k, ts, json, redelivered) = line.split('\t')
      (k.toLong, ts.toLong, json, redelivered)
    }.toIndexedSeq
    new Topic(base)
  }

  /** A delivery order cached under `name`, built by `make` on first use. */
  def order(cache: Path, name: String)(make: => Seq[Int]): IndexedSeq[Int] = {
    val file = cache.resolve(s"$name.order")
    if (!Files.exists(file)) {
      val tmp = Files.createTempFile(cache, name, ".tmp")
      Files.write(tmp, make.map(_.toString).asJava, UTF_8)
      Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    Files.readAllLines(file, UTF_8).asScala.map(_.toInt).toIndexedSeq
  }

  /** A delivery order of `orders`: a seeded permutation, plus a re-delivery
    * of a seeded `share` of them, each placed at a seeded position after its
    * original. */
  def withRedeliveries(orders: Seq[Int], share: Double, seed: Long): Seq[Int] = {
    val rnd = new Random(seed)
    val first = orders.map(_ -> rnd.nextDouble())
    val again = first.filter(_ => rnd.nextDouble() < share)
      .map { case (o, pos) => ~o -> (pos + (1 - pos) * rnd.nextDouble()) }
    (first ++ again).sortBy(_._2).map(_._1)
  }

  /** The window backfill order: the deliveries of `keyed` sorted by event
    * time, except a seeded `share` whose delivery is delayed by one to
    * `maxDelayDays` days of event time, so they arrive out of order. */
  def byEventTime(topic: Topic, keyed: Seq[Int], share: Double, maxDelayDays: Int,
      seed: Long): Seq[Int] = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    val day = 86400000L
    keyed.map { ix =>
      val delay = if (rnd.nextDouble() < share) (1 + rnd.nextInt(maxDelayDays)) * day else 0L
      (ix, topic.event(ix).tsMs + delay, rnd.nextLong())
    }.sortBy(t => (t._2, t._3)).map(_._1)
  }
}
