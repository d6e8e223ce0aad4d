package perfbench

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.util.Try

import graft.ops.{Derive, Enrich, JsonDecode}
import graft.queries.OrderSynth
import graft.sinks.KeyedParquetSink
import graft.streaming.OrdersPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Helpers shared by the two streaming phases. */
object Streams {

  def memoryStream(spark: SparkSession): MemoryStream[String] = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[String]
  }

  def frame(spark: SparkSession, events: Seq[Event]): DataFrame = {
    import spark.implicits._
    events.map(_.json).toDF("value")
  }

  /** Starts the reference's keyed path (decode, derive, enrich, keyed upsert). */
  def keyedQuery(spark: SparkSession, mem: MemoryStream[String], sfDir: String, dir: Path): StreamingQuery =
    OrdersPipeline.runToKeyedSink(mem.toDF(), OrderSynth.cityDim(spark, sfDir),
      dir.resolve("sink").toString, dir.resolve("checkpoint").toString)

  /** Progress of the batches that read input, in batch order. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  private def offset(s: String): Long = Try(s.trim.toLong).getOrElse(-1L)

  def batch(p: StreamingQueryProgress): Accounting.Batch =
    Accounting.Batch(p.batchId, offset(p.sources.head.startOffset),
      offset(p.sources.head.endOffset), endMs(p))

  private def phaseMs(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0)

  /** Micro-batch engine metrics of a stream's data batches. */
  def engineMetrics(ps: Seq[StreamingQueryProgress], report: Report): Unit = {
    def p50(f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else Accounting.percentile(ps.map(f), 50)
    report.metric("streaming.batches", ps.size, "count")
    report.metric("streaming.rows_per_batch_p50", p50(_.numInputRows.toDouble), "count")
    report.metric("streaming.batch_ms_p50", p50(_.batchDuration.toDouble), "ms")
    report.metric("streaming.add_batch_ms", p50(phaseMs(_, "addBatch")), "ms")
    report.metric("streaming.query_planning_ms", p50(phaseMs(_, "queryPlanning")), "ms")
    report.metric("streaming.wal_commit_ms", p50(phaseMs(_, "walCommit")), "ms")
    report.metric("streaming.commit_offsets_ms", p50(phaseMs(_, "commitOffsets")), "ms")
  }

  /** Row count, distinct keys and an order-independent hash sum of `df`:
    * two frames with the same rows agree on all three. */
  def fingerprint(df: DataFrame, key: String): (Long, Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), count_distinct(col(key)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }

  /** The keyed sink's state must equal the batch pipeline over the last
    * delivery of every order: each delivered key exactly once, with the
    * values it was last delivered with. */
  def checkKeyedState(spark: SparkSession, sfDir: String, dir: Path, delivered: Seq[Event],
      report: Report, name: String): Unit = {
    val last = delivered.groupBy(_.key).values.map(_.last).toSeq
    val expected = OrdersPipeline.enriched(frame(spark, last), OrderSynth.cityDim(spark, sfDir))
    new KeyedParquetSink(dir.resolve("sink").toString, "data_key").read(spark) match {
      case None => report.check(name, ok = false, "no committed state")
      case Some(state) =>
        val got = fingerprint(state.select(expected.columns.map(col): _*), "data_key")
        val want = fingerprint(expected, "data_key")
        report.check(name, got == want && got._1 == last.size && got._2 == last.size,
          s"rows, keys, hash sum $got, expected $want for ${last.size} orders")
    }
  }

  /** Files and bytes of the sink's committed state. */
  def liveFiles(spark: SparkSession, sink: KeyedParquetSink): (Long, Long) = {
    val files = sink.read(spark).toSeq.flatMap(_.inputFiles)
    (files.size.toLong, files.map(f => Files.size(Paths.get(URI.create(f)))).sum)
  }

  /** Buckets the commit of `epoch` rewrote: the directories of the files
    * its state holds that the previous epoch's state did not. */
  def bucketsTouched(spark: SparkSession, sink: KeyedParquetSink, epoch: Long): Long = {
    def files(e: Long) = sink.readAt(spark, e).toSeq.flatMap(_.inputFiles).toSet
    (files(epoch) -- files(epoch - 1)).map(f => Paths.get(URI.create(f)).getParent).size.toLong
  }

  private final case class Replayed(rowsIn: Double, decodeMs: Double, curateMs: Double,
      enrichMs: Double, rowsOut: Double, cityNull: Double, upsertMs: Double, jobs: Double,
      tasks: Double, buckets: Double, rowsRewritten: Double, bytesRatio: Double)

  /** Replays each recorded micro-batch as a static frame through the stages
    * of the keyed path into a fresh sink under `dir`, timing each stage on
    * the previous stage's cached output, and reports the ops and sinks
    * layers. */
  def replay(spark: SparkSession, sfDir: String, dir: Path, batches: Seq[Seq[Event]],
      tracer: Tracer, parent: Long, report: Report): Unit = {
    val dim = OrderSynth.cityDim(spark, sfDir).cache()
    dim.count()
    val target = new KeyedParquetSink(dir.resolve("sink").toString, "data_key")
    def materialize(df: DataFrame): DataFrame = {
      val c = df.persist()
      c.count()
      c
    }
    def timed(scope: String, df: DataFrame): (DataFrame, Double) = {
      val t0 = System.nanoTime()
      tracer.scoped(scope, parent)(df.write.format("noop").mode("overwrite").save())
      val ms = (System.nanoTime() - t0) / 1e6
      (materialize(df), ms)
    }
    val per = batches.zipWithIndex.map { case (events, epoch) =>
      val raw = materialize(frame(spark, events))
      val (decoded, decodeMs) = timed(s"replay.decode.$epoch", JsonDecode.fromRaw(raw))
      val (curated, curateMs) = timed(s"replay.curate.$epoch", Derive.curate(decoded))
      val (enriched, enrichMs) = timed(s"replay.enrich.$epoch", Enrich.withCity(curated, dim))
      val rowsOut = enriched.count()
      val cityNull = enriched.filter(col("city").isNull).count()
      val scope = s"replay.upsert.$epoch"
      val t0 = System.nanoTime()
      tracer.scoped(scope, parent)(target.upsert(enriched, epoch.toLong))
      val upsertMs = (System.nanoTime() - t0) / 1e6
      Seq(raw, decoded, curated, enriched).foreach(_.unpersist())
      val w = tracer.work(_ == scope)
      val inBytes = events.map(_.json.length.toLong).sum
      Replayed(events.size, decodeMs, curateMs, enrichMs, rowsOut, cityNull, upsertMs,
        w.jobs, w.tasks, bucketsTouched(spark, target, epoch), w.recordsWritten.toDouble / events.size,
        w.bytesWritten.toDouble / inBytes)
    }
    def p50(f: Replayed => Double) = Accounting.percentile(per.map(f), 50)
    report.metric("ops.rows_in", per.map(_.rowsIn).sum, "count")
    report.metric("ops.decode_ms", p50(_.decodeMs), "ms")
    report.metric("ops.curate_ms", p50(_.curateMs), "ms")
    report.metric("ops.enrich_ms", p50(_.enrichMs), "ms")
    report.metric("ops.rows_out", per.map(_.rowsOut).sum, "count")
    report.metric("ops.city_null_rows", per.map(_.cityNull).sum, "count")
    report.metric("sinks.upsert_ms", p50(_.upsertMs), "ms")
    report.metric("sinks.jobs_per_upsert", p50(_.jobs), "count")
    report.metric("sinks.tasks_per_upsert", p50(_.tasks), "count")
    report.metric("sinks.buckets_touched_per_upsert", p50(_.buckets), "count")
    report.metric("sinks.rows_rewritten_per_input_row", p50(_.rowsRewritten), "ratio")
    report.metric("sinks.bytes_written_per_input_byte", p50(_.bytesRatio), "ratio")
    val (files, bytes) = liveFiles(spark, target)
    report.metric("sinks.files_live", files, "count")
    report.metric("sinks.bytes_live", bytes, "bytes")
    dim.unpersist()
  }

  /** Engine-wide Spark work of a timed interval of `wallS` seconds. */
  def sparkMetrics(w: Work, wallS: Double, cores: Int, report: Report): Unit = {
    report.metric("spark.jobs", w.jobs, "count")
    report.metric("spark.stages", w.stages, "count")
    report.metric("spark.tasks", w.tasks, "count")
    report.metric("spark.task_s", w.taskMs / 1e3, "s")
    report.metric("spark.busy_share", w.taskMs / 1e3 / (wallS * cores), "ratio")
    report.metric("spark.shuffle_read_bytes", w.shuffleRead, "bytes")
    report.metric("spark.shuffle_write_bytes", w.shuffleWrite, "bytes")
    report.metric("spark.spill_bytes", w.spill, "bytes")
    report.metric("spark.gc_s", w.gcMs / 1e3, "s")
  }
}
