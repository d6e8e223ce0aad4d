package perfbench

import java.nio.file.Files

import scala.util.Random

import graft.SparkEntry
import graft.ops.FrameMemo
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch: a fixed list of catalog queries, each materialized in full as a
  * parquet write, which the DuckDB oracle check then reads back. Single-pass
  * operator kernels are set against `IterativeLoop` rounds, whose time is
  * mostly per-job scheduling. */
final class CatalogBatch(args: Args) extends Workload {
  import CatalogBatch._

  /** The seed sets the order queries run in. */
  private val order = new Random(args.seed).shuffle(Groups.toSeq.flatMap { case (g, qs) => qs.map(_ -> g) })
  private val queries = SparkEntry.queries

  def prepare(): Unit = ()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bench's between-query hygiene: drop cached plans and persisted RDDs,
    * except the lineage-cut frames FrameMemo must keep. */
  private def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val keep = FrameMemo.protectedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Every single-pass query once on the sf0.001 tables: plans, code
    * generation and JIT. An iterative query costs as much there as at sf0.1
    * (its time is per-round scheduling), so its own first rounds warm it. */
  def warmUp(spark: SparkSession): Unit = order.filter(_._2 == "single_pass").foreach { case (q, _) =>
    noop(queries(q)(spark, args.warmDir))
    sweep(spark)
  }

  /** Runs every query once, writing its full result where the oracle check
    * reads it; returns wall seconds per query, None if it failed. A tracer
    * records each query as a span under `parent`. */
  private def pass(spark: SparkSession, tracer: Option[Tracer], parent: Long = 0): Seq[(String, Option[Double])] =
    order.map { case (q, _) =>
      val t0 = System.nanoTime()
      val ok = try {
        val run = () => queries(q)(spark, args.sfDir).write.mode("overwrite")
          .parquet(args.out.resolve("catalog").resolve(q).toString)
        tracer.fold(run())(_.scoped(q, parent)(run()))
        true
      } catch { case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); false }
      val wall = Main.seconds(t0)
      Main.log(f"$q $wall%.2f s")
      sweep(spark)
      q -> Option.when(ok)(wall)
    }

  /** Times each query as the minimum over at least two passes, as
    * graft.Bench does (noise only ever adds time); further passes run while
    * another one fits in the run length. */
  def run(spark: SparkSession, report: Report, traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    val passes = List.unfold((0, 0.0)) { case (n, last) =>
      Option.when(n < MinPasses || Main.seconds(t0) + last <= args.seconds) {
        val p = pass(spark, None)
        (p, (n + 1, p.flatMap(_._2).sum))
      }
    }
    Main.log(s"${passes.size} timed passes done")
    val oracle = order.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    Files.writeString(args.out.resolve("catalog").resolve("oracle_sql.json"),
      org.json4s.jackson.Serialization.write(oracle)(org.json4s.DefaultFormats))
    val runs = passes.flatten
    report.ops(runs.size, runs.count(_._2.isEmpty), "catalog query runs")
    val wall: Map[String, Double] = runs.groupBy(_._1).map { case (q, rs) =>
      q -> rs.flatMap(_._2).minOption.getOrElse(Double.NaN)
    }
    // nearest-rank over the six queries: p50 is the third-fastest query and
    // p90 the slowest (the iterative one)
    val ms = wall.values.map(_ * 1e3).toSeq
    report.metric("latency_p50_ms", Accounting.percentile(ms, 50), "ms")
    report.metric("latency_p90_ms", Accounting.percentile(ms, 90), "ms")
    report.metric("throughput_per_s", wall.size / wall.values.sum, "1/s")
    report.metric("bench.latency_samples", ms.size, "count")
    Groups.foreach { case (g, qs) => report.metric(s"catalog_${g}_s", qs.map(wall).sum, "s") }
    if (traced) trace(spark, report, Main.median(passes.map(_.flatMap(_._2).sum)))
  }

  /** One traced pass; its overhead is measured against the median untraced
    * pass. */
  private def trace(spark: SparkSession, report: Report, untracedS: Double): Unit = {
    val tracer = new Tracer(spark)
    val root = tracer.begin("catalog_batch traced pass", 0)
    val walls = pass(spark, Some(tracer), root).map { case (q, w) => q -> w.getOrElse(Double.NaN) }.toMap
    tracer.end(root)
    report.metric("trace.overhead_share", walls.values.sum / untracedS - 1, "ratio")
    Streams.sparkMetrics(tracer.work(walls.contains), walls.values.sum, Main.Cores, report)
    Groups.foreach { case (g, qs) =>
      val w = tracer.work(qs.contains)
      val wallS = qs.map(walls).sum
      report.metric(s"catalog.$g.jobs", w.jobs, "count")
      report.metric(s"catalog.$g.task_s", w.taskMs / 1e3, "s")
      report.metric(s"catalog.$g.busy_share", w.taskMs / 1e3 / (wallS * Main.Cores), "ratio")
      report.metric(s"catalog.$g.shuffle_bytes", w.shuffleRead + w.shuffleWrite, "bytes")
      if (g == "iterative") report.metric("catalog.iterative.ms_per_job", wallS * 1e3 / w.jobs, "ms")
    }
    tracer.write(args.out.resolve("spans.jsonl"), root)
    tracer.stop()
  }
}

object CatalogBatch {
  val MinPasses = 2

  /** Single-pass operator kernels and an `IterativeLoop` query. Left out:
    * q25, q59, q64 and q103, whose DuckDB oracles take minutes at sf0.1, and
    * the slower single-pass and iterative queries (q436 among them), so that
    * a run stays short. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "single_pass" -> Seq("q28_embed_knn", "q35_ann_ivf", "q67_pii_redact",
      "q99_tfidf_keywords", "q118_pq_adc"),
    "iterative" -> Seq("q449_multi_source_bfs"))
}
