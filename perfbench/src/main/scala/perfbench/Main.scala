package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments; `sfDir` holds the sf0.1 tables, `warmDir` the
  * sf0.001 ones, `out` is this run's working and result directory and `cache`
  * holds the generated inputs runs share. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    sfDir: String, warmDir: String, out: Path, cache: Path)

/** Metrics and operation counts of one run, written as `result.json`. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts `n` attempted operations of which `bad` failed. */
  def ops(n: Long, bad: Long, what: String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) failures += s"$bad of $n $what failed"
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    ops(1, if (ok) 0 else 1, s"check $name ($detail)")

  def json(seed: Long, workload: String): String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    s"""{"workload":${str(workload)},"seed":$seed,"attempted":$attempted,"failed":$failed,""" +
      s""""failures":[${failures.map(str).mkString(",")}],"metrics":{${ms.mkString(",")}}}"""
  }
}

/** A benchmark workload. */
trait Workload {
  /** Loads (or synthesizes, once) the inputs; runs before any timed set-up. */
  def prepare(): Unit
  /** Work that brings the measured path to steady state; timed as part of
    * each set-up. */
  def warmUp(spark: SparkSession): Unit
  /** Timed work, output checks and, when `traced`, the per-layer metrics. */
  def run(spark: SparkSession, report: Report, traced: Boolean): Unit
}

object Main {
  val SetUps = 3

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // the same exclusion graft.Bench and graft.Verify configure
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000L)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(): Unit = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    .foreach { s => s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }

  val Cores: Int = Runtime.getRuntime.availableProcessors

  private val started = System.nanoTime()

  /** Progress on stderr, which run.py keeps in the run's log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${seconds(started)}%7.2fs] $msg")

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = Accounting.percentile(xs, 50)

  /** Bench's pure-CPU host sentinel: min of three warm runs. */
  def sentinel(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id)").collect()
      seconds(t0)
    }
    once()
    Seq.fill(3)(once()).min
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments ${other.mkString(" ")}")
    }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("sf-dir"), kv("warm-dir"), Paths.get(kv("out")), Paths.get(kv("cache")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.out)
    Files.createDirectories(args.cache)
    val workload: Workload = args.workload match {
      case "stream_orders" => new StreamOrders(args)
      case "catalog_batch" => new CatalogBatch(args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val report = new Report
    workload.prepare()
    log("inputs ready")
    // a set-up: session start and the workload's warm-up, up to its first
    // timed event or query; the session of the last one runs the workload
    val (setUps, sessions) = (1 to SetUps).map { _ =>
      stopSession()
      val t0 = System.nanoTime()
      val s = session(Cores)
      workload.warmUp(s)
      (seconds(t0), s)
    }.unzip
    log(s"set-ups took ${setUps.mkString(", ")} s")
    report.metric("setup_s", median(setUps), "s")
    report.metric("setup.first_s", setUps.head, "s")
    val spark = sessions.last
    report.metric("host.sentinel_s", sentinel(spark), "s")
    workload.run(spark, report, args.trace)
    report.metric("peak_rss_mb", peakRssMb(), "MB")
    Files.writeString(args.out.resolve("result.json"), report.json(args.seed, args.workload))
    stopSession()
    log("done")
  }
}
