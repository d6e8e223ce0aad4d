package perfbench

import java.io.PrintWriter
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Work done by Spark jobs, summed over stages. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    recordsWritten: Long = 0, bytesWritten: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill,
    recordsWritten + o.recordsWritten, bytesWritten + o.bytesWritten)
}

/** A timed interval of the benchmark; `parent` is the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

/** Records spans in memory and, through a SparkListener, the jobs run under
  * each scope. A scope is a local property the benchmark sets on the thread
  * that submits work; streaming queries inherit it from the thread that
  * starts them, and each streaming job also carries its micro-batch id. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val spans = mutable.LinkedHashMap.empty[Long, Span]
  private var nextId = 1L
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  spark.sparkContext.addSparkListener(this)

  /** Records an interval known after the fact. */
  def span(name: String, parent: Long, startMs: Long, endMs: Long): Long = synchronized {
    val id = nextId
    nextId += 1
    spans(id) = Span(id, parent, name, startMs, endMs)
    id
  }

  /** Opens a span that [[end]] closes. */
  def begin(name: String, parent: Long): Long = span(name, parent, System.currentTimeMillis(), -1)

  def end(id: Long): Unit = synchronized {
    spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
  }

  /** Runs `body` under `scope`, recording it as a span named after it. */
  def scoped[T](scope: String, parent: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    val id = begin(scope, parent)
    try body
    finally {
      end(id)
      sc.setLocalProperty(ScopeKey, prev)
    }
  }

  /** Work of every finished job whose scope satisfies `p`. */
  def work(p: String => Boolean): Work = {
    ListenerBusDrain(spark.sparkContext)
    synchronized { jobs.values.filter(j => p(j.scope)).map(_.work).foldLeft(Work())(_ + _) }
  }

  /** Writes every span, one JSON object per line. A job's parent is the
    * span of its micro-batch (`<scope> batch <id>`), else of its scope, else
    * `root`. */
  def write(file: Path, root: Long): Unit = {
    ListenerBusDrain(spark.sparkContext)
    val all = synchronized {
      val byName = spans.values.map(s => s.name -> s.id).toMap
      jobs.values.foreach { j =>
        val parent = j.batch.flatMap(b => byName.get(s"${j.scope} batch $b"))
          .orElse(byName.get(j.scope)).getOrElse(root)
        span(s"job ${j.id}", parent, j.startMs, j.endMs)
      }
      spans.values.toList
    }
    val out = new PrintWriter(file.toFile, "UTF-8")
    try all.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally out.close()
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop(ScopeKey).getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong), e.time, e.time, Work(jobs = 1))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); job <- jobs.get(jobId)) {
      val m = info.taskMetrics
      job.work = job.work + (if (m == null) Work(stages = 1, tasks = info.numTasks)
      else Work(stages = 1, tasks = info.numTasks, taskMs = m.executorRunTime,
        gcMs = m.jvmGCTime, shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        recordsWritten = m.outputMetrics.recordsWritten,
        bytesWritten = m.outputMetrics.bytesWritten))
    }
  }
}

object Tracer {
  val ScopeKey = "perfbench.scope"

  private final case class JobRec(id: Int, scope: String, batch: Option[Long],
      startMs: Long, var endMs: Long, var work: Work)
}
