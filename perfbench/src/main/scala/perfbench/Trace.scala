package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the whole run: epoch milliseconds read off the
  * monotonic nanosecond clock, so intervals never jump with NTP and
  * values still line up with Spark's epoch-ms event timestamps. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A span: one call into a layer, with the span that caused it. Spans of
  * one unit of work (a window, a query, a catch-up) share `trace`. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startMs: Double, endMs: Double)

/** Spans kept in memory and written as JSON lines when the run ends.
  * Disabled tracers record nothing and cost one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]

  /** Times `f`, which gets the new span's id to parent its children. */
  def span[A](name: String, trace: String = "", parent: Long = 0L)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try f(id) finally spans.add(Span(id, parent, trace, name, t0, Clock.nowMs))
    }

  /** A span timed elsewhere, e.g. a micro-batch from its progress. */
  def add(name: String, trace: String, parent: Long, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, trace, name, startMs, endMs))

  /** Each micro-batch of `q` that made progress, as a span. */
  def batches(q: org.apache.spark.sql.streaming.StreamingQuery, trace: String, parent: Long): Unit =
    q.recentProgress.foreach(p =>
      add(s"${q.name}.batch", trace, parent, Streams.startMs(p), Streams.endMs(p)))

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: String): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

final case class JobRec(startMs: Long, endMs: Long)
final case class TaskRec(endMs: Long, runMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
final case class PlanRec(startMs: Long, planMs: Double, writePath: Option[String],
                         durationMs: Double)

/** Spark's public listeners, attached only in a traced run: jobs, stages
  * and tasks from the scheduler, Catalyst phase times and write commands
  * from the query-execution bus, and every streaming progress. */
final class SparkLayers(spark: SparkSession) {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val stages = new ConcurrentLinkedQueue[Long] // completion times
  val plans = new ConcurrentLinkedQueue[PlanRec]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(JobRec(jobStart.getOrDefault(e.jobId, e.time), e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.getOrElse(0L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val start = if (phases.isEmpty) System.currentTimeMillis()
                  else phases.values.map(_.startTimeMs).min
      val path = qe.analyzed.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }
      plans.add(PlanRec(start, planMs, path, durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
  }

  /** The listener buses deliver asynchronously: wait until the counts
    * stop moving before reading them. */
  def drain(): Unit = {
    var last = -1L
    var n = size
    while (n != last) { last = n; Thread.sleep(300); n = size }
  }
  private def size: Long = jobs.size.toLong + tasks.size + plans.size + progress.size

  /** Layer totals over the wall interval [a, b] (epoch ms). */
  def window(a: Double, b: Double, cores: Int): Map[String, Double] = {
    val js = jobs.asScala.filter(j => j.startMs >= a && j.startMs <= b).toSeq
    val ts = tasks.asScala.filter(t => t.endMs >= a && t.endMs <= b).toSeq
    val active = Stats.unionLength(js.map(j => (j.startMs.toDouble max a, j.endMs.toDouble min b)))
    val wall = b - a
    val taskMs = ts.map(_.runMs).sum.toDouble
    val ps = plans.asScala.filter(p => p.startMs >= a && p.startMs <= b)
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> stages.asScala.count(t => t >= a && t <= b).toDouble,
      "tasks" -> ts.size.toDouble,
      "job_active_s" -> active / 1e3,
      "driver_only_s" -> (wall - active).max(0.0) / 1e3,
      "task_s" -> taskMs / 1e3,
      "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "utilization" -> (if (wall > 0) taskMs / (wall * cores) else 0.0),
      "plan_ms" -> ps.map(_.planMs).sum)
  }
}
