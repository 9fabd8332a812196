package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a run, a pass, a step, or a Spark job inside a step. */
final case class Span(name: String, start: Long, end: Long, parent: String, run: String,
    counters: Map[String, Double])

/** Counters of everything Spark reported while one step ran. The step
  * drains the listener bus before it closes, so events land in the step
  * that caused them.
  */
final class StepCounters {
  val c: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  val jobs: mutable.Map[Int, (Long, Long)] = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
}

/** The traced run's listeners: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (actions, planning phases, files
  * written) and a StreamingQueryListener (per-batch phase durations).
  * They are registered only around traced passes.
  */
final class Tracer(spark: SparkSession, runId: String) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  @volatile private var cur = new StepCounters

  private def lock[T](f: StepCounters => T): T = synchronized(f(cur))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock { s => s.jobs(e.jobId) = (e.time, -1L); s.add("jobs", 1) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock(s => s.jobs.get(e.jobId).foreach { case (st, _) => s.jobs(e.jobId) = (st, e.time) })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock { s =>
      s.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("task_busy_ms", m.executorRunTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val planningMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      val files = Tracer.filesWritten(qe.executedPlan)
      lock { s =>
        s.add("actions", 1)
        s.add("planning_ms", planningMs.toDouble)
        s.add("files_written", files.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock(_.add("stream_queries", 1))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      lock { s =>
        s.add("stream_batches", 1)
        Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "triggerExecution").foreach { k =>
          if (d.containsKey(k)) s.add(s"stream_${k}_ms", d.get(k).toDouble)
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Opens a step's counters; `close` drains the bus and records the step. */
  def open(): Unit = { drain(); synchronized { cur = new StepCounters } }

  def close(name: String, start: Long, end: Long, parent: String,
      notes: Map[String, Double]): Unit = {
    drain()
    val done = synchronized { val c = cur; cur = new StepCounters; c }
    done.jobs.foreach { case (id, (st, en)) =>
      spans += Span(s"job.$id", st, if (en < 0) end else en, s"$parent/$name", runId, Map.empty)
    }
    val busyUnion = Tracer.union(done.jobs.values.toSeq.map { case (st, en) =>
      (math.max(st, start), math.min(if (en < 0) end else en, end)) })
    done.c("job_busy_ms") = busyUnion.toDouble
    spans += Span(name, start, end, parent, runId, done.c.toMap ++ notes)
  }

  def span(name: String, start: Long, end: Long, parent: String, c: Map[String, Double]): Unit =
    spans += Span(name, start, end, parent, runId, c)
}

object Tracer {
  /** Total length of a set of [start, end) intervals, overlaps counted once. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Files written by the write commands of an executed plan (their
    * `numFiles` metric), looking inside adaptive plans, query stages and
    * command wrappers.
    */
  def filesWritten(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long = {
      val own = p match {
        case w: DataWritingCommandExec => w.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ => 0L
      }
      val inner: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: org.apache.spark.sql.execution.CommandResultExec => Seq(c.commandPhysicalPlan)
        case _: ExecutedCommandExec => Nil
        case _ => p.children
      }
      own + inner.map(walk).sum
    }
    try walk(plan) catch { case _: Throwable => 0L }
  }
}
