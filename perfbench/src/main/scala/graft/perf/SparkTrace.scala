package graft.perf

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work counters of a set of Spark jobs (one module's, or all). */
final case class SparkWork(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    runMs: Long = 0, cpuNs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, gcMs: Long = 0,
    recordsWritten: Long = 0)

/** A SQL execution: its interval (epoch ms), long call site, physical
  * plan text and the root execution it nests in (itself for a root; a
  * write inside a streaming micro-batch nests in the micro-batch's
  * execution).
  */
final case class SqlExec(id: Long, root: Long, startMs: Long, endMs: Long,
    callSite: String, plan: String)

/** One streaming trigger's progress durations (ms) by phase. */
final case class Trigger(durations: Map[String, Long])

/** Spark's public listener events, collected for the traced run:
  * jobs, stages and task metrics (SparkListener), SQL executions
  * (their start/end events on the same bus), planning phases
  * (QueryExecutionListener) and streaming triggers
  * (StreamingQueryListener). Attach with [[attach]], read after
  * [[drain]].
  */
final class SparkTrace(spark: SparkSession) {
  private final case class Job(id: Int, var endMs: Long,
      sqlExec: Option[Long], group: String)

  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val perJob = mutable.Map.empty[Int, SparkWork]
  private val sqlStarts = mutable.Map.empty[Long, SqlExec]
  private val sqlDone = mutable.ArrayBuffer.empty[SqlExec]
  private var planningMs = 0L
  private val triggers = mutable.ArrayBuffer.empty[Trigger]
  private var streamsStarted = 0
  private var streamsEnded = 0
  private var drains = 0

  private def markerGroup(n: Int) = s"graft-perf-drain-$n"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val group = props.flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, -1L, exec, group)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      perJob(e.jobId) = SparkWork(jobs = 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      lock.notifyAll()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        stageJob.get(e.stageInfo.stageId).foreach { j =>
          val w = perJob(j)
          perJob(j) = w.copy(stages = w.stages + 1)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).foreach { j =>
        val w = perJob(j)
        perJob(j) = if (m == null) w.copy(tasks = w.tasks + 1) else w.copy(
          tasks = w.tasks + 1,
          runMs = w.runMs + m.executorRunTime,
          cpuNs = w.cpuNs + m.executorCpuTime,
          shuffleRead = w.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = w.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          gcMs = w.gcMs + m.jvmGCTime,
          recordsWritten = w.recordsWritten + m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlStarts(s.executionId) = SqlExec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time, -1L,
          s.details, s.physicalPlanDescription)
      }
      case end: SparkListenerSQLExecutionEnd => lock.synchronized {
        sqlStarts.remove(end.executionId)
          .foreach(e => sqlDone += e.copy(endMs = end.time))
        lock.notifyAll()
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = lock.synchronized {
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { streamsStarted += 1 }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        val d = mutable.Map.empty[String, Long]
        p.durationMs.forEach((k, v) => d(k) = v.longValue)
        if (p.numInputRows > 0)
          triggers += Trigger(d.toMap)
      }
    override def onQueryIdle(
        e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { streamsEnded += 1; lock.notifyAll() }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Deterministic listener-bus drain: run one marker job in its own
    * group and wait until its end event has arrived (the bus delivers
    * in order, so every earlier event has too), then until every
    * started job, SQL execution and streaming query has its end event.
    * Fails loudly after [[SparkTrace.DrainTimeoutMs]].
    */
  def drain(): Unit = {
    val timeoutMs = SparkTrace.DrainTimeoutMs
    val group = lock.synchronized { drains += 1; markerGroup(drains) }
    val sc = spark.sparkContext
    sc.setJobGroup(group, "listener drain marker", false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      def settled = jobs.values.exists(j => j.group == group && j.endMs >= 0) &&
        jobs.values.forall(_.endMs >= 0) && sqlStarts.isEmpty &&
        streamsEnded == streamsStarted
      while (!settled) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(
            s"listener bus did not drain in $timeoutMs ms: " +
              s"${jobs.values.count(_.endMs < 0)} jobs, " +
              s"${sqlStarts.size} SQL executions, " +
              s"${streamsStarted - streamsEnded} streaming queries open")
        lock.wait(math.min(left, 100L))
      }
    }
  }

  private def userJobs: Seq[Job] =
    jobs.values.filterNot(_.group.startsWith("graft-perf-drain-")).toSeq

  /** Total work of the jobs accepted by `keep` (all by default). */
  def work(keep: Int => Boolean = _ => true): SparkWork = lock.synchronized {
    userJobs.filter(j => keep(j.id)).map(j => perJob(j.id))
      .foldLeft(SparkWork()) { (a, b) =>
        SparkWork(a.jobs + b.jobs, a.stages + b.stages, a.tasks + b.tasks,
          a.runMs + b.runMs, a.cpuNs + b.cpuNs,
          a.shuffleRead + b.shuffleRead, a.shuffleWrite + b.shuffleWrite,
          a.spill + b.spill, a.gcMs + b.gcMs,
          a.recordsWritten + b.recordsWritten)
      }
  }

  /** Job ids grouped by the (innermost) SQL execution that ran them. */
  def jobsOfExec: Map[Long, Seq[Int]] = lock.synchronized {
    userJobs.flatMap(j => j.sqlExec.map(_ -> j.id))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def sqlExecutions: Seq[SqlExec] = lock.synchronized(sqlDone.toSeq)
  def planningSeconds: Double = lock.synchronized(planningMs / 1000.0)
  def triggerProgress: Seq[Trigger] = lock.synchronized(triggers.toSeq)
}

object SparkTrace {
  val DrainTimeoutMs = 60000L
}
