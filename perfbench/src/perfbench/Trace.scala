package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span around one call into graft, on the benchmark's side of the call.
  * Spans of one timed op share `op`; `parent` names the enclosing span.
  */
final case class Span(name: String, op: Int, parent: String, startMs: Long, endMs: Long)

final case class JobRec(id: Int, submitMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
final case class StageRec(id: Int, submitMs: Long, taskMs: Seq[Long])
final case class TaskRec(stageId: Int, launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         resultBytes: Long, recordsIn: Long, bytesIn: Long, bytesOut: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class PlanRec(startMs: Long, planningMs: Long)
final case class ProgressRec(runId: String, durations: Map[String, Long])

/** Everything the traced run records: Spark's own listener, query-execution
  * and streaming-progress events, plus the benchmark's spans. All records
  * stay in memory; [[Harness]] turns them into per-layer metrics and writes
  * the spans out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val plans = ArrayBuffer.empty[PlanRec]
  val progress = ArrayBuffer.empty[ProgressRec]
  private val cached = scala.collection.mutable.Map.empty[String, Long]
  @volatile var peakCachedBytes = 0L

  private val sparkListener = new SparkListener {
    private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.synchronized {
      val i = e.taskInfo
      taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += i.duration
      Option(e.taskMetrics).foreach { m =>
        tasks += TaskRec(e.stageId, i.launchTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.resultSize, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = tasks.synchronized {
      val s = e.stageInfo
      stages += StageRec(s.stageId, s.submissionTime.getOrElse(0L),
        taskMs.remove(s.stageId).map(_.toSeq).getOrElse(Seq.empty))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = cached.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        if (b.storageLevel.isValid) cached(b.blockId.name) = b.memSize + b.diskSize
        else cached.remove(b.blockId.name)
        peakCachedBytes = math.max(peakCachedBytes, cached.values.sum)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) plans.synchronized {
        plans += PlanRec(phases.values.map(_.startTimeMs).min,
          Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        progress += ProgressRec(e.progress.runId.toString,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  @volatile var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Drain the listener bus first, so no event of the op just traced is
    * dropped by the removal.
    */
  def detach(): Unit = if (attached) {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Run `body` inside a span when tracing is attached; plain call otherwise. */
  def span[T](name: String, op: Int, parent: String = "")(body: => T): T =
    if (!attached) body
    else {
      val t0 = System.currentTimeMillis()
      try body
      finally spans.synchronized { spans += Span(name, op, parent, t0, System.currentTimeMillis()) }
    }

  private def within(t: Long, from: Long, to: Long) = t >= from && t <= to

  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobs.synchronized(jobs.filter(j => within(j.submitMs, from, to)).toSeq)
  def tasksIn(from: Long, to: Long): Seq[TaskRec] =
    tasks.synchronized(tasks.filter(t => within(t.launchMs, from, to)).toSeq)
  def stagesIn(from: Long, to: Long): Seq[StageRec] =
    tasks.synchronized(stages.filter(s => within(s.submitMs, from, to)).toSeq)
  def planningMsIn(from: Long, to: Long): Long =
    plans.synchronized(plans.filter(p => within(p.startMs, from, to)).map(_.planningMs).sum)
  def progressOf(runIds: Set[String]): Seq[ProgressRec] =
    progress.synchronized(progress.filter(p => runIds(p.runId)).toSeq)

  /** Milliseconds of [from, to] during which no job was running: the
    * driver-side share of an op (planning, listing, commits, collects).
    */
  def gapMs(from: Long, to: Long): Long = {
    val ivs = jobsIn(from, to).map(j => (j.submitMs, if (j.endMs < 0) to else math.min(j.endMs, to)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (to - from) - covered
  }
}
