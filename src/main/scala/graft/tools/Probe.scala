package graft.tools

import graft.ops.Caching
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import scala.collection.mutable

/** The measurement harness every probe runs on: one stage listener
  * registered for the probe's session, an exact listener-bus drain, one
  * best-of-N timer over dropped state, and session conf scoped to a body.
  * Construct it once per session and [[close]] it before the session
  * stops.
  */
private[graft] final class Probe(val spark: SparkSession) {
  import Probe.Stage

  private val stageTable = mutable.LinkedHashMap.empty[Int, Stage]

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTable.synchronized {
        stageTable.getOrElseUpdate(e.stageInfo.stageId, Stage(e.stageInfo.name))
          .submitted = System.nanoTime()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTable.synchronized {
        stageTable.get(e.stageInfo.stageId).foreach(_.completed = System.nanoTime())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageTable.synchronized {
        val s = stageTable.getOrElseUpdate(e.stageId, Stage(""))
        val d = e.taskInfo.duration
        s.tasks += 1
        s.taskMillis += d
        s.maxTaskMillis = math.max(s.maxTaskMillis, d)
        Option(e.taskMetrics).foreach { m =>
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.input += m.inputMetrics.bytesRead
        }
      }
  }
  spark.sparkContext.addSparkListener(listener)

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Every stage seen since the last [[measure]] sample began, by id, in
    * submission order.
    */
  def stages: Seq[(Int, Stage)] = stageTable.synchronized(stageTable.toSeq)

  /** Seconds `body` takes. */
  def wall(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `run` once as a warm-up (codegen, JIT), then `samples` timed runs,
    * each on dropped state ([[Caching.releaseAll]]: the run must rebuild
    * its own pins, and an earlier run's leftovers must not squeeze it
    * into eviction-and-recompute stragglers) and a drained, reset
    * listener. Keeps the fastest sample as (wall s, max single task s):
    * the host injects sporadic multi-second stalls uncorrelated with the
    * query, and the faster run's pair reflects the plan, not the stall.
    */
  def measure(samples: Int = 2)(run: => Unit): (Double, Double) = {
    run
    (1 to samples).map { _ =>
      Caching.releaseAll(spark)
      GraftSqlBridge.drainListeners(spark.sparkContext)
      stageTable.synchronized(stageTable.clear())
      val w = wall(run)
      GraftSqlBridge.drainListeners(spark.sparkContext)
      (w, stages.map(_._2.maxTaskMillis).maxOption.getOrElse(0L) / 1e3)
    }.minBy(_._1)
  }

  /** `body` with each `key -> value` set on the session; afterwards every
    * key gets its prior value back, or is unset again if it was unset,
    * also when `body` throws.
    */
  def withConf[A](settings: (String, String)*)(body: => A): A = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.reverse.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

private[graft] object Probe {
  /** One stage's counters: wall span (ns timestamps), task count, summed
    * and max task time (ms), and shuffle-read, shuffle-write and input
    * bytes.
    */
  final case class Stage(name: String, var submitted: Long = 0L, var completed: Long = 0L,
                         var tasks: Int = 0, var taskMillis: Long = 0L,
                         var maxTaskMillis: Long = 0L, var shuffleRead: Long = 0L,
                         var shuffleWrite: Long = 0L, var input: Long = 0L)
}
