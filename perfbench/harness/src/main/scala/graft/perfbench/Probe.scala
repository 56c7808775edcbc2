package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters of one track (a client thread: the query client,
  * the medallion writer or its reader). Plain mutable fields: the probe
  * mutates them under its own lock and readers take copies.
  */
final class Tally {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, queueMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L

  private def fields: Array[Long] = Array(jobs, stages, tasks, taskFailures,
    runMs, cpuNs, gcMs, queueMs, shuffleWrite, shuffleRead, spill, input)
  private def set(a: Array[Long]): Tally = {
    jobs = a(0); stages = a(1); tasks = a(2); taskFailures = a(3)
    runMs = a(4); cpuNs = a(5); gcMs = a(6); queueMs = a(7)
    shuffleWrite = a(8); shuffleRead = a(9); spill = a(10); input = a(11)
    this
  }
  def copy: Tally = new Tally().set(fields)
  def plus(o: Tally): Tally = new Tally().set(fields.zip(o.fields).map { case (a, b) => a + b })
  def minus(o: Tally): Tally = new Tally().set(fields.zip(o.fields).map { case (a, b) => a - b })
}

/** The benchmark's own SparkListener + QueryExecutionListener. Jobs are
  * attributed to the track named by the job-group local property
  * [[Probe.TrackKey]], which the streaming and foreachBatch threads
  * inherit from the client thread that started them. Jobs of the
  * benchmark's own bookkeeping run under [[Probe.HarnessTrack]] and are
  * left out of the totals.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val tallies = mutable.Map[String, Tally]()
  private val stageTrack = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val running = mutable.Map[Int, (String, Long)]()
  private val intervals = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
  private var planningMs = 0L

  private def tally(track: String) = tallies.getOrElseUpdate(track, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val track = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.TrackKey)))
      .getOrElse("other")
    e.stageIds.foreach(stageTrack(_) = track)
    running(e.jobId) = (track, e.time)
    tally(track).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach { case (track, t0) =>
      intervals.getOrElseUpdate(track, mutable.ArrayBuffer()) += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    s.submissionTime.foreach(t => stageSubmit((s.stageId, s.attemptNumber())) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tally(stageTrack.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTrack.getOrElse(e.stageId, "other"))
    t.tasks += 1
    if (e.reason != Success) t.taskFailures += 1
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => t.queueMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlanning(qe)
  private def addPlanning(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized { planningMs += ms }
  }

  def snapshot(track: String): Tally = synchronized { tally(track).copy }
  def total: Tally = synchronized {
    tallies.filter(_._1 != Probe.HarnessTrack).values.foldLeft(new Tally)(_ plus _)
  }
  def planningSeconds: Double = synchronized { planningMs / 1e3 }

  /** Milliseconds of `[t0, t1]` during which at least one job of `track`
    * was running (the union of its job intervals, clipped to the window).
    */
  def inJobMs(track: String, t0: Long, t1: Long): Long = synchronized {
    val clipped = intervals.getOrElse(track, Nil).iterator
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  def reset(): Unit = synchronized {
    tallies.clear(); intervals.clear(); planningMs = 0L
  }
}

object Probe {
  val TrackKey = "graft.perfbench.track"
  val HarnessTrack = "harness"
}
