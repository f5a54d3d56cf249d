package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener half of a traced run. Collects, through Spark's public
  * listener hooks only, what one pass's jobs, stages and tasks did, and
  * how long Catalyst spent planning each executed query. Jobs are named
  * by the job description the benchmark sets before it calls into the
  * engine (`<key> / build`, `<key> / count`, `<workload> / <batchId>`),
  * so task time can be attributed to the operation that caused it.
  *
  * Events arrive on Spark's listener-bus thread; every access goes
  * through `this` so a snapshot taken on the driver thread is consistent.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = ArrayBuffer.empty[Job]
  private val openJobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stageDesc = scala.collection.mutable.Map.empty[Int, String]
  private val stages = scala.collection.mutable.Map.empty[Int, StageAgg]
  private val planning = ArrayBuffer.empty[Double]
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = Job(desc, e.time, -1L)
    jobs += j
    openJobs(e.jobId) = j
    e.stageIds.foreach(s => stageDesc.getOrElseUpdate(s, desc))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val agg = stages.getOrElseUpdate(e.stageId,
      StageAgg(stageDesc.getOrElse(e.stageId, "")))
    agg.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      touch()
      planning += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    touch()

  /** Waits until the listener bus has delivered the events of the work
    * just finished: no job open and no event for `quietMs`.
    */
  def quiesce(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def quiet = synchronized(openJobs.isEmpty) &&
      System.nanoTime() - lastEventNs > quietMs * 1000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Everything recorded since the last call, then forgets it. */
  def take(): Snapshot = synchronized {
    val s = Snapshot(jobs.toVector, stages.values.toVector, planning.toVector)
    jobs.clear(); openJobs.clear(); stages.clear(); planning.clear()
    s
  }
}

object Trace {
  final case class Job(desc: String, start: Long, var end: Long)

  final case class StageAgg(desc: String) {
    val durations = ArrayBuffer.empty[Long]
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final case class Snapshot(jobs: Vector[Job], stages: Vector[StageAgg], planningMs: Vector[Double]) {

    /** Scheduler-layer figures for a pass that ran from `startMs` to
      * `endMs` (wall clock) on `cores` cores; `named` says whether a job
      * description names an operation of the workload.
      */
    def scheduler(startMs: Long, endMs: Long, cores: Int,
        named: String => Boolean): Map[String, Double] = {
      val wallMs = (endMs - startMs).toDouble
      val taskMs = stages.map(_.durations.sum).sum.toDouble
      val namedMs = stages.filter(s => named(s.desc)).map(_.durations.sum).sum.toDouble
      val multi = stages.filter(_.durations.size > 1)
      val straggler = multi.map { s =>
        val d = s.durations.sorted
        (d.last - d(d.size / 2)).toDouble
      }.sum
      Map(
        "scheduler.jobs" -> jobs.size.toDouble,
        "scheduler.stages" -> stages.size.toDouble,
        "scheduler.tasks" -> stages.map(_.durations.size).sum.toDouble,
        "scheduler.task_time_ms" -> taskMs,
        "scheduler.core_util" -> taskMs / (wallMs * cores),
        "scheduler.single_task_stage_share" ->
          (if (stages.isEmpty) 0.0
           else stages.count(_.durations.size == 1).toDouble / stages.size),
        "scheduler.straggler_ms" -> straggler,
        "scheduler.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "scheduler.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "scheduler.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "scheduler.driver_gap_ms" -> (wallMs - busyMs(startMs, endMs)),
        "scheduler.attributed_share" -> (if (taskMs == 0) 0.0 else namedMs / taskMs),
        "catalyst.planning_ms" -> planningMs.sum)
    }

    /** Wall time inside [from, to] during which at least one job ran. */
    private def busyMs(from: Long, to: Long): Double = {
      val spans = jobs.filter(_.end >= 0)
        .map(j => (math.max(j.start, from), math.min(j.end, to)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      spans.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      (busy + curB - curA).toDouble
    }
  }
}
