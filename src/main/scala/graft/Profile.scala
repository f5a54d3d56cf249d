package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev-loop per-query profiler (optimization guide §1: measure first).
  * For each named query: one warm run, then a profiled run with a
  * SparkListener capturing per-job wall time, inter-job driver gaps, and
  * per-stage task counts / summed task time — the decomposition that says
  * whether a key is stage-latency-bound, task-collapse-bound (1-2 tasks on
  * many cores), or genuinely compute-bound. Dev tool only; never part of the
  * bench/verify contract. Usage: runMain graft.Profile <sfDir> <q> [q ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = EngineSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())
    args.tail.foreach { name => profile(spark, sfDir, name) }
    spark.stop()
  }

  private def profile(spark: SparkSession, sfDir: String, name: String): Unit = {
    // warm run (JIT/codegen/page cache), not profiled
    val tw0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val warmSec = (System.nanoTime() - tw0) / 1e9
    EngineSession.release(spark)

    case class Job(id: Int, var start: Long = 0L, var end: Long = 0L,
      var desc: String = "")
    case class Stage(id: Int, var nameStr: String = "", var nTasks: Int = 0,
      var taskMs: Long = 0L, var maxTaskMs: Long = 0L, var start: Long = 0L,
      var end: Long = 0L, var jobId: Int = -1)
    val jobs = collection.mutable.LinkedHashMap.empty[Int, Job]
    val stages = collection.mutable.LinkedHashMap.empty[Int, Stage]
    val stageJob = collection.mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId, e.time)
        jobs.synchronized { jobs(e.jobId) = j }
        e.stageIds.foreach(sid => stageJob.synchronized { stageJob(sid) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.synchronized {
          val st = stages.getOrElseUpdate(si.stageId, Stage(si.stageId))
          st.nameStr = si.name
          st.nTasks = si.numTasks
          st.start = si.submissionTime.getOrElse(0L)
          st.end = si.completionTime.getOrElse(0L)
          st.jobId = stageJob.getOrElse(si.stageId, -1)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
          val ms = e.taskInfo.duration
          st.taskMs += ms
          if (ms > st.maxTaskMs) st.maxTaskMs = ms
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    EngineSession.release(spark)

    val js = jobs.values.toSeq.sortBy(_.start)
    val jobWall = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
    val gaps =
      if (js.isEmpty) 0.0
      else js.sliding(2).collect { case Seq(a, b) => (b.start - a.end).max(0L) }
        .sum / 1e3
    println(f"===== $name%s: $n%d rows, $sec%.2f s (warm-run $warmSec%.2f s) " +
      f"jobs=${js.size}%d jobWall=$jobWall%.2f s interJobGaps=$gaps%.2f s =====")
    stages.values.toSeq.sortBy(_.start).foreach { st =>
      val wall = (st.end - st.start).max(0L) / 1e3
      println(f"  job=${st.jobId}%3d stage=${st.id}%4d tasks=${st.nTasks}%4d " +
        f"wall=$wall%6.2f s taskSum=${st.taskMs / 1e3}%7.2f s " +
        f"maxTask=${st.maxTaskMs / 1e3}%6.2f s  ${st.nameStr.take(80)}%s")
    }
  }
}
