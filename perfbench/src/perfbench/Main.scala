package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the repo benchmark; `perfbench/run.py` builds the classpath,
  * writes the run's settings to a properties file and launches this main
  * with that file's path. One run is: start a session, stage the
  * workload's inputs, warm up for a fixed number of passes, then measure
  * about `seconds` worth of whole passes. The outputs of every pass are
  * checked after the last one; a pass that fails the check is counted and
  * never timed.
  */
object Main {

  /** One pass over the workload's fixed unit of work. `ops` holds the
    * name and latency of each operation in it (a micro-batch or a key);
    * `failed` counts the operations whose output was wrong. `wallS` is the timed
    * work only; `startMs`/`endMs` bound the whole pass, clean-up included,
    * on the wall clock the listener events use.
    */
  final case class PassResult(wallS: Double, ops: Seq[(String, Double)], records: Long,
      failed: Int, detail: String, layers: Map[String, Double] = Map.empty,
      startMs: Long = 0L, endMs: Long = 0L) {
    def ok: Boolean = failed == 0
    def opsMs: Seq[Double] = ops.map(_._2)
  }

  trait Workload {
    def stage(): Unit
    /** Runs pass `i`; only this is timed and traced. */
    def pass(i: Int): PassResult
    /** Checks the outputs of passes (by index) and releases them; runs once,
      * after the last pass, so checking costs one job, not one per pass.
      */
    def check(passes: Seq[(Int, PassResult)]): Seq[PassResult]
    /** Whether a job description names one of the workload's operations. */
    def named(desc: String): Boolean
    /** Per-layer figures of a traced pass beyond the scheduler's. */
    def passLayers(r: PassResult, snap: Trace.Snapshot): Map[String, Double]
    /** Per-layer figures measured once, after the measured window, and
      * the checked passes run to measure them, which count as attempted.
      */
    def extras(): (Map[String, Double], Seq[PassResult])
  }

  final class Settings(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  def session(s: Settings, cores: Int): SparkSession =
    graft.EngineSession.builder(cores.toString)
      .config("spark.sql.shuffle.partitions", s("shuffle_partitions"))
      .config("spark.local.dir", s"${s("run_dir")}/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()

  /** Prints a progress line stamped with the seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    println(f"[perfbench $up%7.2f] $msg")
    Console.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val s = new Settings(props)
    val name = s("workload")
    val traced = s("trace") == "1"
    val cores = s.int("cores")
    val spark = session(s, cores)
    log(f"$name session ready: ${(System.currentTimeMillis() - s.long("launch_ms")) / 1000.0}%.3f s")
    val wl: Workload = name match {
      case "hop_bulk" => new Hop(spark, s)
      case "batch_keys" => new Keys(spark, s)
      case other => sys.error(s"unknown workload $other")
    }
    val t = new Trace
    def run(i: Int, phase: String, before: () => Unit = () => (), after: () => Unit = () => ()): PassResult = {
      val cpu0 = cpuNs()
      val gc0 = gcMs()
      val jit0 = jitMs()
      val steal0 = hostTicks()
      val r =
        try {
          before()
          try {
            val startMs = System.currentTimeMillis()
            wl.pass(i).copy(startMs = startMs, endMs = System.currentTimeMillis())
          } finally after()
        } catch { case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          PassResult(0.0, Nil, 0L, 1, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val rate = if (r.wallS > 0) f", ${r.records / r.wallS}%.0f rec/s" else ""
      val cpuS = (cpuNs() - cpu0) / 1e9
      val host = hostTicks().zip(steal0).map { case (a, b) => a - b }
      val steal = if (host.size < 8 || host.sum == 0) 0.0 else host(7).toDouble / host.sum
      log(f"$name $phase $i: ${r.wallS}%.3f s, ${r.opsMs.size} ops, ${r.records} rec$rate, " +
        f"cpu $cpuS%.2f s, gc ${gcMs() - gc0} ms, jit ${jitMs() - jit0} ms, " +
        f"steal ${steal * 100}%.0f%% ${r.detail}")
      r
    }

    wl.stage()
    val warmup = s.int("warmup")
    val warm = (0 until warmup).map(i => i -> run(i, "warmup"))
    val setupS = (System.currentTimeMillis() - s.long("launch_ms")) / 1000.0
    log(f"$name setup: $setupS%.3f s")

    // A traced run alternates traced and untraced passes, so the tracing
    // overhead is measured in the same process state as the layers.
    val gcBefore = gcMs()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val measured = scala.collection.mutable.ArrayBuffer
      .empty[(PassResult, Option[Trace.Snapshot])]
    var i = warmup
    // The window is a fixed number of passes, `seconds` over the workload's
    // nominal pass time, so every run and both sides of a comparison
    // measure the same passes whatever their speed; at least two, so a
    // traced run has one traced and one untraced pass.
    val passes = math.max(2, math.round(s.int("seconds") / s("nominal_pass_s").toDouble).toInt)
    while (measured.size < passes) {
      var snap = Option.empty[Trace.Snapshot]
      def attach(): Unit = {
        t.quiesce()
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      def detach(): Unit = {
        t.quiesce()
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        snap = Some(t.take())
      }
      val r =
        if (traced && measured.size % 2 == 0) run(i, "traced", attach, detach)
        else run(i, "measure")
      measured += r -> snap
      i += 1
    }
    val gcWindow = (gcMs() - gcBefore).toDouble / measured.size
    val heapPeakMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    val all = warm ++ measured.zipWithIndex.map { case ((r, _), k) => (warmup + k) -> r }
    val checked = wl.check(all)
    all.zip(checked).foreach { case ((i, _), r) =>
      log(s"$name check $i: ${if (r.ok) "ok" else s"FAILED ${r.detail}"}")
    }
    val good = measured.toVector.zip(checked.drop(warmup))
      .collect { case ((_, snap), r) if r.ok => (r, snap) }
    val (extraLayers, extraPasses) = if (traced) wl.extras() else (Map.empty[String, Double], Nil)
    val counted = checked ++ extraPasses
    val attempted = counted.map(r => math.max(r.failed, r.opsMs.size)).sum
    val failed = counted.map(_.failed).sum

    val metrics: Map[String, Double] =
      if (!traced) {
        Map(
          "pass_s" -> fastest(good.map(_._1.wallS)),
          "op_geomean_ms" -> geomean(good.flatMap(_._1.ops).groupBy(_._1).values
            .map(op => fastest(op.map(_._2))).toSeq),
          "setup_s" -> setupS,
          "held_memory_mb" -> heldMemoryMb(spark))
      } else {
        val tracedPasses = good.collect { case (r, Some(sn)) => (r, sn) }
        tracedPasses.flatMap(_._2.stages).filterNot(st => wl.named(st.desc))
          .groupBy(_.desc).foreach { case (d, sts) =>
            log(s"unattributed: ${sts.map(_.durations.sum).sum} ms task time in '${d.replace("\n", " | ")}'")
          }
        val perPass = tracedPasses.map { case (r, sn) =>
          sn.scheduler(r.startMs, r.endMs, cores, wl.named) ++ r.layers ++
            wl.passLayers(r, sn)
        }
        val layerMedians = perPass.flatMap(_.keys).distinct
          .map(k => k -> median(perPass.flatMap(_.get(k)))).toMap
        val tracedS = fastest(tracedPasses.map(_._1.wallS))
        val plainS = fastest(good.filter(_._2.isEmpty).map(_._1.wallS))
        layerMedians ++ Map(
          "jvm.gc_ms" -> gcWindow,
          "jvm.heap_peak_mb" -> heapPeakMb,
          "trace.overhead_s" -> (tracedS - plainS),
          "trace.overhead_share" -> (if (plainS > 0) (tracedS - plainS) / plainS else 0.0),
          "failed_share" -> failed.toDouble / attempted) ++ extraLayers
      }
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => log(f"$name $k = $v%.6f") }
    val json = metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    Files.write(Paths.get(s("result_path")),
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$json}"""
        .getBytes("UTF-8"))
    spark.stop()
  }

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** The host's cumulative CPU ticks by state (user, nice, system, idle,
    * iowait, irq, softirq, steal), for the pass log only: time stolen by
    * other tenants explains a slow pass. Empty where /proc/stat is absent.
    */
  private def hostTicks(): Vector[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong).toVector
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Vector.empty }

  /** Time the JIT compilers have spent, for the pass log: a pass that
    * compiles much is still warming up.
    */
  private def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Driver heap still in use once the measured window is over and a full
    * collection has run: what the session, its caches and the engine's
    * own state hold on to.
    */
  private def heldMemoryMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // Spark's cleaner drops shuffle, broadcast and checkpoint blocks only
    // after a collection has freed their owners, on its own thread; collect
    // until the heap in use stops falling.
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); bean.getHeapMemoryUsage.getUsed }
    var before = Long.MaxValue
    var now = used()
    var rounds = 1
    while (rounds < 10 && now < before - (1L << 20)) {
      Thread.sleep(200)
      before = now
      now = used()
      rounds += 1
    }
    log(f"held memory ${now / 1048576.0}%.1f MiB after $rounds collections")
    now / 1048576.0
  }

  /** The smallest value; 0 for an empty sample. The end-to-end timings
    * report a run's fastest pass (and each operation's fastest time):
    * other tenants of the host slow whole stretches of passes, by up to
    * two thirds at 20% steal, and never speed one up, so the fastest pass
    * is the one that measures the program.
    */
  def fastest(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.min

  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
