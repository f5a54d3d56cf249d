package perfbench

import org.apache.spark.sql.SparkSession

import Main.{PassResult, Settings}

/** `batch_keys`: a fixed list of declared batch keys, issued in sequence
  * by one driver thread. The list holds the hop's batch twins, bound by
  * planning and job count (`q_etl_batch_assign` also takes an eager
  * `localCheckpoint`), plus `q_dedup_ngram_span`, which widens its scan
  * with `Par.byCores`. Each pass runs every key once, in an order drawn
  * from the seed, as build (`SparkEntry.queries(k)(spark, dir)`) plus
  * `.count()`; a key is correct when its count equals the expected count
  * fixed in the benchmark's config.
  */
final class Keys(spark: SparkSession, s: Settings) extends Main.Workload {
  private val keys = s.list("keys")
  private val expected = keys.map(k => k -> s.long(s"expected.$k")).toMap
  private val dir = s("data_dir")
  private val queries = graft.SparkEntry.queries

  def stage(): Unit = ()

  def pass(i: Int): PassResult = {
    val sc = spark.sparkContext
    val order = new scala.util.Random(s.long("seed") * 1000003L + i).shuffle(keys)
    val results = order.map { k =>
      val t0 = System.nanoTime()
      sc.setJobDescription(s"$k / build")
      val res =
        try {
          val df = queries(k)(spark, dir)
          val t1 = System.nanoTime()
          sc.setJobDescription(s"$k / count")
          val n = df.count()
          val t2 = System.nanoTime()
          Right((k, (t1 - t0) / 1e6, (t2 - t1) / 1e6, n))
        } catch { case scala.util.control.NonFatal(e) => Left(s"$k threw ${e.getMessage}") }
      sc.setJobDescription(null)
      // Released outside the timed span, as graft.Bench does: checkpoint
      // blocks stay pinned until their DataFrame is collected.
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      res
    }
    val done = results.collect { case Right(r) => r }
    val wrong = done.collect { case (k, _, _, n) if n != expected(k) => s"$k counted $n, want ${expected(k)}" }
    val problems = results.collect { case Left(msg) => msg } ++ wrong
    val ops = done.map { case (k, b, c, _) => k -> (b + c) }
    val layers = Map(
      "ops.build_ms" -> done.map(_._2).sum,
      "ops.exec_ms" -> done.map(_._3).sum) ++
      done.map { case (k, b, c, _) => s"ops.$k.ms" -> (b + c) }
    val times = done.map { case (k, b, c, _) => f"$k=${b + c}%.0f" }.mkString(" ")
    PassResult(ops.map(_._2).sum / 1000, ops, done.map(_._4).sum, problems.size,
      (problems :+ times).mkString("; "), layers)
  }

  def check(passes: Seq[(Int, PassResult)]): Seq[PassResult] = passes.map(_._2)

  def named(desc: String): Boolean = keys.exists(k => desc.startsWith(s"$k / "))

  def passLayers(r: PassResult, snap: Trace.Snapshot): Map[String, Double] =
    Map("ops.build_jobs" -> snap.jobs.count(_.desc.endsWith(" / build")).toDouble)

  def extras(): (Map[String, Double], Seq[PassResult]) = (Map.empty, Nil)
}
