package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Pipeline

/** Each generated class compiles once per JVM. Spark caches a compiled
  * class by (context class loader, source); [[EngineSession]] keeps the
  * loader shared across restarted streams, keeps stage ids out of class
  * names and sizes the cache to the engine's working set, and the sink
  * keeps the batch id out of its generated code. Each case counts Janino compiles (`CodegenMetrics`)
  * around a repeat of work this JVM has already done once.
  */
class CodegenReuseSpec extends SparkSpec {
  import Pipeline.Event

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compiled(body: => Unit): Long = {
    val c0 = compiles
    body
    compiles - c0
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a second AvailableNow firehose drain over the same files compiles no class") {
    val staged = tmp("reuse-staged")
    Tables.events(spark, sf).select("event_id", "event_type", "props")
      .repartition(2, col("event_id")).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    // A fresh checkpoint and sink output per drain: a new query on a new
    // cloned session, as a restart is.
    def drain(): Int = {
      val q = Pipeline.firehose(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(staged),
          tmp("reuse-out"), failEvery = 7L)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp("reuse-ckpt"))
        .start()
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    assert(drain() == 2)
    var batches = 0
    val n = compiled { batches = drain() }
    assert(batches == 2)
    assert(n == 0, s"the second drain compiled $n classes")
  }

  test("a MemoryStream firehose stream compiles no class after its first micro-batch") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val types = Seq("click", "view", "purchase", "signup", "error", "other")
    val mem = MemoryStream[Event]
    val q = Pipeline.firehose(mem.toDF(), tmp("reuse-mem-out"), failEvery = 7L)
      .option("checkpointLocation", tmp("reuse-mem-ckpt"))
      .start()
    def batch(b: Long): Unit = {
      mem.addData((0L until 120L).map { i =>
        val id = b * 1000 + i
        Event(id, id, i % 5, types((i % types.size).toInt), 1.0, s"""{"k": $id}""")
      })
      q.processAllAvailable()
    }
    try {
      batch(0)
      val n = compiled { batch(1); batch(2) }
      assert(n == 0, s"micro-batches 2 and 3 compiled $n classes")
    } finally q.stop()
  }

  test("a key list past Spark's default cache size compiles nothing on its second pass") {
    // The hop's batch twins plus keys with many stages. From a cold cache
    // the first pass compiles 207 classes at sf0.001, more than Spark's
    // default of 100 entries, so at that size the second pass evicts each
    // class before reusing it. Keys whose adaptive plans vary from run to
    // run (q_agg_attribution, q_curate_calibration) are left out.
    val keys = Seq("q_etl_decode_parse", "q_etl_route", "q_etl_batch_assign", "q_etl_dlq",
      "q_etl_envelope", "q_agg_q1", "q_dedup_ngram_span", "q_sim_hybrid_rrf",
      "q_mix_anneal", "q_etl_compact", "q_agg_funnel", "q_mix_doremi")
    def pass(): Unit = keys.foreach { k =>
      SparkEntry.queries(k)(spark, sf).count()
      EngineSession.release(spark)
    }
    pass()
    val n = compiled(pass())
    assert(n == 0, s"the second pass compiled $n classes")
  }
}
