package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** foreachBatch delivery stage — the PutRecordBatch emulation (SURVEY §0.1
  * steps 5–6, §7.3.8). Each micro-batch is routed, then batched and
  * "delivered" per executor partition via [[Batcher.deliver]]; the outcome
  * (delivered vs dead-lettered after retries) is written to
  * `outDir/batch_id=N` parquet partitioned by status/route — the per-route
  * delivery streams. No driver-side collect: batching state lives inside
  * mapPartitions, so this scales with partition count, not stream size.
  *
  * Failure injection (deterministic, for tests): with failEvery = k > 0,
  * records with event_id % (10k) == 0 fail every attempt (→ DLQ), and the
  * remaining event_id % k == 0 fail only their first attempt (→ delivered
  * on retry) — exercising both halves of the reference's retry semantics.
  */
object FirehoseSink {
  val MaxAttempts = 3

  /** Records drained per Batcher.deliver call. Bounds per-partition heap:
    * the partition is never materialized — same-route records are made
    * adjacent by an in-partition sort (no shuffle) and drained lazily in
    * runs of at most this many, so resident memory is O(chunk), not
    * O(partition). 5 full Firehose batches per chunk keeps the per-call
    * amortization while staying a few MB at the 1000 KiB record cap.
    * Caveat: the test-only `failedOnce` transient-failure ledger below
    * lives for the whole partition (one Long per transient-failing id),
    * so with failEvery > 0 resident memory is O(partition transient
    * failures) on top of the chunk — benign in production, where
    * failEvery <= 0 keeps the ledger empty.
    */
  val DeliverChunkRecords: Int = 5 * Batcher.MaxRecordsPerBatch

  def process(batch: DataFrame, batchId: Long, outDir: String, failEvery: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val tagged = batch
      .select(col("event_id").cast("long"), col("route"), col("props"))
      .sortWithinPartitions("route")
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val buffered = it.buffered
        val failedOnce = scala.collection.mutable.Set.empty[Long]
        Iterator.continually(()).takeWhile(_ => buffered.hasNext).flatMap { _ =>
          // One chunk = the next run of ≤ DeliverChunkRecords same-route
          // records. Chunking a route's run into several deliver() calls
          // is outcome-equivalent to one call: batches are planned in
          // input order and retries re-plan only that call's failures.
          val route = buffered.head._2
          val chunk = Vector.newBuilder[(Long, String, String)]
          var n = 0
          while (buffered.hasNext && buffered.head._2 == route && n < DeliverChunkRecords) {
            chunk += buffered.next(); n += 1
          }
          val out = Batcher.deliver(chunk.result(), MaxAttempts)(r =>
            if (r._3 == null) 0L else r._3.getBytes("UTF-8").length.toLong) { b =>
            b.map { case (id, _, _) =>
              if (failEvery <= 0) true
              else if (id % (failEvery * 10) == 0) false // permanent failure
              else if (id % failEvery == 0 && failedOnce.add(id)) false // transient
              else true
            }
          }
          out.delivered.iterator.map(r => (r._1, route, "delivered")) ++
            out.dead.iterator.map(r => (r._1, route, "dead"))
        }
      }
      .toDF("event_id", "route", "status")
    // Idempotent delivery under foreachBatch retries: each micro-batch is
    // written to its own `batch_id=N` directory by a plain overwrite of that
    // path, so re-processing a failed micro-batch replaces exactly its own
    // output instead of appending duplicates — effectively-once sink
    // semantics on top of Structured Streaming's at-least-once foreachBatch
    // contract (the sink replays an epoch in place). Reading `outDir` back
    // discovers `batch_id` as a partition column. The batch id stays out of
    // the plan: a literal column would be inlined into this stage's
    // generated code, and every micro-batch would compile a new copy of the
    // sink's largest class.
    tagged.write.mode("overwrite")
      .partitionBy("status", "route")
      .parquet(s"$outDir/batch_id=$batchId")
  }
}
