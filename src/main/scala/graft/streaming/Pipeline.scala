package graft.streaming

import graft.ops.Etl
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, TimeMode}
import org.apache.spark.sql.Row

/** Structured-Streaming re-expression of the reference's Kinesis→Firehose
  * hop (SURVEY §2.10 / §7.4): a streaming source stands in for the Kinesis
  * shard iterator, `foreachBatch` + [[FirehoseSink]] stands in for
  * PutRecordBatch delivery. In production the source would be the Kinesis
  * connector and `put` an AWS SDK call; nothing else changes — that is the
  * point of keeping routing/batching/retry in engine-agnostic functions.
  *
  * Scale design: every transform here is per-partition (route is a map,
  * batching runs inside mapPartitions); the only stateful operators are
  * watermark-bounded, so state-store size is O(active windows/sessions),
  * not O(stream length).
  */
object Pipeline {

  /** Typed event row for the stateful APIs. `tsUs` is epoch microseconds
    * (the D4 bridge value).
    */
  final case class Event(
      event_id: Long, tsUs: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class Session(
      user_id: Long, startUs: Long, endUs: Long, n_events: Long, sum_value: Double)

  /** A content-addressed document on the ingest stream: `h` is the
    * canonical-form hash (the batch side computes it with `Llm.normCol`
    * + md5; any engine-stable content key works).
    */
  final case class HashedDoc(doc_id: Long, h: String)

  /** File-source replay of `events.parquet` as the stream (no Kinesis
    * connector offline; each arriving file = one micro-batch). The file
    * source needs a directory, and the fixture is a single parquet file,
    * so copy it into a temp dir. The session gets the engine confs first
    * ([[graft.EngineSession.tune]]), as a batch read through `Tables` would.
    */
  def fileReplay(spark: SparkSession, sfDir: String): DataFrame = {
    graft.EngineSession.tune(spark)
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    val dir = java.nio.file.Files.createTempDirectory("events-replay")
    java.nio.file.Files.copy(src, dir.resolve("events.parquet"))
    val schema = spark.read.parquet(src.toString).schema
    // Same schema-adaptive ts bridge as the batch loader (Tables.tsUsExpr)
    // so stream and batch twins agree under every fixture vintage.
    spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts_us", graft.Tables.tsUsExpr(schema("ts").dataType))
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
  }

  /** §0.1 step 4 — config-driven routing, identical to the batch query
    * `q_etl_route` under the default table; pass a different `rules` /
    * `fallback` to re-route without recompiling (the routing table is a
    * map literal looked up per row, see [[Etl.withRoute]]).
    */
  def route(df: DataFrame,
      rules: Seq[(String, String)] = Etl.DefaultRoutes,
      fallback: String = Etl.DefaultStream): DataFrame =
    Etl.withRoute(df, rules, fallback)

  /** The Lambda/Kinesis event envelope schema (SURVEY §0.1 step 1): a
    * `Records` array whose `kinesis.data` field is base64 payload.
    */
  val envelopeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "Records ARRAY<STRUCT<eventID: STRING, " +
        "kinesis: STRUCT<partitionKey: STRING, sequenceNumber: STRING, data: STRING>>>")

  /** §0.1 steps 1–3 — ingest a column of Lambda Kinesis envelope JSON:
    * parse the envelope, explode its Records, base64-decode each record's
    * `kinesis.data` into the payload string. Columnar end to end
    * (from_json → explode → unbase64), no UDFs.
    *
    * The explode is `posexplode_outer` keeping the rows with a position,
    * which gives exactly `explode`'s rows: an empty, null or unparsable
    * envelope has no position (no row), a `null` element has one (a row
    * of nulls). For plain `explode` the optimizer infers a
    * `size(…) > 0 AND isnotnull(…)` filter on the parsed envelope and
    * pushes it below the generator, where it parses the envelope twice
    * more; the outer generator gets no inferred filter.
    */
  def ingestEnvelopes(envelopes: DataFrame, jsonCol: String): DataFrame =
    envelopes
      .select(posexplode_outer(from_json(col(jsonCol), envelopeSchema).getField("Records"))
        .as(Seq("pos", "r")))
      .where(col("pos").isNotNull)
      .select(
        col("r.eventID").as("record_id"),
        col("r.kinesis.partitionKey").as("partition_key"),
        col("r.kinesis.sequenceNumber").as("sequence_number"),
        unbase64(col("r.kinesis.data")).cast("string").as("payload"))

  /** Watermarked 1-hour tumbling counts per route; late rows beyond 10
    * minutes are dropped by the watermark.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    route(events)
      .withWatermark("ts_ts", "10 minutes")
      .groupBy(window(col("ts_ts"), "1 hour"), col("route"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** At-least-once → effectively-once: drop duplicate event_ids within the
    * watermark horizon (state is bounded by the watermark, SURVEY §2.10).
    */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Event-time inactivity that closes a session: 30 minutes. */
  private[streaming] val SessionGapUs = 30L * 60 * 1000 * 1000

  /** The session gap fold both state APIs run ([[sessionize]],
    * [[SessionProcessor]]): one user's `events`, in (tsUs, event_id)
    * order, extend the `open` session while each arrives within `gapUs`
    * of its end, and otherwise close it and open a new one. Returns the
    * closed sessions and the one left open.
    */
  private[streaming] def foldSessions(user: Long, open: Option[Session],
      events: Iterator[Event], gapUs: Long): (Vector[Session], Option[Session]) = {
    var cur = open
    val closed = Vector.newBuilder[Session]
    events.toVector.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
      cur match {
        case Some(s) if e.tsUs - s.endUs < gapUs =>
          cur = Some(s.copy(endUs = e.tsUs, n_events = s.n_events + 1,
            sum_value = s.sum_value + e.value))
        case other =>
          other.foreach(closed += _)
          cur = Some(Session(user, e.tsUs, e.tsUs, 1L, e.value))
      }
    }
    (closed.result(), cur)
  }

  /** Custom stateful sessionization via flatMapGroupsWithState: per-user
    * sessions closed after 30 minutes of event-time inactivity. Emits a
    * session when the gap rule closes it (plus on state timeout).
    */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts_ts", expr("timestamp_micros(tsUs)"))
      .withWatermark("ts_ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.toSeq
            state.remove()
            out.iterator
          } else {
            val (closed, open) = foldSessions(userId, state.getOption, it, SessionGapUs)
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endUs / 1000 + SessionGapUs / 1000)
            }
            closed.iterator
          }
      }
  }

  /** Watermarked stream-stream interval join: each purchase attributed to
    * clicks of the same user within the preceding hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so the
    * state store retains only the attribution window per side — the
    * stream-stream join shape that stays bounded on an unbounded stream.
    */
  def attribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "30 minutes")
    purchases.join(clicks, expr(
      "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
  }

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast — the static side is planned per micro-batch, so
    * small dims never shuffle the stream). Production shape for enriching
    * a Kinesis stream with reference data.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Sessionization on the Spark 4 transformWithState API (RocksDB-backed
    * typed state + event-time timers); see [[SessionProcessor]].
    */
  def sessionizeTws(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts_ts", expr("timestamp_micros(tsUs)"))
      .withWatermark("ts_ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionProcessor(SessionGapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Persistent (corpus-lifetime) content dedup — the streaming twin of
    * batch `q_dedup_incremental`: only the FIRST document ever seen with
    * a given content hash passes; every later arrival, in the same
    * micro-batch (min doc_id wins, the batch operator's election rule)
    * or months later, is dropped. Unlike
    * `dropDuplicatesWithinWatermark`, the seen-set is deliberately NOT
    * watermark-bounded — ingestion dedup must remember the whole corpus
    * — so it lives as one tiny ValueState per distinct hash in the
    * (RocksDB-backed at scale) state store, partitioned by hash across
    * executors like any keyed state. State size is the distinct-form
    * count, not the stream length; TimeMode.None — no timers, nothing
    * expires.
    */
  def dedupPersistent(docs: Dataset[HashedDoc]): Dataset[HashedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.h)
      .transformWithState(new DedupProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Streaming heavy hitters, sketch pass — the streaming twin of
    * `q_text_heavy_hitters`' first stage. A streaming GLOBAL aggregation
    * of the mergeable MisraGries sketch (Agarwal et al., PODS 2012):
    * per micro-batch Spark folds new terms into partial sketches and
    * merges them into the ≤ k−1-counter state buffer, so state is O(k)
    * however long the stream runs, and the emitted candidate array (run
    * in Complete mode) is a SUPERSET of every term with true frequency
    * > n/k over everything ingested so far — the sketch's merge bound
    * survives any batch/merge order. Exact per-term counts are
    * unavailable mid-stream by design (that would be O(vocab) state);
    * the verify pass below closes the gap.
    */
  def heavyHitterSketch(terms: DataFrame, k: Int): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.udf.MisraGries(k), org.apache.spark.sql.Encoders.STRING)
    terms.groupBy().agg(mg(col("term")).as("cand"))
  }

  /** Streaming heavy hitters, verify pass: exact counts for the ≤ k−1
    * candidates from a sketch-pass replay, plus the global total carried
    * by the null key (a real term is never null) — one streaming
    * aggregation with ≤ k keys of state. After the stream drains,
    * candidates with cnt > total/k are EXACTLY the batch twin's answer:
    * replay agreement is equality, not approximation (StreamingSpec).
    * The two-pass shape is the batch operator's own
    * sketch-then-recount discipline lifted onto Structured Streaming —
    * a production deployment runs pass 2 as a second subscription on
    * the same log (e.g. a Kinesis replay from a checkpointed offset).
    */
  def heavyHitterVerify(terms: DataFrame, cands: Seq[String]): DataFrame =
    terms
      .groupBy(when(col("term").isin(cands: _*), col("term")).as("term"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming Count–Min sketch — the streaming member of the mergeable-
    * sketch family beside the Misra–Gries pass above: the SAME cell-update
    * spelling as the batch `q_agg_countmin` build
    * (`Aggregates.cmUpdates` — one hash contract, so batch and stream
    * cannot drift) folded by a streaming aggregation whose state is
    * bounded at D·W = 4096 integer cells however long the stream runs.
    * Because cells are sum-mergeable, the drained sketch equals the batch
    * sketch over the same keys REGARDLESS of micro-batch segmentation —
    * StreamingSpec proves replay equality exactly, the same contract the
    * heavy-hitter and session twins carry. Point estimates are served by
    * the batch op's probe spelling against this state table.
    */
  def countMinSketch(keys: DataFrame): DataFrame =
    graft.ops.Aggregates.cmUpdates(keys)
      .groupBy("r", "cell")
      .agg(count(lit(1)).as("c"))

  /** Streaming daily-distinct bitmaps — the streaming half of
    * `q_agg_rolling_distinct`'s rollup: the SAME (day, bucket) grouping
    * and `bitmap_construct_agg` spelling folded as a streaming
    * aggregation, so per-user presence bits accumulate across
    * micro-batches into state bounded at days × buckets bitmap rows
    * (calendar-sized — never grows with event volume, the property that
    * lets the state store survive an unbounded stream). Bitmaps are
    * OR-mergeable, so the drained state equals the batch daily rollup
    * REGARDLESS of micro-batch segmentation — StreamingSpec proves
    * replay equality bit-for-bit and distinct-count-exact; the batch
    * op's window merge then serves any trailing window off this state
    * without touching raw events again.
    */
  def dailyDistinctBitmaps(events: DataFrame): DataFrame =
    events
      .select(expr("ts_us DIV 86400000000").as("day"), col("user_id"))
      .groupBy(col("day"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))

  /** Streaming OHLC bars — the streaming half of `q_agg_ohlc`'s
    * resample: the SAME shared aggregation spelling
    * (`Aggregates.ohlcFrom` — struct-extremum open/close, min/max
    * high/low, count volume) folded as a streaming aggregation. Every
    * aggregate inside is MERGEABLE (extrema and counts commute with any
    * micro-batch segmentation), so the drained state equals the batch
    * resample exactly however the stream is chopped — StreamingSpec
    * proves replay equality cell-for-cell — and state is bounded at
    * bars × types rows regardless of event volume (the calendar-sized
    * state property, same class as [[dailyDistinctBitmaps]]).
    */
  def ohlcBars(events: DataFrame): DataFrame =
    graft.ops.Aggregates.ohlcFrom(events)

  /** Full reference pipeline as a streaming writer: route → per-partition
    * batch → deliver-with-retry → delivered/DLQ parquet dirs per route
    * (§0.1 steps 4–6). `failEvery` = k > 0 injects deterministic partial
    * PutRecordBatch failures (see [[FirehoseSink]]): records with
    * event_id % (10k) == 0 fail every attempt and go to the DLQ; the other
    * event_id % k == 0 records fail only their first attempt and are
    * delivered on retry.
    */
  def firehose(events: DataFrame, outDir: String, failEvery: Long = 0L): DataStreamWriter[Row] =
    route(events).writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        FirehoseSink.process(batch, batchId, outDir, failEvery)
      }

  def runToCompletion(w: DataStreamWriter[Row], checkpoint: String): StreamingQuery = {
    val q = w.option("checkpointLocation", checkpoint).start()
    q.processAllAvailable()
    q.stop()
    q
  }
}
