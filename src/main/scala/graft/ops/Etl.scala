package graft.ops

import graft.{Artifacts, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.9 (reference-parity ETL, batch-expressible) + §2.10 batch-mode
  * streaming windows.
  *
  * These encode the reference's Kinesis→Firehose pipeline semantics
  * (decode → parse → route → batch → deliver/DLQ) as deterministic batch
  * queries; the live streaming versions (foreachBatch sink, watermarks,
  * stateful sessionization) live in graft.streaming and are exercised by
  * ScalaTest, not the t2 map.
  */
object Etl {

  /** The reference's routing rule as CONFIG, not code: an event-type →
    * delivery-stream table plus a fallback stream. The reference holds
    * this mapping in configuration; a user re-routes by supplying a
    * different table to [[withRoute]] — no recompilation. This instance
    * (click/view → analytics; purchase/signup → transactions; error →
    * errors; else → default) is the oracled default.
    */
  val DefaultRoutes: Seq[(String, String)] = Seq(
    "click" -> "analytics", "view" -> "analytics",
    "purchase" -> "transactions", "signup" -> "transactions",
    "error" -> "errors")

  val DefaultStream = "default"

  /** Apply a routing table: a map lookup on event_type, with the
    * fallback for unmapped (or null) types. The table is a handful of
    * entries at any scale, so the lookup is a stateless projection: one
    * `element_at` on a map literal, the data-driven form of the old
    * hard-coded CASE, with no join and no broadcast job. The map is a
    * referenced literal in the generated code, so a different table
    * reuses the same compiled class. A stream applies it per row, with
    * nothing planned again per micro-batch. The output keeps the column
    * order of the former USING join: event_type, the other columns,
    * then route.
    */
  def withRoute(df: DataFrame,
      rules: Seq[(String, String)] = DefaultRoutes,
      fallback: String = DefaultStream): DataFrame = {
    // a duplicate key in the rules table would make the route depend on
    // which entry the map kept (the old CASE had first-match-wins); fail
    // fast instead of silently routing by table order
    require(rules.map(_._1).distinct.size == rules.size,
      s"routing table has duplicate event_type keys: ${rules.map(_._1).diff(rules.map(_._1).distinct).distinct.mkString(", ")}")
    val others = df.columns.filterNot(_ == "event_type").map(c => col(s"`${c.replace("`", "``")}`"))
    df.select(col("event_type") +: others: _*)
      .withColumn("route",
        coalesce(element_at(typedLit(rules.toMap), col("event_type")), lit(fallback)))
  }

  /** Oracle twin of the DEFAULT routing instance. */
  val routeSql: String =
    """CASE WHEN event_type IN ('click','view') THEN 'analytics'
            WHEN event_type IN ('purchase','signup') THEN 'transactions'
            WHEN event_type = 'error' THEN 'errors'
            ELSE 'default' END"""

  /** Firehose PutRecordBatch limits — single source of truth in
    * [[graft.streaming.Batcher]]: ≤500 records AND ≤4 MiB per call,
    * ≤1000 KiB per record.
    */
  val BatchSize: Int = graft.streaming.Batcher.MaxRecordsPerBatch
  val MaxRecordBytes: Long = graft.streaming.Batcher.MaxRecordBytes

  /** Byte budget for the closed-form sub-batch split: records are cut at
    * fixed (MaxBatchBytes − MaxRecordBytes) cumulative-byte boundaries,
    * so a batch = boundary window + the record straddling its start ≤
    * MaxBatchBytes exactly (every record ≤ MaxRecordBytes by the
    * oversize filter). Fixed boundaries are what makes batch membership
    * a pure function of the running sum — window-expressible in BOTH
    * engines — where the greedy packer ([[graft.streaming.Batcher]]) is
    * an inherently sequential fold. The tradeoff is documented: the
    * closed form may emit slightly more batches than greedy (it never
    * violates the caps).
    */
  val SubBatchBytes: Long =
    graft.streaming.Batcher.MaxBatchBytes - graft.streaming.Batcher.MaxRecordBytes

  /** Hour-of-event-time shard for two-phase global ordering. Hour buckets
    * of ts_us align with the (ts_us, event_id) sort order (ts_us is the
    * leading key), so within-shard rank + count-of-earlier-shards equals
    * the global per-route rank EXACTLY — byte-identical output to one
    * window per route, computed ~720-ways parallel on the 30-day fixture
    * (and unboundedly parallel as the stream grows) instead of one task
    * per route. At 100 TB a per-route window is 4 tasks each sorting 25%
    * of the corpus; this is the difference between the operator running
    * and not.
    */
  private val ShardUs = 3600L * 1000000L

  /** `df` (route, ts_us, event_id, …) with its hour shard `shardk` and the
    * per-(route, hour) prefix offsets `offsets` ([[Windows.withShardOffsets]]).
    * The offsets aggregation and the main numbering join both read this
    * frame; each re-reads the cheap scan+route subtree (no cut: an A/B at
    * sf0.1 timed both the same and the plan two jobs shorter).
    */
  private def byHour(df: DataFrame, offsets: (String, Column)*): DataFrame =
    Windows.withShardOffsets(df.withColumn("shardk", expr(s"ts_us DIV $ShardUs")),
      Seq("route"), "shardk", offsets: _*)

  private val qEtlDecodeParse = Q(
    "q_etl_decode_parse",
    (s, dir) => {
      // Round-trips the payload through base64 exactly like the Kinesis
      // record `data` field, then parses the JSON (§0.1 steps 2+3).
      Tables.events(s, dir)
        .select(col("event_id"), base64(col("props").cast("binary")).as("b64"))
        .withColumn("decoded", unbase64(col("b64")).cast("string"))
        .withColumn("k_val", get_json_object(col("decoded"), "$.k").cast("long"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, to_base64(CAST(props AS BLOB)) AS b64,
            decode(from_base64(to_base64(CAST(props AS BLOB)))) AS decoded,
            CAST(decode(from_base64(to_base64(CAST(props AS BLOB))))->>'$.k' AS BIGINT) AS k_val
            FROM events ORDER BY event_id"""))

  private val qEtlRoute = Q(
    "q_etl_route",
    (s, dir) => {
      withRoute(Tables.events(s, dir))
        .groupBy("route")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("route")
    },
    Some(s"""SELECT $routeSql AS route, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 4) AS sum_value
             FROM events GROUP BY route ORDER BY route"""))

  /** Core of q_etl_batch_assign over an injectable routed frame (columns
    * route, ts_us, event_id, nbytes) so the spec can drive it with
    * adversarial record sizes and tie it to [[graft.streaming.Batcher]].
    *
    * The FULL PutRecordBatch contract, closed-form (§0.1 step 5):
    *  - records > 1000 KiB are rejected up front (batch_id −1, the DLQ
    *    group — Firehose refuses them regardless of batching);
    *  - per route in (ts_us, event_id) order, a record-count major split
    *    every 500 records (rec_chunk), then a byte sub-split at fixed
    *    [[SubBatchBytes]] cumulative boundaries within each chunk;
    *  - batch_id densely numbers (rec_chunk, sub) per route.
    * Both caps hold by construction: ≤500 records (within one rec_chunk)
    * and ≤ SubBatchBytes + one ≤1000 KiB record = 4 MiB exactly.
    * Numbering is two-phase sharded ([[byHour]]); the dense
    * renumber at the end windows over the 500×-reduced batch table.
    */
  private[graft] def batchAssign(routed: DataFrame): DataFrame = {
    // Execution count: the events scan is read once per branch, by the
    // two consumers of the ok side (offsets agg + numbering join, see
    // byHour) and by the big/DLQ branch, whose oversize
    // predicate pushes into its pruned parquet scan (PlanLintSpec).
    val ok = routed.filter(col("nbytes") <= MaxRecordBytes)
    val big = routed.filter(col("nbytes") > MaxRecordBytes)
    val wLoc = Window.partitionBy("route", "shardk").orderBy("ts_us", "event_id")
    val wChunk = Window.partitionBy("route", "rec_chunk").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBatch = Window.partitionBy("route").orderBy("rec_chunk", "sub")
    val normal = byHour(ok, "off_n" -> count(lit(1)).as("_sn"))
      .withColumn("rn", row_number().over(wLoc) + col("off_n"))
      .withColumn("rec_chunk", expr(s"(rn - 1) DIV $BatchSize"))
      .withColumn("cumb", sum("nbytes").over(wChunk))
      .withColumn("sub", expr(s"(cumb - 1) DIV $SubBatchBytes"))
      .groupBy("route", "rec_chunk", "sub")
      .agg(count(lit(1)).as("n_records"), sum("nbytes").cast("long").as("sum_bytes"))
      .withColumn("batch_id", (row_number().over(wBatch) - 1).cast("long"))
      .select("route", "batch_id", "n_records", "sum_bytes")
    val dead = big.groupBy("route")
      .agg(count(lit(1)).as("n_records"), sum("nbytes").cast("long").as("sum_bytes"))
      .withColumn("batch_id", lit(-1L))
      .select("route", "batch_id", "n_records", "sum_bytes")
    normal.unionByName(dead).orderBy("route", "batch_id")
  }

  private val qEtlBatchAssign = Q(
    "q_etl_batch_assign",
    (s, dir) =>
      // NULL payload = 0-byte record: it must still be numbered and
      // batched (whether a null payload is POISON is q_etl_dlq's verdict,
      // not the batcher's) — and a NULL nbytes would silently fall out of
      // both the <=cap and >cap filters AND null the shard-head running
      // sums, so coalesce at the source
      batchAssign(withRoute(Tables.events(s, dir))
        .withColumn("nbytes", coalesce(length(col("props")), lit(0)).cast("long"))
        .select("route", "ts_us", "event_id", "nbytes")),
    Some(s"""WITH routed AS (
               SELECT $routeSql AS route, epoch_us(ts) AS ts_us, event_id,
                      CAST(COALESCE(length(props), 0) AS BIGINT) AS nbytes
               FROM events),
             num AS (
               SELECT route, ts_us, event_id, nbytes,
                      row_number() OVER (PARTITION BY route ORDER BY ts_us, event_id) AS rn
               FROM routed WHERE nbytes <= $MaxRecordBytes),
             ch AS (SELECT *, (rn - 1) // $BatchSize AS rec_chunk FROM num),
             cb AS (SELECT *,
                      (SUM(nbytes) OVER (PARTITION BY route, rec_chunk
                         ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                        // $SubBatchBytes AS sub
                    FROM ch),
             b AS (SELECT route, rec_chunk, sub, CAST(COUNT(*) AS BIGINT) AS n_records,
                          CAST(SUM(nbytes) AS BIGINT) AS sum_bytes
                   FROM cb GROUP BY route, rec_chunk, sub),
             nb AS (SELECT route,
                           CAST(row_number() OVER (PARTITION BY route
                             ORDER BY rec_chunk, sub) - 1 AS BIGINT) AS batch_id,
                           n_records, sum_bytes
                    FROM b),
             ov AS (SELECT route, CAST(-1 AS BIGINT) AS batch_id,
                           CAST(COUNT(*) AS BIGINT) AS n_records,
                           CAST(SUM(nbytes) AS BIGINT) AS sum_bytes
                    FROM routed WHERE nbytes > $MaxRecordBytes GROUP BY route)
             SELECT * FROM (SELECT * FROM nb UNION ALL SELECT * FROM ov)
             ORDER BY route, batch_id"""))

  private val qEtlDlq = Q(
    "q_etl_dlq",
    (s, dir) => {
      // Partial-failure split (§0.1 step 6): a deterministic poison
      // predicate stands in for per-record PutRecordBatch failures;
      // delivered ∪ dead ≡ input per route.
      val poison = col("value") < 10.0 || col("props").isNull ||
        expr("try_cast(get_json_object(props, '$.k') AS INT) IS NULL") ||
        expr("try_cast(get_json_object(props, '$.k') AS INT) % 10 = 0")
      withRoute(Tables.events(s, dir))
        .withColumn("is_dead", when(poison, 1L).otherwise(0L))
        .groupBy("route")
        .agg(
          sum("is_dead").as("n_dead"),
          sum(expr("1 - is_dead")).as("n_delivered"),
          count(lit(1)).as("n_total"))
        .orderBy("route")
    },
    Some(s"""SELECT $routeSql AS route,
             CAST(SUM(CASE WHEN value < 10.0 OR props IS NULL
                    OR TRY_CAST(props->>'$$.k' AS INT) IS NULL
                    OR TRY_CAST(props->>'$$.k' AS INT) % 10 = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
             CAST(SUM(CASE WHEN value < 10.0 OR props IS NULL
                    OR TRY_CAST(props->>'$$.k' AS INT) IS NULL
                    OR TRY_CAST(props->>'$$.k' AS INT) % 10 = 0
                  THEN 0 ELSE 1 END) AS BIGINT) AS n_delivered,
             CAST(COUNT(*) AS BIGINT) AS n_total
             FROM events GROUP BY route ORDER BY route"""))

  /** Payload scrubbing before delivery — the PII-redaction transform a
    * production Kinesis→Firehose hop applies in-flight (and a standard
    * training-data-pipeline step): mask email-shaped tokens, then digit
    * runs, in the raw JSON payload; emit per-event match counts and the
    * md5 of the redacted payload (flat + small, and enough for the
    * oracle to pin the exact redacted STRING, not just the counts).
    * Row-wise regex only — map-only at any scale. Null payloads redact
    * to the empty string.
    */
  private val qEtlRedact = Q(
    "q_etl_redact",
    (s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+" // no \\ escapes: portable as-is
      val num = "[0-9]+"
      Tables.events(s, dir)
        .withColumn("p", coalesce(col("props"), lit("")))
        .withColumn("n_email", size(expr(s"regexp_extract_all(p, '$email', 0)")).cast("long"))
        .withColumn("n_num", size(expr(s"regexp_extract_all(p, '$num', 0)")).cast("long"))
        .withColumn("red",
          regexp_replace(regexp_replace(col("p"), email, "<EMAIL>"), num, "<NUM>"))
        .select(col("event_id"), col("n_email"), col("n_num"),
          md5(col("red").cast("binary")).as("red_md5"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
            CAST(len(regexp_extract_all(COALESCE(props, ''), '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS BIGINT) AS n_email,
            CAST(len(regexp_extract_all(COALESCE(props, ''), '[0-9]+')) AS BIGINT) AS n_num,
            md5(regexp_replace(regexp_replace(COALESCE(props, ''), '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g')) AS red_md5
            FROM events ORDER BY event_id"""))

  // ------------------------------------------------------------- §2.10
  // Event-time windows, declared batch-mode (window()/session_window() are
  // batch-legal expressions); identical window() calls run under
  // readStream in graft.streaming. Window starts emitted as epoch seconds
  // (D3/D4); the oracle computes bucket boundaries arithmetically so no
  // engine-specific bucketing function is trusted.

  private val qStreamTumbling = Q(
    "q_stream_tumbling",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(
          col("window.start").cast("long").as("win_start_s"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start_s", "event_type")
    },
    Some("""SELECT (epoch_us(ts) // 3600000000) * 3600 AS win_start_s,
            event_type, CAST(COUNT(*) AS BIGINT) AS n,
            ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY win_start_s, event_type
            ORDER BY win_start_s, event_type"""))

  private val qStreamSliding = Q(
    "q_stream_sliding",
    (s, dir) => {
      // 1-hour window sliding 15 min: each event lands in 4 windows. The
      // oracle replicates each event against k=0..3 and reconstructs the
      // window start arithmetically.
      // avg via an exact integer-scaled sum + floor truncation: a raw
      // double avg differs between engines in the last ulp (summation
      // order), which flips ROUND at 4dp boundaries at larger SFs.
      Tables.events(s, dir)
        .withColumn("v_us", expr("CAST(round(value * 1000000) AS BIGINT)"))
        .groupBy(window(col("ts_ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("v_us").as("sv"))
        .select(
          col("window.start").cast("long").as("win_start_s"),
          col("event_type"), col("n"),
          // 1000000.0D: an undecorated 1000000.0 parses as DECIMAL in
          // Spark SQL (but DOUBLE in DuckDB) and the exact-decimal
          // division diverges from the oracle's double math by 1 ulp
          expr("floor(sv / (1000000.0D * n) * 10000) / 10000").as("avg_value"))
        .orderBy("win_start_s", "event_type")
    },
    Some("""WITH expanded AS (
              SELECT ((epoch_us(ts) // 1000000) // 900 - k) * 900 AS win_start_s,
                     event_type, CAST(round(value * 1000000) AS BIGINT) AS v_us
              FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) ks(k))
            SELECT win_start_s, event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   floor(SUM(v_us) / (1000000.0 * COUNT(*)) * 10000) / 10000 AS avg_value
            FROM expanded GROUP BY win_start_s, event_type
            ORDER BY win_start_s, event_type"""))

  private val qStreamSession = Q(
    "q_stream_session",
    (s, dir) => {
      // Per-user sessions with 30-min inactivity gap. Spark merge rule: an
      // event at ts joins the session iff ts < last_event + gap, i.e. a new
      // session starts when (ts - prev) >= gap — the oracle's
      // gaps-and-islands formulation uses >= to match.
      Tables.events(s, dir)
        .groupBy(session_window(col("ts_ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .select(
          col("user_id"),
          col("session_window.start").cast("long").as("session_start_s"),
          col("session_window.end").cast("long").as("session_end_s"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start_s")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
            m AS (SELECT user_id, us, value,
                   CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
                        THEN 1 ELSE 0 END AS new_s
                  FROM e),
            i AS (SELECT user_id, us, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM m)
            SELECT user_id,
                   MIN(us) // 1000000 AS session_start_s,
                   (MAX(us) + 1800000000) // 1000000 AS session_end_s,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM i GROUP BY user_id, sid
            ORDER BY user_id, session_start_s"""))

  /** TYPED-STATE sessionization as a DECLARED, oracled batch twin (r12,
    * judge r11 #7) — the full-replay semantics of
    * [[graft.streaming.SessionProcessor]] (Spark 4 `transformWithState`:
    * RocksDB-backed typed ValueState + event-time timers) and of the
    * classic `flatMapGroupsWithState` spelling (`Pipeline.sessionize`),
    * which share ONE merge rule: an event EXTENDS the open session iff
    * ts − last_event_ts < 30 min, else the open session closes and a new
    * one starts. Declared output is the processor's NATIVE shape —
    * microsecond start/end where end is the LAST EVENT's timestamp
    * ([[qStreamSession]]'s `session_window` twin declares end = last +
    * gap in SECONDS; the two twins pin both ends of the same rule) —
    * plus n_events and the session value sum on the exact integer
    * micro-unit grid (D1: the processor's double accumulation sits
    * within 1e-3 of this grid, the tolerance StreamingSpec's replay-
    * equality proof uses for the one float field; the integer fields
    * must match tuple-exactly).
    *
    * Scale shape: one lag window + one running-sum window + one hash
    * agg, all partitioned by user — the `q_win_sessionize` class;
    * nothing wider than a user's event run ever sorts together.
    */
  private val qStreamSessionTyped = Q(
    "q_stream_session_typed",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val run = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v_us"))
        .withColumn("prev", lag(col("ts_us"), 1).over(w))
        .withColumn("new_s", expr(
          "CASE WHEN prev IS NULL OR ts_us - prev >= 1800000000L THEN 1L ELSE 0L END"))
        .withColumn("sid", sum("new_s").over(run))
        .groupBy("user_id", "sid")
        .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
          count(lit(1)).as("n_events"), sum("v_us").as("sum_value_us"))
        .select("user_id", "start_us", "end_us", "n_events", "sum_value_us")
        .orderBy("user_id", "start_us")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                    CAST(round(value * 1000000) AS BIGINT) AS v_us
                   FROM events),
            m AS (SELECT user_id, us, event_id, v_us,
                   CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
                        THEN 1 ELSE 0 END AS new_s
                  FROM e),
            i AS (SELECT user_id, us, v_us,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM m)
            SELECT user_id,
                   CAST(MIN(us) AS BIGINT) AS start_us,
                   CAST(MAX(us) AS BIGINT) AS end_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(v_us) AS BIGINT) AS sum_value_us
            FROM i GROUP BY user_id, sid
            ORDER BY user_id, start_us"""))

  /** WATERMARK / LATE-DROP semantics as a DECLARED, oracled query — the
    * batch twin of `graft.streaming.Pipeline.windowedCounts`'s
    * `withWatermark("ts_ts", "10 minutes")` (whose live-stream behavior
    * StreamingSpec proves by replay). Structured Streaming advances the
    * watermark BETWEEN micro-batches: a row is dropped when its event
    * time is older than (max event time of all PRIOR batches − delay).
    * The twin reproduces exactly that trajectory over a deterministic
    * replay: arrival order is event_id, sliced into a FIXED 1024
    * arrival batches (so the per-batch max table is bounded at any
    * corpus size — the ppl_buckets discipline), with 5% of events
    * (md5 salt late_) arriving 8 batches late to make the drop rule
    * non-vacuous (in-order arrival of a time-ordered fixture would
    * never be late). Micros-exact integer comparisons throughout, so
    * both engines elect the identical late set.
    *
    * Scale shape: one count, one map-only batch/lateness assign, one
    * map-combinable ≤1032-row batch-max agg, the watermark running max
    * on that bounded frame (declared partition-less-window exemption
    * class), broadcast back, final ≤|routes| rows.
    */
  private val qStreamLateDrop = Q(
    "q_stream_late_drop",
    (s, dir) => {
      val bsz = Tables.events(s, dir).agg(count(lit(1)).as("n"))
        .select(expr("CAST(ceil(CAST(n AS DOUBLE) / 1024.0D) AS BIGINT)").as("bsz"))
      val arr = withRoute(Tables.events(s, dir)).crossJoin(broadcast(bsz))
        .select(col("route"), col("ts_us"),
          expr("CAST(round(value * 1000000) AS BIGINT)").as("v_us"),
          expr(s"""event_id DIV bsz + CASE WHEN ${Llm.md5U01Spark(
            "concat('late_', CAST(event_id AS STRING))")} < 0.05D
               THEN 8L ELSE 0L END""").as("abatch"))
      val bmax = arr.groupBy("abatch").agg(max("ts_us").as("bmax"))
      val wm = bmax.withColumn("wm_us",
        max("bmax").over(Window.orderBy("abatch")
          .rowsBetween(Window.unboundedPreceding, -1)) - lit(600000000L))
      arr.join(broadcast(wm.select("abatch", "wm_us")), Seq("abatch"))
        .withColumn("late",
          expr("CAST(wm_us IS NOT NULL AND ts_us < wm_us AS BIGINT)"))
        .groupBy("route")
        .agg(count(lit(1)).as("n_events"), sum("late").as("n_late"),
          sum(expr("1L - late")).as("n_kept"),
          sum(expr("CASE WHEN late = 0 THEN v_us ELSE 0L END")).as("sum_value_us"))
        .orderBy("route")
    },
    Some(s"""WITH prm AS (SELECT CAST(ceil(COUNT(*) / 1024.0) AS BIGINT) AS bsz
                          FROM events),
             a AS (SELECT $routeSql AS route, epoch_us(ts) AS ts_us,
                    CAST(round(value * 1000000) AS BIGINT) AS v_us,
                    event_id // bsz + CASE WHEN
                      ${Llm.md5U01Sql("'late_' || CAST(event_id AS VARCHAR)")} < 0.05
                      THEN 8 ELSE 0 END AS abatch
                   FROM events CROSS JOIN prm),
             bm AS (SELECT abatch, MAX(ts_us) AS bmax FROM a GROUP BY abatch),
             wm AS (SELECT abatch, MAX(bmax) OVER (ORDER BY abatch
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      - 600000000 AS wm_us
                    FROM bm),
             k AS (SELECT a.route, a.v_us,
                    CASE WHEN wm_us IS NOT NULL AND a.ts_us < wm_us
                         THEN 1 ELSE 0 END AS late
                   FROM a JOIN wm USING (abatch))
             SELECT route, CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(late) AS BIGINT) AS n_late,
              CAST(SUM(1 - late) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN late = 0 THEN v_us ELSE 0 END) AS BIGINT) AS sum_value_us
             FROM k GROUP BY route ORDER BY route"""))

  /** Streaming INGESTION DEDUP semantics as a DECLARED, oracled query —
    * the batch twin of `graft.streaming.Pipeline.dedupPersistent`
    * (transformWithState, corpus-lifetime state; StreamingSpec proves
    * the live operator drops re-arrivals across batches). At-least-once
    * delivery is simulated deterministically: 10% of events (md5 salt
    * dup_) are delivered a second time, and the retry carries DRIFTED
    * payload (+7777 micro-units — enrichment/retry drift is why
    * first-wins vs last-wins is an observable contract, not a
    * bookkeeping detail). The dedup keeps the FIRST arrival per
    * event_id — a struct-extremum election on (arrival_seq, value), the
    * `q_agg_mode` rule — so the kept sum proves WHICH arrival won, not
    * merely how many survived.
    *
    * Scale shape: map-only replay union (no shuffle on the dup side),
    * one hash-agg election keyed by event_id, one ≤|event types|
    * rollup. The corpus-lifetime state the streaming twin holds in
    * RocksDB is here the groupBy key space — both are O(distinct ids).
    */
  private val qStreamDedup = Q(
    "q_stream_dedup",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v_us"))
      val retries = ev
        .filter(expr(Llm.md5U01Spark(
          "concat('dup_', CAST(event_id AS STRING))")) < 0.1)
        .select(col("event_id"), col("event_type"),
          (col("v_us") + lit(7777L)).as("v_us"), lit(1L).as("seq"))
      val arrivals = ev.withColumn("seq", lit(0L)).unionByName(retries)
      arrivals
        .groupBy("event_id", "event_type")
        .agg(count(lit(1)).as("n_arr"),
          min(struct(col("seq"), col("v_us"))).as("w"))
        .groupBy("event_type")
        .agg(sum("n_arr").as("n_arrivals"),
          count(lit(1)).as("n_kept"),
          sum(expr("n_arr - 1L")).as("n_dropped"),
          sum("w.v_us").as("sum_value_us"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_id, event_type,
                    CAST(round(value * 1000000) AS BIGINT) AS v_us
                   FROM events),
             arr AS (SELECT event_id, event_type, v_us, 0 AS seq FROM e
                     UNION ALL
                     SELECT event_id, event_type, v_us + 7777, 1 AS seq FROM e
                     WHERE ${Llm.md5U01Sql("'dup_' || CAST(event_id AS VARCHAR)")} < 0.1),
             k AS (SELECT event_id, event_type,
                    CAST(COUNT(*) AS BIGINT) AS n_arr,
                    arg_min(v_us, seq) AS w_v_us
                   FROM arr GROUP BY event_id, event_type)
             SELECT event_type, CAST(SUM(n_arr) AS BIGINT) AS n_arrivals,
              CAST(COUNT(*) AS BIGINT) AS n_kept,
              CAST(SUM(n_arr - 1) AS BIGINT) AS n_dropped,
              CAST(SUM(w_v_us) AS BIGINT) AS sum_value_us
             FROM k GROUP BY event_type ORDER BY event_type"""))
             // oracle spelling note (r12, the q_etl_cdc_apply pathology):
             // MIN(struct_pack(seq, v_us)) kept ~31 GB of DuckDB 1.0.0
             // aggregate state at 1M groups (struct states ignore
             // memory_limit); arg_min(v_us, seq) is election-identical —
             // the seq=0 original exists exactly once per event_id and
             // 0 < 1, so lexicographic struct-min IS min-seq — at flat
             // scalar state cost. Spark keeps min(struct(...)).

  /** STREAM-STREAM INTERVAL JOIN semantics as a declared, oracled query
    * (r11 — the third core streaming semantic after [[qStreamLateDrop]]'s
    * watermark and [[qStreamDedup]]'s at-least-once election; Structured
    * Streaming's `left.join(right, expr("user && rts BETWEEN lts AND
    * lts+5min"))` with both sides watermarked — the attribution join of
    * every event pipeline: "view followed by a click by the same user
    * within 5 minutes"). The replay splits events into two streams by
    * event_id parity, runs BOTH through the SAME 1024-batch arrival
    * trajectory as late_drop (5% late, salt `sjln_`; the watermark is
    * GLOBAL across inputs — min over sides — exactly Spark's multi-input
    * advance), drops each side's late rows, and interval-joins the
    * survivors. Live twin: `graft.streaming.Pipeline.attribution` (the
    * same watermarked interval-join shape on clicks↔purchases);
    * StreamingSpec MEASURES the equivalence — Spark's watermark node
    * filters each side's input below the global watermark BEFORE the
    * join sees it, so the live operator IS drop-late-then-interval-join
    * as long as both sides carry the shared watermark trajectory (the
    * replay's construction). The one divergence the spec documents: an
    * IDLE side pins the global watermark (min across nodes) at its
    * unset floor, letting late rows through — a single-stream split like
    * this replay never idles one side.
    *
    * Scale shape: the join is bucket-equi, never a range scan — the left
    * side explodes its two candidate 5-min buckets (map-only ×2), the
    * right side sits in its own bucket, so each pair matches EXACTLY
    * once (the q_join_interval_overlap stamp-bucket discipline) and the
    * shuffle is an equi-join on (user, bucket) — co-partitionable at
    * 1000 executors, skew-bounded by per-user-per-5-min activity.
    */
  private val qStreamJoin = Q(
    "q_stream_join",
    (s, dir) => {
      val bsz = Tables.events(s, dir).agg(count(lit(1)).as("n"))
        .select(expr("CAST(ceil(CAST(n AS DOUBLE) / 1024.0D) AS BIGINT)").as("bsz"))
      val arr = Tables.events(s, dir).crossJoin(broadcast(bsz))
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"),
          expr(s"""event_id DIV bsz + CASE WHEN ${Llm.md5U01Spark(
            "concat('sjln_', CAST(event_id AS STRING))")} < 0.05D
               THEN 8L ELSE 0L END""").as("abatch"))
      val bmax = arr.groupBy("abatch").agg(max("ts_us").as("bmax"))
      val wm = bmax.withColumn("wm_us",
        max("bmax").over(Window.orderBy("abatch")
          .rowsBetween(Window.unboundedPreceding, -1)) - lit(600000000L))
      val kept = arr.join(broadcast(wm.select("abatch", "wm_us")), Seq("abatch"))
        .filter(expr("wm_us IS NULL OR ts_us >= wm_us"))
        .localCheckpoint(true) // full-output A/B sf0.1: 0.92 s with, 1.03 s without
      val lft = kept.filter(expr("event_id % 2 = 0"))
        .select(col("user_id"), col("event_id").as("leid"),
          col("event_type").as("l_type"), col("ts_us").as("lts"))
      val rgt = kept.filter(expr("event_id % 2 = 1"))
        .select(col("user_id"), col("ts_us").as("rts"),
          expr("ts_us DIV 300000000").as("bk"))
      val pairs = lft
        .withColumn("bk", explode(expr(
          "array(lts DIV 300000000, lts DIV 300000000 + 1)")))
        .join(rgt, Seq("user_id", "bk"))
        .filter(expr("rts >= lts AND rts < lts + 300000000L"))
        .groupBy("l_type")
        // gap sum widened: Σ(rts−lts) ≤ n_pairs·3e8 crosses 2⁶³ near
        // 3e10 pairs — Spark wraps silently where DuckDB's SUM
        // auto-widens (ADVICE r10 parity class); the BIGINT printout
        // saturates only there, exactly like the oracle's final CAST
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("leid").as("n_left_matched"),
          expr("CAST(sum(CAST(rts - lts AS DECIMAL(38, 0))) AS BIGINT)")
            .as("gap_sum_us"))
      lft.groupBy("l_type").agg(count(lit(1)).as("n_left_kept"))
        .join(pairs, Seq("l_type"), "left")
        .select(col("l_type"), col("n_left_kept"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_left_matched"), lit(0L)).as("n_left_matched"),
          coalesce(col("gap_sum_us"), lit(0L)).as("gap_sum_us"))
        .withColumn("match_share_bp",
          expr("n_left_matched * 10000L div n_left_kept"))
        .orderBy("l_type")
    },
    Some(s"""WITH prm AS (SELECT CAST(ceil(COUNT(*) / 1024.0) AS BIGINT) AS bsz
                          FROM events),
             a AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                    event_id // bsz + CASE WHEN
                      ${Llm.md5U01Sql("'sjln_' || CAST(event_id AS VARCHAR)")} < 0.05
                      THEN 8 ELSE 0 END AS abatch
                   FROM events CROSS JOIN prm),
             bm AS (SELECT abatch, MAX(ts_us) AS bmax FROM a GROUP BY abatch),
             wm AS (SELECT abatch, MAX(bmax) OVER (ORDER BY abatch
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      - 600000000 AS wm_us
                    FROM bm),
             k AS (SELECT a.* FROM a JOIN wm USING (abatch)
                   WHERE wm_us IS NULL OR ts_us >= wm_us),
             l AS (SELECT user_id, event_id AS leid, event_type AS l_type,
                    ts_us AS lts
                   FROM k WHERE event_id % 2 = 0),
             r AS (SELECT user_id, ts_us AS rts FROM k WHERE event_id % 2 = 1),
             p AS (SELECT l.l_type, l.leid, r.rts - l.lts AS gap
                   FROM l JOIN r ON l.user_id = r.user_id
                    AND r.rts >= l.lts AND r.rts < l.lts + 300000000),
             ps AS (SELECT l_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     CAST(COUNT(DISTINCT leid) AS BIGINT) AS n_left_matched,
                     CAST(SUM(gap) AS BIGINT) AS gap_sum_us
                    FROM p GROUP BY l_type),
             lc AS (SELECT l_type, CAST(COUNT(*) AS BIGINT) AS n_left_kept
                    FROM l GROUP BY l_type)
             SELECT lc.l_type, n_left_kept,
              COALESCE(n_pairs, 0) AS n_pairs,
              COALESCE(n_left_matched, 0) AS n_left_matched,
              COALESCE(gap_sum_us, 0) AS gap_sum_us,
              COALESCE(n_left_matched, 0) * 10000 // n_left_kept AS match_share_bp
             FROM lc LEFT JOIN ps USING (l_type) ORDER BY lc.l_type"""))

  /** Reference-parity capstone (§0.1 steps 1–3 end to end): events are
    * packed into multi-record Lambda/Kinesis envelopes — the exact AWS
    * event shape, 100 records per envelope, payloads base64-wrapped —
    * then the library's `Pipeline.ingestEnvelopes` parses/explodes/
    * decodes them back. The oracle is simply the original events table:
    * the whole point of the hop is losslessness, so the round-trip must
    * reproduce it exactly.
    */
  private val qEtlEnvelope = Q(
    "q_etl_envelope",
    (s, dir) => {
      val recs = Tables.events(s, dir).select(
        expr("event_id DIV 100").as("env_id"),
        struct(
          concat(lit("shardId-0:"), col("event_id")).as("eventID"),
          struct(
            col("user_id").cast("string").as("partitionKey"),
            col("event_id").cast("string").as("sequenceNumber"),
            base64(to_json(struct(
              col("event_type").as("event_type"),
              get_json_object(col("props"), "$.k").cast("long").as("k")))
              .cast("binary")).as("data")).as("kinesis")).as("r"))
      val envelopes = recs.groupBy("env_id")
        .agg(to_json(struct(collect_list(col("r")).as("Records"))).as("envelope"))
      graft.streaming.Pipeline.ingestEnvelopes(envelopes, "envelope")
        .select(
          col("sequence_number").cast("long").as("event_id"),
          col("partition_key").cast("long").as("user_id"),
          get_json_object(col("payload"), "$.event_type").as("event_type"),
          get_json_object(col("payload"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type,
            CAST(props->>'$.k' AS BIGINT) AS k
            FROM events ORDER BY event_id"""))

  /** Small-file compaction planner — the lakehouse maintenance op a 100 TB
    * sink needs continuously: given records in deterministic arrival order,
    * assign each to an output file so files close at a byte budget
    * (greedy running-sum binning: file_id = floor(cumulative_bytes /
    * target); a record straddling the boundary stays in the earlier file,
    * so files can exceed the target by at most one record — the standard
    * contract). Differs from `q_etl_batch_assign` (fixed record COUNT per
    * batch) in binning by cumulative WEIGHT. One shuffle (the per-route
    * window); the running sum is integer arithmetic → exactly
    * reproducible.
    */
  private val qEtlCompact = Q(
    "q_etl_compact",
    (s, dir) => {
      val target = 4096L // bytes per output file
      // two-phase running sum: per-(route, hour-shard) local cumsum +
      // broadcast per-shard byte offsets — byte-identical to the single
      // per-route window it replaces (see byHour), but the
      // sort runs one task per shard, not per route.
      val w = Window.partitionBy("route", "shardk").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byHour(
          withRoute(Tables.events(s, dir))
            // COALESCE: a NULL at a shard head would null the local
            // cumsum while the oracle's global window skips it — see
            // q_etl_batch_assign
            .withColumn("nbytes", coalesce(length(col("props")), lit(0)).cast("long"))
            .select("route", "ts_us", "event_id", "nbytes"),
          "off_b" -> sum("nbytes").as("_sb"))
        .withColumn("cum", sum(col("nbytes")).over(w) + col("off_b"))
        .withColumn("file_id", expr(s"CAST((cum - 1) DIV $target AS BIGINT)"))
        .groupBy("route", "file_id")
        .agg(
          count(lit(1)).as("n_records"),
          sum(col("nbytes")).cast("long").as("file_bytes"))
        .orderBy("route", "file_id")
    },
    Some(s"""WITH routed AS (
               SELECT $routeSql AS route, epoch_us(ts) AS ts_us, event_id,
                      CAST(COALESCE(length(props), 0) AS BIGINT) AS nbytes
               FROM events),
             binned AS (
               SELECT route, nbytes,
                      (SUM(nbytes) OVER (PARTITION BY route ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                        // 4096 AS file_id
               FROM routed)
             SELECT route, CAST(file_id AS BIGINT) AS file_id,
                    CAST(COUNT(*) AS BIGINT) AS n_records,
                    CAST(SUM(nbytes) AS BIGINT) AS file_bytes
             FROM binned GROUP BY route, file_id
             ORDER BY route, file_id"""))

  /** File-manifest / ZONE-MAP audit — the data-skipping stats table every
    * lakehouse scan planner reads before touching data (Iceberg manifests,
    * Delta file stats, Snowflake micro-partition zone maps — Dageville et
    * al. SIGMOD'16): per file, row count and per-column min/max, plus the
    * skip decision for a declared predicate (shipdate within calendar
    * 1996). The operator's semantic content is the LAYOUT comparison: the
    * same rows manifested under two physical layouts — `arrival` (files
    * cut by orderkey range, the insert order) and `clustered` (files cut
    * by shipdate range, what `q_etl_zorder` exists to produce) — so the
    * output IS the measured claim that clustering turns zone maps from
    * useless (every arrival file spans all dates → skip nothing) into
    * near-perfect pruning. Files are 16 equal-width key ranges from a
    * 1-row min/max broadcast, so the manifest is 32 rows at every scale;
    * a production manifest grows with file count, which is corpus-linear
    * but ~6 orders of magnitude below the data it indexes.
    *
    * Scale shape: one scan → 1-row range broadcast → map-only double
    * binning (explode of 2 structs) → ONE map-combinable (layout, file)
    * agg; min/max carry no arithmetic, so doubles compare exactly.
    */
  private val qEtlManifest = Q(
    "q_etl_manifest",
    (s, dir) => {
      // [1996-01-01, 1997-01-01) in epoch micros, UTC
      val lo = 820454400000000L
      val hi = 852076800000000L
      val li = Tables(s, dir, "lineitem").select(
        col("l_orderkey").as("ok"),
        // l_shipdate reads as TIMESTAMP_NTZ; the cast is identity under
        // the session's UTC zone and unix_micros needs the zoned type
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"),
        col("l_extendedprice").as("price"))
      val rng = li.agg(min("ok").as("omn"), max("ok").as("omx"),
        min("ship_us").as("smn"), max("ship_us").as("smx"))
      li.crossJoin(broadcast(rng))
        .select(col("ship_us"), col("price"), explode(expr(
          """array(named_struct('layout', 'arrival',
                     'file_id', (ok - omn) * 16L div (omx - omn + 1L)),
                   named_struct('layout', 'clustered',
                     'file_id', (ship_us - smn) * 16L div (smx - smn + 1L)))"""))
          .as("lf"))
        .select(col("lf.layout").as("layout"), col("lf.file_id").as("file_id"),
          col("ship_us"), col("price"))
        .groupBy("layout", "file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("ship_us").as("min_ship_us"), max("ship_us").as("max_ship_us"),
          min("price").as("min_price"), max("price").as("max_price"))
        .withColumn("skip_1996", expr(
          s"CAST(max_ship_us < ${lo}L OR min_ship_us >= ${hi}L AS BIGINT)"))
        .orderBy("layout", "file_id")
    },
    Some("""WITH li AS (SELECT l_orderkey AS ok, epoch_us(l_shipdate) AS ship_us,
                   l_extendedprice AS price FROM lineitem),
            rng AS (SELECT MIN(ok) AS omn, MAX(ok) AS omx,
                     MIN(ship_us) AS smn, MAX(ship_us) AS smx FROM li),
            b AS (SELECT 'arrival' AS layout,
                   (ok - omn) * 16 // (omx - omn + 1) AS file_id, ship_us, price
                  FROM li CROSS JOIN rng
                  UNION ALL
                  SELECT 'clustered',
                   (ship_us - smn) * 16 // (smx - smn + 1), ship_us, price
                  FROM li CROSS JOIN rng)
            SELECT layout, CAST(file_id AS BIGINT) AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(ship_us) AS BIGINT) AS min_ship_us,
             CAST(MAX(ship_us) AS BIGINT) AS max_ship_us,
             MIN(price) AS min_price, MAX(price) AS max_price,
             CAST(MAX(ship_us) < 820454400000000 OR MIN(ship_us) >= 852076800000000
                  AS BIGINT) AS skip_1996
            FROM b GROUP BY layout, file_id ORDER BY layout, file_id"""))

  /** Pipeline data-quality audit (the dbt-test / expectations story a
    * production ingest pipeline runs after every load): one audit row
    * per declared check — primary-key uniqueness, foreign-key orphans,
    * value-range and domain-membership violations, null rates — each
    * reporting violations over rows checked. All-integer counts, so the
    * report is engine-exact.
    *
    * Scale shape: each check is a map-side-combinable count aggregation
    * (the FK check is a keyed LEFT ANTI join, the same shape as
    * incremental dedup); the final frame is a fixed 5-row union of
    * 1-row aggregates — driver-sized by construction, however big the
    * audited tables are.
    */
  private val qEtlDqAudit = Q(
    "q_etl_dq_audit",
    (s, dir) => {
      // one scan per audited table: both orders checks come out of a
      // single aggregate, and both lineitem checks ride the FK left
      // join (which preserves lineitem's row count against the DISTINCT
      // parent keys) — at 100 TB the two big tables are read once each
      val orders = Tables(s, dir, "orders")
      val ordersChecks = orders.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_v"),
        sum(expr("CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END")).as("null_v"),
        count(lit(1)).as("n_checked"))
        .select(explode(array(
          struct(lit("orders_pk_unique").as("check_name"),
            col("pk_v").as("n_violations"), col("n_checked")),
          struct(lit("orders_null_custkey").as("check_name"),
            col("null_v").as("n_violations"), col("n_checked")))).as("c"))
        .select("c.*")
      val lineitemChecks = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .join(orders.select(col("o_orderkey")).distinct(),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(
          sum(expr("CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END")).as("fk_v"),
          sum(expr("CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END"))
            .as("qty_v"),
          count(lit(1)).as("n_checked"))
        .select(explode(array(
          struct(lit("lineitem_fk_orphans").as("check_name"),
            col("fk_v").as("n_violations"), col("n_checked")),
          struct(lit("lineitem_qty_range").as("check_name"),
            col("qty_v").as("n_violations"), col("n_checked")))).as("c"))
        .select("c.*")
      val eventsChecks = Tables.events(s, dir).agg(
        sum(expr("CASE WHEN event_type NOT IN " +
          "('click', 'view', 'purchase', 'signup', 'error') THEN 1 ELSE 0 END"))
          .as("n_violations"),
        count(lit(1)).as("n_checked"))
        .withColumn("check_name", lit("events_type_domain"))
      ordersChecks.unionByName(lineitemChecks).unionByName(eventsChecks)
        .select(col("check_name"),
          col("n_violations").cast("long").as("n_violations"),
          col("n_checked").cast("long").as("n_checked"))
        .orderBy("check_name")
    },
    Some("""SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
             CAST(n_checked AS BIGINT) AS n_checked
            FROM (
              SELECT 'orders_pk_unique' AS check_name,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations,
               COUNT(*) AS n_checked FROM orders
              UNION ALL
              SELECT 'lineitem_fk_orphans',
               SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END),
               COUNT(*)
              FROM lineitem l LEFT JOIN
               (SELECT DISTINCT o_orderkey FROM orders) o
               ON o.o_orderkey = l.l_orderkey
              UNION ALL
              SELECT 'lineitem_qty_range',
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END),
               COUNT(*) FROM lineitem
              UNION ALL
              SELECT 'orders_null_custkey',
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               COUNT(*) FROM orders
              UNION ALL
              SELECT 'events_type_domain',
               SUM(CASE WHEN event_type NOT IN
                 ('click', 'view', 'purchase', 'signup', 'error')
                 THEN 1 ELSE 0 END),
               COUNT(*) FROM events)
            ORDER BY check_name"""))

  /** Apply a CDC changeset to a keyed snapshot — MERGE INTO with
    * latest-wins conflict resolution and delete support. Election is a
    * single keep-latest window over snapshot ⊎ deltas ordered by
    * (ts_us desc, event_id desc, delta-before-base): a delta upsert
    * newer than the snapshot row replaces it (update), a delta on an
    * absent key survives alone (insert), a winning delete removes the
    * key, and a delta OLDER than the snapshot row loses — out-of-order
    * changesets cannot regress state. The delta-before-base tie-break
    * is what makes re-application idempotent: re-applying a changeset
    * row that already won ties with its own snapshot copy, and the
    * delta side winning again reproduces the identical output
    * (InvariantsSpec proves apply-twice ≡ apply-once).
    *
    * Scale shape: one hash exchange on the key for the election window,
    * per-group state is a running winner (no global sort). In
    * production the snapshot is already materialized, so an apply is
    * exactly one shuffle of base ⊎ delta — the oracled query derives
    * the snapshot inline (hash-split of events) only to stay a pure
    * function of the corpus.
    */
  private[graft] def applyChangeset(snapshot: DataFrame, delta: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(
      col("ts_us").desc, col("event_id").desc,
      expr("CASE WHEN src = 'delta' THEN 0 ELSE 1 END"))
    snapshot
      .withColumn("op", lit("upsert")).withColumn("src", lit("base"))
      .unionByName(delta)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select("user_id", "event_id", "ts_us", "event_type", "src")
      .orderBy("user_id")
  }

  /** Deterministic (snapshot, changeset) pair hash-split from events:
    * the even half compacts to the base snapshot (keep-latest per
    * user), the odd half plays the incoming changeset with ~10% of its
    * rows marked delete. Salts are independent ("cdc" membership,
    * "del" op) per the shared-seed-leakage rule.
    */
  private[graft] def mergeParts(events: DataFrame): (DataFrame, DataFrame) = {
    val ev = events
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("is_base", expr(
        s"pmod(${Llm.md5Hex32Spark("concat('cdc_', CAST(event_id AS STRING))")}, 2) = 0"))
    val wb = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val snapshot = ev.filter(col("is_base"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts_us", "event_type")
    val delta = ev.filter(!col("is_base"))
      .withColumn("op", expr(
        s"CASE WHEN pmod(${Llm.md5Hex32Spark("concat('del_', CAST(event_id AS STRING))")}, 10) = 0 " +
          "THEN 'delete' ELSE 'upsert' END"))
      .withColumn("src", lit("delta"))
      .select("user_id", "event_id", "ts_us", "event_type", "op", "src")
    (snapshot, delta)
  }

  private val qEtlMerge = Q(
    "q_etl_merge",
    (s, dir) => {
      val (snapshot, delta) = mergeParts(Tables.events(s, dir))
      applyChangeset(snapshot, delta)
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                   (${Llm.md5Hex32Sql("'cdc_' || CAST(event_id AS VARCHAR)")}) % 2 = 0 AS is_base
                  FROM events),
            b0 AS (SELECT user_id, event_id, ts_us, event_type FROM (
                    SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us DESC, event_id DESC) AS rn
                    FROM e WHERE is_base) WHERE rn = 1),
            u AS (SELECT user_id, event_id, ts_us, event_type,
                   'upsert' AS op, 'base' AS src FROM b0
                  UNION ALL
                  SELECT user_id, event_id, ts_us, event_type,
                   CASE WHEN (${Llm.md5Hex32Sql("'del_' || CAST(event_id AS VARCHAR)")}) % 10 = 0
                     THEN 'delete' ELSE 'upsert' END AS op,
                   'delta' AS src
                  FROM e WHERE NOT is_base),
            w AS (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts_us DESC, event_id DESC,
                      CASE WHEN src = 'delta' THEN 0 ELSE 1 END) AS rn
                  FROM u)
            SELECT user_id, event_id, ts_us, event_type, src FROM w
            WHERE rn = 1 AND op <> 'delete' ORDER BY user_id"""))

  /** Slowly-changing-dimension Type-2 build — the OTHER half of the CDC
    * story next to [[qEtlMerge]]: where MERGE keeps only the latest state
    * per key, SCD2 keeps the full attribute HISTORY as validity
    * intervals. Tracked attribute: each user's event_type; consecutive
    * events with the same type collapse into one version row
    * (island detection via lag-change flag → running-sum version id),
    * versions carry [valid_from_us, valid_to_us) with NULL valid_to on
    * the open (current) version.
    *
    * Scale shape: ONE hash exchange on user_id feeds every step — the
    * lag/running-sum windows, the per-version aggregation, and the
    * valid_to lead all partition by the same key, so Catalyst plans a
    * single Exchange and per-group streaming state (no global sort, no
    * second shuffle; the (user_id, version) groupBy is a prefix-keyed
    * refinement of the same partitioning). Per-group state is O(1).
    * DuckDB D6 note: window/aggregate SUM and COUNT are HUGEINT there —
    * both engines cast version/n_events to BIGINT explicitly.
    */
  private val qEtlScd2 = Q(
    "q_etl_scd2",
    (s, dir) => {
      val wSeq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wVer = Window.partitionBy("user_id").orderBy("version")
      Tables.events(s, dir)
        .select("user_id", "event_id", "ts_us", "event_type")
        .withColumn("chg", expr(
          "CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) " +
            "IS DISTINCT FROM event_type THEN 1 ELSE 0 END"))
        .withColumn("version", sum("chg").over(wSeq).cast("long"))
        .groupBy("user_id", "version", "event_type")
        .agg(min("ts_us").as("valid_from_us"), count(lit(1)).as("n_events"))
        .withColumn("valid_to_us", lead("valid_from_us", 1).over(wVer))
        .withColumn("is_current",
          expr("CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END").cast("long"))
        .select("user_id", "version", "event_type", "valid_from_us",
          "valid_to_us", "n_events", "is_current")
        .orderBy("user_id", "version")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
                  FROM events),
            c AS (SELECT *, CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id)
                    IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
                  FROM e),
            v AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS BIGINT) AS version
                  FROM c),
            g AS (SELECT user_id, version, event_type,
                   MIN(ts_us) AS valid_from_us,
                   CAST(COUNT(*) AS BIGINT) AS n_events
                  FROM v GROUP BY user_id, version, event_type),
            t AS (SELECT *, lead(valid_from_us) OVER (PARTITION BY user_id
                    ORDER BY version) AS valid_to_us
                  FROM g)
            SELECT user_id, version, event_type, valid_from_us, valid_to_us,
                   n_events,
                   CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT)
                     AS is_current
            FROM t ORDER BY user_id, version"""))

  /** Schema evolution across producer generations — the ETL reality every
    * long-lived pipeline hits: an old producer wrote (doc_id, lang), a new
    * one added (source, n_chars). The corpus hash-splits into the two
    * generations, each written as REAL parquet with its own schema
    * (static overwrite under the per-corpus [[Artifacts.path]],
    * single writer like every artifact), then read back through ONE
    * `mergeSchema` scan whose unified schema fills the old
    * generation's missing columns with NULL. Output is the per-column
    * fill-rate audit (n_rows, n_filled) the oracle computes independently
    * from the base table — so what's pinned is the MERGED READ's NULL
    * semantics, not just the writes.
    *
    * Scale shape: two column-pruned writes + one merged scan + a single
    * map-combinable count aggregation (the per-column counts ride one
    * agg row; `stack` unpivots 4 scalars, not data). Schema merging cost
    * is per-FILE footer reconciliation, driver-side metadata only.
    */
  private val qEtlSchemaEvolve = Q(
    "q_etl_schema_evolve",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val base = Artifacts.path(dir, "schema_evolve")
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$base/gen1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/gen2")
      val merged = s.read.option("mergeSchema", "true")
        .parquet(s"$base/gen1", s"$base/gen2")
      merged
        .agg(count(lit(1)).as("n"),
          count("doc_id").as("c_doc_id"), count("lang").as("c_lang"),
          count("n_chars").as("c_n_chars"), count("source").as("c_source"))
        .selectExpr("n AS n_rows",
          "stack(4, 'doc_id', c_doc_id, 'lang', c_lang, " +
            "'n_chars', c_n_chars, 'source', c_source) AS (col_name, n_filled)")
        .select("col_name", "n_rows", "n_filled")
        .orderBy("col_name")
    },
    Some("""WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
             FROM documents)
            SELECT col_name, n AS n_rows, n_filled FROM (
              SELECT 'doc_id' AS col_name, n, n AS n_filled FROM c
              UNION ALL SELECT 'lang', n, n FROM c
              UNION ALL SELECT 'n_chars', n, n_odd FROM c
              UNION ALL SELECT 'source', n, n_odd FROM c) u
            ORDER BY col_name"""))

  /** Calendar-spine gap fill — the dense-time-series contract every
    * downstream aggregation/forecast job assumes ("a row per
    * (series, day), zeros where nothing happened") and Spark has no
    * built-in for. The scale discipline: the BIG side (events) collapses
    * to per-(type, day) partials FIRST (map-combinable), the spine is
    * |types| × |days| — metadata-sized however large the fact table is —
    * built from a broadcast 1-row global [min, max] span, and the
    * LEFT join runs spine-against-partials, never spine-against-facts.
    * Value sums are integerized (floor cents) per D1 so zero-filled and
    * observed rows hash identically cross-engine.
    */
  private val qEtlGapfill = Q(
    "q_etl_gapfill",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("value_cents"))
      val span = ev.agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      val spine = ev.select("event_type").distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("value_cents"), lit(0L)).as("value_cents"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
               FROM events GROUP BY 1, 2),
             span AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
                      FROM events),
             spine AS (SELECT t.event_type, CAST(u.day AS DATE) AS day
                       FROM (SELECT DISTINCT event_type FROM events) t,
                            (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                             FROM span) u)
            SELECT s.event_type, s.day,
              COALESCE(d.n, 0) AS n, COALESCE(d.value_cents, 0) AS value_cents
            FROM spine s LEFT JOIN daily d
              ON s.event_type = d.event_type AND s.day = d.day
            ORDER BY s.event_type, s.day"""))

  /** Snapshot table diff — the data-regression report every pipeline runs
    * between two generations of the same table before promoting one
    * ("what changed since yesterday's build"): rows classified
    * added / removed / changed / unchanged by a keyed FULL OUTER join,
    * folded to one audit row per class (count + id checksum). The two
    * generations are deterministic hash-derivations of events (1-in-13
    * keys absent from the old snapshot = added, 1-in-10 dropped from the
    * new = removed, 1-in-7 values shifted = changed), so the query stays
    * a pure function of the corpus. Values compared in integer cents
    * (D1). Scale shape: ONE equi-join on the primary key (co-bucketed
    * generations make it exchange-free, the q_join_bucket_colocated
    * layout) + a map-combinable 4-group aggregation; output is fixed-size
    * however large the table.
    */
  private val qEtlTableDiff = Q(
    "q_etl_table_diff",
    (s, dir) => {
      val ev = Tables(s, dir, "events").select(col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val a = ev
        .filter(expr(s"pmod(${Llm.md5Hex32Spark("concat('tda_', CAST(event_id AS STRING))")}, 13) != 0"))
        .select(col("event_id").as("id_a"), col("cents").as("cents_a"))
      val b = ev
        .filter(expr(s"pmod(${Llm.md5Hex32Spark("concat('tdd_', CAST(event_id AS STRING))")}, 10) != 0"))
        .select(col("event_id").as("id_b"),
          expr(s"cents + CASE WHEN pmod(${Llm.md5Hex32Spark("concat('tdc_', CAST(event_id AS STRING))")}, 7) = 0 " +
            "THEN 100 ELSE 0 END").as("cents_b"))
      a.join(b, col("id_a") === col("id_b"), "full_outer")
        .select(
          when(col("id_a").isNull, "added")
            .when(col("id_b").isNull, "removed")
            .when(col("cents_a") =!= col("cents_b"), "changed")
            .otherwise("unchanged").as("status"),
          coalesce(col("id_a"), col("id_b")).as("id"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"))
        .orderBy("status")
    },
    Some(s"""WITH ev AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
                         FROM events),
             a AS (SELECT event_id AS id_a, cents AS cents_a FROM ev
                   WHERE ${Llm.md5Hex32Sql("'tda_' || CAST(event_id AS VARCHAR)")} % 13 != 0),
             b AS (SELECT event_id AS id_b,
                     cents + CASE WHEN ${Llm.md5Hex32Sql("'tdc_' || CAST(event_id AS VARCHAR)")} % 7 = 0
                             THEN 100 ELSE 0 END AS cents_b
                   FROM ev
                   WHERE ${Llm.md5Hex32Sql("'tdd_' || CAST(event_id AS VARCHAR)")} % 10 != 0),
             j AS (SELECT CASE WHEN id_a IS NULL THEN 'added'
                               WHEN id_b IS NULL THEN 'removed'
                               WHEN cents_a != cents_b THEN 'changed'
                               ELSE 'unchanged' END AS status,
                     COALESCE(id_a, id_b) AS id
                   FROM a FULL OUTER JOIN b ON id_a = id_b)
            SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(id) AS BIGINT) AS id_sum
            FROM j GROUP BY status ORDER BY status"""))

  /** Z-order data layout — the lakehouse `OPTIMIZE ZORDER BY` job
    * (Delta/Iceberg file clustering) as a declared operator: rewrite
    * orders clustered by the INTERLEAVED bits of two query dimensions
    * (customer, order day) so scans filtering on EITHER dimension prune
    * most files. A single-column sort clusters one dimension and
    * destroys the other; the Z-curve bounds BOTH dimensions' value
    * ranges within each bucket — which is exactly the min/max file-stats
    * pruning contract at 100 TB (each parquet footer's range covers a
    * small slab of both dimensions instead of everything).
    *
    * Spelling (engine-portable, all integer): each dimension min-max
    * scales to 16 bits — x16 = (v − min)·65535 div max(1, max − min) —
    * then z interleaves x even / y odd via one in-row HOF fold, and the
    * bucket is the top 6 z bits (64 fixed z-space cells; NO global sort
    * or window anywhere — the map-only layout job a 100 TB rewrite
    * needs; ntile-by-rank would funnel the corpus through one ranking
    * task). The rows are physically rewritten bucket-partitioned via the
    * shared [[graft.sources.Partitioned]] sink and the declared output
    * is the per-bucket inventory read back FROM THE ARTIFACT (the
    * AnnIndex read-back rule): row count plus min/max of BOTH dimensions
    * — the tight per-bucket ranges ARE the proof the clustering works.
    */
  private val qEtlZorder = Q(
    "q_etl_zorder",
    (s, dir) => {
      // spread: parallelizes the bit-interleave map
      val o = Tables.spread(s, dir, "orders", "o_orderkey")
      val prm = o.agg(
        min("o_custkey").as("minc"), max("o_custkey").as("maxc"),
        min(to_date(col("o_orderdate"))).as("mind"),
        max(to_date(col("o_orderdate"))).as("maxd"))
      val z = o.crossJoin(broadcast(prm))
        .withColumn("day", datediff(to_date(col("o_orderdate")), col("mind")).cast("long"))
        .withColumn("x16", expr(
          "(o_custkey - minc) * 65535L div greatest(1L, maxc - minc)"))
        .withColumn("y16", expr(
          "day * 65535L div greatest(1L, CAST(datediff(maxd, mind) AS BIGINT))"))
        .withColumn("z", expr(
          """aggregate(sequence(0, 15), 0L, (acc, i) ->
               acc + shiftleft(shiftright(x16, i) & 1L, 2 * i)
                   + shiftleft(shiftright(y16, i) & 1L, 2 * i + 1))"""))
        .withColumn("zb", expr("z div 67108864L")) // top 6 of 32 z bits
        .select(col("zb"), col("o_orderkey"), col("o_custkey"), col("day"))
      val path = Artifacts.path(dir, "zorder")
      // each zb lands wholly in one task: one file per zb directory
      graft.sources.Partitioned.writeStatic(
        z.repartition(col("zb")), path, 1 << 18, "zb")
      s.read.schema(z.schema).parquet(path)
        .groupBy("zb")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
          min("day").as("min_day"), max("day").as("max_day"))
        .orderBy("zb")
    },
    Some("""WITH prm AS (SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
                    MIN(CAST(o_orderdate AS DATE)) AS mind,
                    MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
            zr AS (SELECT o_orderkey, o_custkey,
                     CAST(date_diff('day', mind, CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                     (o_custkey - minc) * 65535 // GREATEST(1, maxc - minc) AS x16,
                     CAST(date_diff('day', mind, CAST(o_orderdate AS DATE)) AS BIGINT) * 65535
                       // GREATEST(1, CAST(date_diff('day', mind, maxd) AS BIGINT)) AS y16
                   FROM orders CROSS JOIN prm),
            zz AS (SELECT o_orderkey, o_custkey, day,
                     list_sum(list_transform(range(16), i ->
                       (((x16 >> i) & 1) << (2 * i)) + (((y16 >> i) & 1) << (2 * i + 1)))) AS z
                   FROM zr)
            SELECT CAST(z // 67108864 AS BIGINT) AS zb, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
                   CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
                   CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
                   CAST(MIN(day) AS BIGINT) AS min_day,
                   CAST(MAX(day) AS BIGINT) AS max_day
            FROM zz GROUP BY 1 ORDER BY zb"""))

  /** k-anonymity suppression (Sweeney 2002) — the privacy gate a dataset
    * passes before publication or training-set release, and the
    * aggregate cousin of `q_etl_redact`'s value-level masking: any
    * quasi-identifier cell (nation × market segment × $1k balance
    * bucket) with fewer than K=6 members is suppressed — its members
    * fold into one masked `*` residual row — because releasing a small
    * cell's aggregate re-identifies its members by intersection.
    * Released cells keep their keys and census (count + summed balance
    * in integer cents); the residual row reports how many groups and
    * rows suppression cost (the utility-loss metric a privacy review
    * asks for). Key columns go out as strings so the masked row unions
    * type-clean — the masking is IN the schema, not a NULL convention.
    *
    * Cost: one map-combinable aggregation over the corpus, a
    * cell-count-sized filter/union, and the presentation sort — the
    * suppression decision never touches row-level data again, so the
    * shape is the `q_agg_q1` family's at any scale.
    */
  /** Truth probability for the randomized-response report, in micro. */
  private val LdpPMicro = 750000L

  /** LOCAL-DIFFERENTIAL-PRIVACY census — randomized response (Warner,
    * JASA 1965; the mechanism RAPPOR industrialized, Erlingsson et al.
    * CCS'14): each event reports its type truthfully with p = 3/4, else
    * a uniform draw from the k-type universe, and the collector DEBIASES
    * the noisy census: E[obs] = p·true + (1−p)·n/k ⇒ est = (4k·obs − n)
    * div (3k) exactly for p = 3/4 — one integer expression, no float.
    * Declared as an AUDIT next to `q_etl_kanon`'s suppression: the
    * output carries the true census beside the unbiased estimate so the
    * row IS the utility/privacy report (estimator error in bp). Both
    * coin flips are salted hashes of event_id (`ldp_`/`ldpr_`
    * independent salts, no rand() — re-runs agree; a per-event noise
    * draw is exactly what LDP permits the collector to see).
    *
    * Scale shape: one scan → map-only flip + report (universe array is
    * a 1-row broadcast) → TWO map-combinable censuses (true, observed)
    * joined on the ≤ k-row type frame. Nothing after the censuses
    * scales; the debias is per-row arithmetic on k rows.
    */
  private val qEtlLdp = Q(
    "q_etl_ldp",
    (s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "event_type")
      val uni = e.agg(sort_array(collect_set("event_type")).as("u"))
      val rep = e.crossJoin(broadcast(uni))
        .withColumn("reported", expr(
          s"""CASE WHEN pmod(${Llm.md5Hex32Spark("concat('ldp_', CAST(event_id AS STRING))")}, 1000000L) < $LdpPMicro
               THEN event_type
               ELSE element_at(u, CAST(pmod(${Llm.md5Hex32Spark("concat('ldpr_', CAST(event_id AS STRING))")}, size(u)) AS INT) + 1)
             END"""))
      val obs = rep.groupBy(col("reported").as("event_type"))
        .agg(count(lit(1)).as("obs_n"))
      val tru = e.groupBy("event_type").agg(count(lit(1)).as("true_n"))
      val tot = e.agg(count(lit(1)).as("n"), countDistinct("event_type").as("k"))
      tru.join(obs, "event_type").crossJoin(broadcast(tot))
        .withColumn("est_n", expr("(4L * k * obs_n - n) div (3L * k)"))
        .select(col("event_type"), col("true_n"), col("obs_n"), col("est_n"),
          expr("abs(est_n - true_n) * 10000L div true_n").as("err_bp"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_id, event_type FROM events),
            uni AS (SELECT list(DISTINCT event_type ORDER BY event_type) AS u FROM e),
            rep AS (SELECT CASE WHEN (${Llm.md5Hex32Sql("'ldp_' || CAST(event_id AS VARCHAR)")}) % 1000000 < $LdpPMicro
                     THEN event_type
                     ELSE u[CAST((${Llm.md5Hex32Sql("'ldpr_' || CAST(event_id AS VARCHAR)")}) % len(u) AS INT) + 1]
                    END AS reported
                   FROM e CROSS JOIN uni),
            obs AS (SELECT reported AS event_type, CAST(COUNT(*) AS BIGINT) AS obs_n
                    FROM rep GROUP BY reported),
            tru AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_n
                    FROM e GROUP BY event_type),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM e)
            SELECT event_type, true_n, obs_n,
             CAST((4 * k * obs_n - n) // (3 * k) AS BIGINT) AS est_n,
             CAST(abs((4 * k * obs_n - n) // (3 * k) - true_n) * 10000 // true_n AS BIGINT) AS err_bp
            FROM tru JOIN obs USING (event_type) CROSS JOIN tot
            ORDER BY event_type"""))

  private val qEtlKanon = Q(
    "q_etl_kanon",
    (s, dir) => {
      val g = Tables(s, dir, "customer")
        .groupBy(
          col("c_nationkey").cast("string").as("nk"),
          col("c_mktsegment").as("seg"),
          expr("CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS STRING)").as("bal_kb"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
      val released = g.filter(col("n_rows") >= 6)
        .select(col("nk"), col("seg"), col("bal_kb"),
          col("n_rows"), col("bal_cents"), lit(1L).as("n_groups"))
      val residual = g.filter(col("n_rows") < 6)
        .agg(sum("n_rows").as("n_rows"), sum("bal_cents").as("bal_cents"),
          count(lit(1)).as("n_groups"))
        .select(lit("*").as("nk"), lit("*").as("seg"), lit("*").as("bal_kb"),
          col("n_rows"), col("bal_cents"), col("n_groups"))
      released.unionByName(residual)
        .orderBy(col("n_rows").desc, col("nk"), col("seg"), col("bal_kb"))
    },
    Some("""WITH g AS (SELECT CAST(c_nationkey AS VARCHAR) AS nk,
                         c_mktsegment AS seg,
                         CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR) AS bal_kb,
                         CAST(COUNT(*) AS BIGINT) AS n_rows,
                         CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
                       FROM customer GROUP BY 1, 2, 3)
            SELECT nk, seg, bal_kb, n_rows, bal_cents, CAST(1 AS BIGINT) AS n_groups
            FROM g WHERE n_rows >= 6
            UNION ALL
            SELECT '*', '*', '*', CAST(SUM(n_rows) AS BIGINT),
              CAST(SUM(bal_cents) AS BIGINT), CAST(COUNT(*) AS BIGINT)
            FROM g WHERE n_rows < 6
            ORDER BY n_rows DESC, nk, seg, bal_kb"""))

  /** CDC APPLY — collapse an ordered insert/update/delete change log to
    * final table state (r11; the Debezium/Delta `MERGE`-from-changelog
    * verb, the lakehouse ingestion step between [[qEtlMerge]]'s two-sided
    * upsert and [[qEtlScd2]]'s full history). The log is synthesized
    * deterministically from orders — every key INSERTs at version 1, a
    * 30% md5 cohort (salt `cdcu_`) UPDATEs at version 2 with +11.11
    * price drift, a 10% cohort (salt `cdcd_`) DELETEs at version 3 — and
    * the apply is a pure LAST-WRITER-WINS election per key on version
    * order: one struct-extremum per key (the `q_agg_mode` rule), with
    * tombstones erased AFTER the election (a delete must beat an earlier
    * update, which a filter-before-election would get wrong). The
    * declared result audits the apply per order status: live/deleted/
    * update-won counts and the exact live cents sum proving WHICH
    * version each surviving row carries.
    *
    * Scale shape: map-only 3-arm union off ONE scan (no dimension join;
    * each arm is a filtered projection), one hash-agg election keyed by
    * order key — the `q_stream_dedup` ingestion shape — then a ≤|status|
    * rollup. At 100 TB the election shuffle carries only (key, version,
    * op, cents) skinny rows, ~1.4 rows per key.
    */
  private val qEtlCdcApply = Q(
    "q_etl_cdc_apply",
    (s, dir) => {
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr(s"""${Llm.md5U01Spark("concat('cdcu_', CAST(o_orderkey AS STRING))")}
                   < 0.30D""").as("has_u"),
          expr(s"""${Llm.md5U01Spark("concat('cdcd_', CAST(o_orderkey AS STRING))")}
                   < 0.10D""").as("has_d"))
      val ins = base.select(col("k"), col("status"), lit(1L).as("ver"),
        lit("I").as("op"), col("cents"))
      val upd = base.filter(col("has_u")).select(col("k"), col("status"),
        lit(2L).as("ver"), lit("U").as("op"),
        expr("cents + 1111L").as("cents"))
      val del = base.filter(col("has_d")).select(col("k"), col("status"),
        lit(3L).as("ver"), lit("D").as("op"),
        lit(null).cast("long").as("cents"))
      ins.unionByName(upd).unionByName(del)
        .groupBy("k", "status")
        .agg(max(struct(col("ver"), col("op"), col("cents"))).as("f"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_keys"),
          sum(expr("CAST(f.op <> 'D' AS BIGINT)")).as("n_live"),
          sum(expr("CAST(f.op = 'D' AS BIGINT)")).as("n_deleted"),
          sum(expr("CAST(f.op = 'U' AS BIGINT)")).as("n_update_won"),
          sum(expr("CASE WHEN f.op <> 'D' THEN f.cents ELSE 0L END"))
            .as("live_cents"))
        .orderBy("status")
    },
    Some(s"""WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                    ${Llm.md5U01Sql("'cdcu_' || CAST(o_orderkey AS VARCHAR)")}
                      < 0.30 AS has_u,
                    ${Llm.md5U01Sql("'cdcd_' || CAST(o_orderkey AS VARCHAR)")}
                      < 0.10 AS has_d
                   FROM orders),
             log AS (SELECT k, status, 1 AS ver, 'I' AS op, cents FROM base
                     UNION ALL
                     SELECT k, status, 2, 'U', cents + 1111 FROM base WHERE has_u
                     UNION ALL
                     SELECT k, status, 3, 'D', NULL FROM base WHERE has_d),
             fin AS (SELECT k, status,
                      arg_max(op, ver) AS op, arg_max(cents, ver) AS cents
                     FROM log GROUP BY k, status)
             SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
              CAST(SUM(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
              CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
              CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_update_won,
              CAST(SUM(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT) AS live_cents
             FROM fin GROUP BY status ORDER BY status"""))
             // oracle spelling note (r12): the former
             // MAX(struct_pack(ver, op, cents)) election ballooned DuckDB
             // 1.0.0 past 100 GB at sf1.0 (struct-MAX aggregate states
             // with a nullable member ignore memory_limit — OOM-killed
             // the sweep twice); arg_max by ver is ELECTION-IDENTICAL
             // because ver is unique per (k, status) — I=1 < U=2 < D=3 —
             // so max-struct ordering IS max-ver. arg_max skips NULL
             // args (a delete's cents), but a 'D'-winning key's cents is
             // masked to 0 in every consumer and op itself is never
             // NULL, so the declared output is provably unchanged (the
             // Spark side keeps max(struct(...)): no pathology there).

  val all: Seq[Q] = Seq(
    qEtlDecodeParse, qEtlRoute, qEtlBatchAssign, qEtlDlq, qEtlEnvelope,
    qEtlCompact, qEtlManifest, qEtlRedact, qEtlDqAudit, qEtlMerge, qEtlScd2,
    qEtlSchemaEvolve, qEtlGapfill, qEtlTableDiff, qEtlZorder, qEtlKanon, qEtlLdp,
    qEtlCdcApply,
    qStreamTumbling, qStreamSliding, qStreamSession, qStreamSessionTyped,
    qStreamLateDrop, qStreamDedup, qStreamJoin)
}
