package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.5 — window functions (q_win_lag_lead lives in Relational as a
  * canary). Window orderings always carry a unique tie-break key (D1).
  */
object Windows {

  private val qWinRank = Q(
    "q_win_rank",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
            CAST(rank() OVER w AS BIGINT) AS rnk,
            CAST(dense_rank() OVER w AS BIGINT) AS drnk,
            CAST(row_number() OVER w AS BIGINT) AS rn
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
            ORDER BY o_custkey, rn"""))

  private val qWinRunning = Q(
    "q_win_running",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("od"),
          round(sum("o_totalprice").over(w), 4).as("running"))
        .orderBy("o_custkey", "od", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
            ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
            FROM orders ORDER BY o_custkey, od, o_orderkey"""))

  private val qWinRangeFrame = Q(
    "q_win_range_frame",
    (s, dir) => {
      // 7-day trailing sum via numeric RANGE over BIGINT epoch seconds —
      // portable across engines (D4), and the scalable formulation (one
      // shuffle on user_id, no self-join).
      val w = Window.partitionBy("user_id").orderBy("ts_s")
        .rangeBetween(-604800L, 0L)
      Tables.events(s, dir)
        .withColumn("ts_s", expr("ts_us DIV 1000000"))
        .select(
          col("event_id"), col("user_id"), col("ts_s"),
          round(sum("value").over(w), 4).as("trail_7d"))
        .orderBy("user_id", "ts_s", "event_id")
    },
    Some("""SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ts_s,
            ROUND(SUM(value) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts) // 1000000
              RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 4) AS trail_7d
            FROM events ORDER BY user_id, ts_s, event_id"""))

  private val qWinNtilePct = Q(
    "q_win_ntile_pct",
    (s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables(s, dir, "customer")
        .select(
          col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("tile"),
          expr("floor(percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) * 10000) / 10000").as("pct_rank"),
          expr("floor(cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) * 10000) / 10000").as("cdist"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
            CAST(ntile(4) OVER w AS BIGINT) AS tile,
            FLOOR(percent_rank() OVER w * 10000) / 10000 AS pct_rank,
            FLOOR(cume_dist() OVER w * 10000) / 10000 AS cdist
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
            ORDER BY c_custkey"""))

  private val qWinFirstLast = Q(
    "q_win_first_last",
    (s, dir) => {
      // NOTE: l_linenumber is NOT unique within l_orderkey in this data —
      // tie-break the window order by l_partkey so first/last values are
      // deterministic (D1).
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          first("l_partkey").over(w).as("first_part"),
          last("l_partkey").over(w).as("last_part"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            first_value(l_partkey) OVER w AS first_part,
            last_value(l_partkey) OVER w AS last_part
            FROM lineitem
            WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY l_orderkey, l_linenumber"""))

  /** nth_value analytic — "the customer's second-best order alongside every
    * row" (runner-up lookups without a self-join). Needs the full-frame
    * spec: with the default frame nth_value is running (NULL until row n
    * arrives), identical in both engines but rarely what's wanted.
    */
  private val qWinNthValue = Q(
    "q_win_nth_value",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_best_order"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_best_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
            nth_value(o_orderkey, 2) OVER w AS second_best_order,
            nth_value(o_totalprice, 2) OVER w AS second_best_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_custkey, o_orderkey"""))

  /** Keep-latest-per-key compaction: one row per user_id — the most recent
    * event (ts desc, event_id desc tie-break). The CDC-snapshot / "current
    * state" primitive of a training-data pipeline: one shuffle on the key,
    * per-group state is a single running winner, no global sort. At 100 TB
    * this is the formulation that replaces "ORDER BY ts DESC then dedup"
    * (which would need a global sort).
    */
  private val qWinDedupLatest = Q(
    "q_win_dedup_latest",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy("user_id")
    },
    Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id"""))

  /** Session gap: 30 minutes of inactivity closes a session (matches the
    * streaming sessionizer's rule).
    */
  private val SessGapUs = 30L * 60L * 1000000L

  /** Batch gap-rule sessionization with ROW-LEVEL session ids — the
    * lag → new-session flag → running-sum idiom. Unlike the
    * `session_window` aggregate (q_stream_session batch-mode), this
    * assigns each event a (user, session-ordinal) key that downstream
    * joins can use, which is what attribution and funnel pipelines
    * actually need. All-integer arithmetic (epoch-µs gaps), so the
    * result is engine-exact.
    *
    * Scale shape: one exchange total — the lag and running-sum windows
    * and the final (user_id, sess_seq) aggregation all share the
    * user_id partitioning (the grouping key's prefix is the window
    * key, the q_etl_compact pattern), and per-user state is one sort
    * of that user's events.
    */
  private val qWinSessionize = Q(
    "q_win_sessionize",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("prev", lag("ts_us", 1).over(w))
        .withColumn("new_s", expr(
          s"CASE WHEN prev IS NULL OR ts_us - prev >= $SessGapUs THEN 1 ELSE 0 END"))
        .withColumn("sess_seq",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .groupBy("user_id", "sess_seq")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"))
        .orderBy("user_id", "sess_seq")
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
             l AS (SELECT *, lag(ts_us) OVER w AS prev FROM e
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             f AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev >= $SessGapUs
                              THEN 1 ELSE 0 END AS new_s FROM l),
             sx AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS sess_seq FROM f)
             SELECT user_id, sess_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
              MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
             FROM sx GROUP BY user_id, sess_seq
             ORDER BY user_id, sess_seq"""))

  /** Sweep-line interval concurrency — the scale-correct ANSWER to
    * "how many intervals are open at once" that q_join_interval_overlap's
    * pair join deliberately is not: every transit interval
    * [shipdate, shipdate + 3..9 days] contributes a +1 boundary at its
    * start day and a −1 at end+1, boundaries are pre-aggregated per
    * (supplier, day) (map-combinable — the window input shrinks to
    * distinct active days), and one running sum per supplier ordered by
    * day IS the end-of-day concurrency curve. Peak concurrency and its
    * first day then fall out of a per-partition max. Cost: one shuffle
    * on supplier + one sorted window — linear in boundaries, NO pair
    * space at all, which is why a 100 TB history with million-pair
    * overlap cardinality still sweeps in one pass. Day-granular framing
    * (deltas keyed to whole days, running sum over the pre-aggregated
    * per-day deltas) also makes the curve tie-free: within a day there
    * is no boundary order to disagree on, so the result is
    * engine-exact (D1). Output: per-supplier peak + first peak day,
    * all-integer.
    */
  private val qWinIntervalSweep = Q(
    "q_win_interval_sweep",
    (s, dir) => {
      val t = Tables(s, dir, "lineitem").select(
        col("l_suppkey").as("supp"),
        datediff(col("l_shipdate"), lit("1990-01-01")).as("sd"),
        (datediff(col("l_shipdate"), lit("1990-01-01"))
          + col("l_linenumber") % 7 + 3).as("ed"))
      val deltas = t.select(col("supp"), col("sd").as("day"), lit(1).as("delta"))
        .unionByName(t.select(col("supp"), (col("ed") + 1).as("day"), lit(-1).as("delta")))
        .groupBy("supp", "day").agg(sum("delta").as("delta"))
      val wRun = Window.partitionBy("supp").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("conc", sum("delta").over(wRun))
        .withColumn("peak", max("conc").over(Window.partitionBy("supp")))
        .filter(col("conc") === col("peak"))
        .groupBy("supp")
        .agg(max("conc").as("peak"), min("day").cast("long").as("peak_day"))
        .orderBy("supp")
    },
    Some("""WITH t AS (SELECT l_suppkey AS supp,
                 date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS sd,
                 date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE))
                   + l_linenumber % 7 + 3 AS ed
               FROM lineitem),
             d AS (SELECT supp, day, CAST(SUM(delta) AS BIGINT) AS delta FROM (
                     SELECT supp, sd AS day, 1 AS delta FROM t
                     UNION ALL SELECT supp, ed + 1 AS day, -1 AS delta FROM t) u
                   GROUP BY supp, day),
             c AS (SELECT supp, day, CAST(SUM(delta) OVER (PARTITION BY supp
                     ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
                   FROM d),
             p AS (SELECT supp, day, conc,
                     MAX(conc) OVER (PARTITION BY supp) AS peak FROM c)
            SELECT supp, CAST(MAX(conc) AS BIGINT) AS peak,
              CAST(MIN(day) AS BIGINT) AS peak_day
            FROM p WHERE conc = peak GROUP BY supp ORDER BY supp"""))

  /** Distribution-position analytics (`cume_dist`/`percent_rank`) in
    * INTEGER basis points — the built-ins return doubles, which cannot
    * cross-engine hash-match (D1), so the op computes the same quantities
    * from their defining integer counts: cume_bp = ⌊10⁴ · |rows ≤ v| / n⌋
    * via a RANGE-framed count (ties included, order-independent), and
    * prank_bp = ⌊10⁴ · (rank−1) / (n−1)⌋. rank is cast long BEFORE the
    * ×10⁴ — at warehouse scale a partition outgrows Int×10⁴ long before
    * it outgrows BIGINT. One shuffle on the partition key serves all
    * three windows (Catalyst collapses same-partition windows into one
    * sort); output is row-per-order, keyed unique by o_orderkey.
    */
  private val qWinCumeDist = Q(
    "q_win_cume_dist",
    (s, dir) => {
      val wN = Window.partitionBy("o_orderpriority")
      val wLe = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wRk = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      Tables(s, dir, "orders")
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("cle", count(lit(1)).over(wLe))
        .withColumn("rk", rank().over(wRk).cast("long"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          expr("cle * 10000 div n").as("cume_bp"),
          expr("(rk - 1) * 10000 div (n - 1)").as("prank_bp"))
        .orderBy("o_orderkey")
    },
    Some("""WITH x AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n,
               COUNT(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                 RANGE UNBOUNDED PRECEDING) AS cle,
               rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rk
             FROM orders)
            SELECT o_orderkey, o_orderpriority, o_totalprice,
              CAST(cle * 10000 // n AS BIGINT) AS cume_bp,
              CAST((rk - 1) * 10000 // (n - 1) AS BIGINT) AS prank_bp
            FROM x ORDER BY o_orderkey"""))

  /** Ordered event-sequence pattern matching (MATCH_RECOGNIZE-lite): for
    * every `view`, the FIRST `click` strictly after it, then the FIRST
    * `purchase` strictly after that click — a chain completes when the
    * whole view→click→purchase traversal fits in 3 days. This is the
    * attribution/funnel-path primitive `q_agg_funnel` (stage-reach
    * counts) can't express: funnel asks "did the user ever reach stage
    * k", pattern asks "how many ORDERED traversals happened and how
    * long did each take".
    *
    * The spelling is two forward-looking window minima (`min(CASE …)
    * OVER (… ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)`) plus
    * ONE (user_id, ts) equi-join stitching the view's next-click to
    * that click's next-purchase — no per-row subqueries, no self-join
    * over the raw event table on an inequality. Both windows share one
    * hash exchange on user_id (prefix-keyed, single shuffle); the
    * stitch join is user+ts keyed, so it shuffles the two skinny
    * derived frames, never fans out. Strictly-after is defined by the
    * total row order (ts_us, event_id) — the D1 tie-break — and clicks
    * tied on (user_id, ts_us) collapse to their earliest
    * next-purchase (MIN), keeping the contract deterministic in both
    * engines. Per-user top-20 by completed chains; latency sum in
    * integer µs (D6).
    */
  private val qWinPattern = Q(
    "q_win_pattern",
    (s, dir) => {
      val wFwd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      val w = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        .withColumn("next_click_ts",
          min(when(col("event_type") === "click", col("ts_us"))).over(wFwd))
        .withColumn("next_purchase_ts",
          min(when(col("event_type") === "purchase", col("ts_us"))).over(wFwd))
      val clicks = w.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu"), col("ts_us").as("click_ts"))
        .agg(min("next_purchase_ts").as("purch_ts"))
      w.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us").as("view_ts"), col("next_click_ts"))
        .join(clicks,
          col("user_id") === col("cu") &&
            col("next_click_ts") === col("click_ts"))
        .withColumn("done",
          col("purch_ts").isNotNull &&
            col("purch_ts") - col("view_ts") <= 259200000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_views"),
          sum(when(col("done"), 1L).otherwise(0L)).as("n_chains"),
          sum(when(col("done"), col("purch_ts") - col("view_ts"))
            .otherwise(0L)).as("latency_us"))
        .orderBy(col("n_chains").desc, col("user_id"))
        .limit(20)
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
            w AS (SELECT user_id, event_type, ts_us, event_id,
                    MIN(CASE WHEN event_type = 'click' THEN ts_us END) OVER
                      (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_ts,
                    MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER
                      (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
                  FROM e),
            clicks AS (SELECT user_id, ts_us AS click_ts, MIN(next_purchase_ts) AS purch_ts
                       FROM w WHERE event_type = 'click' GROUP BY user_id, ts_us),
            chains AS (SELECT v.user_id, v.ts_us AS view_ts, c.purch_ts
                       FROM w v JOIN clicks c
                         ON v.user_id = c.user_id AND v.next_click_ts = c.click_ts
                       WHERE v.event_type = 'view')
            SELECT user_id,
              CAST(COUNT(*) AS BIGINT) AS n_views,
              CAST(SUM(CASE WHEN purch_ts IS NOT NULL AND purch_ts - view_ts <= 259200000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_chains,
              CAST(SUM(CASE WHEN purch_ts IS NOT NULL AND purch_ts - view_ts <= 259200000000 THEN purch_ts - view_ts ELSE 0 END) AS BIGINT) AS latency_us
            FROM chains GROUP BY user_id ORDER BY n_chains DESC, user_id LIMIT 20"""))

  /** Gaps-and-islands streak detection — the CALENDAR-island counterpart
    * of `q_win_sessionize`'s time-gap sessions (classic retention/
    * engagement metric: longest run of CONSECUTIVE ACTIVE DAYS per
    * user): distinct (user, day) → island id = day − row_number() over
    * the user's day sequence (consecutive days share the constant — the
    * textbook islands trick; days are distinct so row_number is
    * unambiguous), streak = island size, best streak per user elected
    * by max(struct(len, −start)) — longest wins, ties to the EARLIEST
    * streak, deterministic inside one map-combinable agg (the
    * `q_agg_ohlc` struct-extremum discipline, no second window).
    *
    * Scale shape: corpus collapses immediately to distinct user-days
    * (map-combinable — at 100 TB the frame after this is
    * users×calendar-bounded, never event-bounded); ONE user-keyed
    * window pass; two further skinny integer aggs; top-20 via
    * TakeOrderedAndProject.
    */
  /** Best-streak election from a DISTINCT (user_id, day) frame — the
    * islands core of [[qWinStreak]], factored so EtlScaleSpec can
    * property-test it against a brute-force reference on random day
    * sets.
    */
  private[graft] def streakFrom(days: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("start_day"))
      .groupBy("user_id")
      .agg(expr("max(named_struct('len', len, 'neg', -start_day))").as("b"),
        count(lit(1)).as("n_streaks"))
      .select(col("user_id"), col("b.len").as("best_len"),
        (-col("b.neg")).as("best_start"), col("n_streaks"))
  }

  private val qWinStreak = Q(
    "q_win_streak",
    (s, dir) => {
      streakFrom(Tables.events(s, dir)
          .select(col("user_id"), expr("ts_us DIV 86400000000").as("day"))
          .distinct())
        .orderBy(col("best_len").desc, col("user_id"))
        .limit(20)
    },
    Some("""WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
                  FROM events),
            i AS (SELECT user_id, day,
                    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
                  FROM d),
            st AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
                     MIN(day) AS start_day
                   FROM i GROUP BY user_id, grp),
            b AS (SELECT user_id,
                    MAX(struct_pack(len := len, neg := -start_day)) AS b,
                    CAST(COUNT(*) AS BIGINT) AS n_streaks
                  FROM st GROUP BY user_id)
            SELECT user_id, b.len AS best_len, -b.neg AS best_start, n_streaks
            FROM b ORDER BY best_len DESC, user_id LIMIT 20"""))

  /** Event-transition matrix — the Markov-chain census behind
    * next-action features and journey analytics (`q_win_pattern` finds
    * specific chains; this measures ALL adjacent transitions): per user,
    * each event paired with its successor under the (ts_us, event_id)
    * total order (D1 — ties can't flip direction), counted into the
    * |types|² from→to matrix with per-from row totals and share in
    * basis points. Self-transitions included (the diagonal is the
    * burstiness signal).
    *
    * Scale shape: ONE user-keyed window pass (`lead` over the same
    * exchange `q_win_lag_lead` uses) immediately collapsed by a
    * map-combinable count — the matrix is |types|²-sized whatever the
    * corpus; the row-total join is a ≤ |types|-row broadcast.
    */
  private val qWinTransitions = Q(
    "q_win_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = tr.groupBy("from_type").agg(sum("n").as("row_total"))
      tr.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("n * 10000L div row_total").as("share_bp"))
        .orderBy("from_type", "to_type")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
                  FROM events),
            t AS (SELECT event_type AS from_type,
                    LEAD(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) AS to_type
                  FROM e),
            tr AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
                   FROM t WHERE to_type IS NOT NULL
                   GROUP BY from_type, to_type),
            tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
                    FROM tr GROUP BY from_type)
            SELECT tr.from_type, tr.to_type, tr.n,
                   tr.n * 10000 // tot.row_total AS share_bp
            FROM tr JOIN tot ON tr.from_type = tot.from_type
            ORDER BY tr.from_type, tr.to_type"""))

  /** CUSUM drift detection over daily ingest volume — Page's cumulative-
    * sum chart (Page, Biometrika 1954), the sequential change detector
    * ops monitoring runs where `q_agg_anomaly`'s trailing-median compare
    * only sees single-day spikes: CUSUM accumulates SMALL persistent
    * shifts until they cross a decision threshold. The textbook
    * recursion Sₜ = max(0, Sₜ₋₁ + (xₜ − μ − k)) is not a window
    * function, but its closed form IS one: Sₜ = Pₜ − min(0, min_{i≤t}
    * Pᵢ) over the deviation prefix sums Pₜ — so the whole detector is
    * ONE ordered window (two expressions, one WindowExec) over the
    * calendar-bounded daily frame (the `q_agg_anomaly` exemption class;
    * the recursion↔window equality is re-proven row-for-row by a fold
    * in InvariantsSpec). D1: μ in milli-events/day via one 1-row
    * broadcast, slack k = μ/20 (the standard half-shift allowance),
    * alarm threshold h = μ (one mean day's worth of accumulated
    * excess); all divisions integer.
    *
    * Scale shape: corpus-sized work is ONE map-combinable per-day count;
    * everything after lives on the ≤ |days| calendar frame.
    */
  private val qWinCusum = Q(
    "q_win_cusum",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val mu = daily.agg(expr("sum(cnt) * 1000L div count(1)").as("mu_milli"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(mu))
        .withColumn("dev_milli", expr("cnt * 1000L - mu_milli - mu_milli div 20L"))
        .withColumn("p", sum("dev_milli").over(w))
        .withColumn("pmin", min("p").over(w))
        .select(col("day"), col("cnt"), col("dev_milli"),
          expr("p - least(0L, pmin)").as("cusum_milli"),
          expr("CAST(p - least(0L, pmin) >= mu_milli AS BIGINT)").as("alarm"))
        .orderBy("day")
    },
    Some("""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events GROUP BY 1),
            mu AS (SELECT CAST(SUM(cnt) * 1000 // COUNT(*) AS BIGINT) AS mu_milli FROM d),
            v AS (SELECT day, cnt, mu_milli,
                   cnt * 1000 - mu_milli - mu_milli // 20 AS dev_milli
                  FROM d CROSS JOIN mu),
            p1 AS (SELECT *,
                    SUM(dev_milli) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
                   FROM v),
            p2 AS (SELECT *,
                    MIN(p) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
                   FROM p1)
            SELECT day, cnt, CAST(dev_milli AS BIGINT) AS dev_milli,
             CAST(p - least(0, pmin) AS BIGINT) AS cusum_milli,
             CAST(p - least(0, pmin) >= mu_milli AS BIGINT) AS alarm
            FROM p2 ORDER BY day"""))

  /** MAXIMUM DRAWDOWN per user over the event-value series (r13 —
    * Magdon-Ismail & Atiya 2004: max over i of (running-peak − xᵢ), the
    * largest peak-to-trough drop — the risk/regression statistic read
    * next to [[qWinCusum]]'s mean-shift alarm and [[qWinStreak]]'s run
    * census: CUSUM says "the level shifted", drawdown says "how far
    * below its own best this series has ever fallen", the number a
    * quality/engagement dashboard tracks per account. D1: values in
    * exact integer cents (the `q_agg_winsorize` rule), order pinned by
    * (ts_us, event_id) — the running MAX and the final extrema are
    * integer and order-independent given that pinned sequence. Output:
    * top-20 users by (max_dd, user_id) with event count and peak —
    * all-integer, deterministic tie-break.
    *
    * Scale shape: ONE corpus-sized window, partitioned by user over the
    * skinny (user, ts, cents) projection — per-key sequential state
    * with no cross-partition dependence, the shape that scales by
    * adding partitions (hot single users are bounded by per-user event
    * counts, the `q_agg_activity_dist` census's subject) — then a
    * map-combinable per-user extrema agg and a TakeOrdered(20).
    */
  private val qWinDrawdown = Q(
    "q_win_drawdown",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("peak", max("cents").over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max("cents").as("max_value_cents"),
          max(expr("peak - cents")).as("max_dd_cents"))
        .orderBy(col("max_dd_cents").desc, col("user_id"))
        .limit(20)
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                  CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
            r AS (SELECT user_id, cents,
                   MAX(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
                  FROM ev)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(cents) AS BIGINT) AS max_value_cents,
             CAST(MAX(peak - cents) AS BIGINT) AS max_dd_cents
            FROM r GROUP BY user_id
            ORDER BY max_dd_cents DESC, user_id LIMIT 20"""))

  /** HOLT double-exponential smoothing over the daily order count — the
    * level+trend forecaster every capacity dashboard runs next to its
    * CUSUM alarm ([[qWinCusum]] detects a shift; Holt projects it
    * forward — Holt 1957 / Hyndman & Athanasopoulos, "Forecasting:
    * Principles and Practice" §8.2): l_t = αy_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, one-step forecast
    * f_t = l_{t−1}+b_{t−1}; α = 0.3, β = 0.1 as the rational constants
    * 3/10 and 1/10 so the whole recursion is sequential INTEGER
    * arithmetic in micro-units (D1: a float recursion would not
    * hash-match; `DIV`/`//` truncate identically in both engines, which
    * matters here because the trend goes negative). Flat init
    * l_1 = y_1·10⁶, b_1 = 0.
    *
    * Scale shape: the only corpus-sized work is the map-combinable
    * daily census; the recursion lives on the ≤ |days| calendar frame
    * collected into ONE array row and folded per prefix — the
    * [[Aggregates]] Kaplan–Meier pattern (its oracle twin is likewise a
    * RECURSIVE CTE over the same day-indexed rows). No window, no join
    * beyond the 1-row array.
    */
  private val qWinHolt = Q(
    "q_win_holt",
    (s, dir) => {
      val arr = Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("d"))
        .agg(count(lit(1)).as("y"))
        .agg(sort_array(collect_list(struct(col("d"), col("y")))).as("a"))
      // state after k elements, folding elements 2..k from (y₁·10⁶, 0);
      // the state carries f = the one-step forecast MADE FOR its last
      // element (f₁ := y₁·10⁶), so each output row needs ONE fold
      val fold =
        """aggregate(slice(a, 2, i),
             named_struct('l', element_at(a, 1).y * 1000000L, 'b', 0L,
                          'f', element_at(a, 1).y * 1000000L),
             (acc, x) -> named_struct(
               'l', (3L * x.y * 1000000L + 7L * (acc.l + acc.b)) DIV 10L,
               'b', (((3L * x.y * 1000000L + 7L * (acc.l + acc.b)) DIV 10L)
                       - acc.l + 9L * acc.b) DIV 10L,
               'f', acc.l + acc.b))"""
      arr.select(posexplode(col("a")).as(Seq("i", "x")), col("a"))
        .withColumn("st", expr(fold))
        .select(col("x.d").as("d"), col("x.y").as("y"),
          col("st.f").as("fcst_micro"),
          col("st.l").as("level_micro"),
          col("st.b").as("trend_micro"))
        .orderBy("d")
    },
    Some("""WITH RECURSIVE dd AS (SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS y FROM orders GROUP BY 1),
            r AS (SELECT d, y,
                   CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i FROM dd),
            h(i, l, b, f) AS (
              SELECT CAST(1 AS BIGINT),
                     (SELECT y FROM r WHERE i = 1) * 1000000,
                     CAST(0 AS BIGINT),
                     (SELECT y FROM r WHERE i = 1) * 1000000
              UNION ALL
              SELECT h.i + 1,
                     (3 * r.y * 1000000 + 7 * (h.l + h.b)) // 10,
                     (((3 * r.y * 1000000 + 7 * (h.l + h.b)) // 10)
                        - h.l + 9 * h.b) // 10,
                     h.l + h.b
              FROM h JOIN r ON r.i = h.i + 1)
            SELECT r.d, r.y,
             CAST(h.f AS BIGINT) AS fcst_micro,
             CAST(h.l AS BIGINT) AS level_micro,
             CAST(h.b AS BIGINT) AS trend_micro
            FROM r JOIN h ON h.i = r.i
            ORDER BY r.d"""))

  /** MAD-based robust outlier census — the Hampel filter (Hampel 1974;
    * Leys et al. 2013, "Do not use standard deviation around the mean":
    * one genuine spike inflates an SD threshold enough to hide itself —
    * the median absolute deviation has a 50% breakdown point, so the
    * outliers can't vote themselves normal). Per event type over its
    * daily volume series: med = exact LOWER median (value at rank
    * ⌊(n+1)/2⌋ of the (cnt, day)-ordered frame — a deterministic
    * integer, no .5 interpolation to diverge on), mad = lower median of
    * |cnt − med| likewise by rank, outlier = deviation > 3·mad (the
    * textbook cutoff). Output: per-type audit row (days, med, mad,
    * outlier count/mass checksum, max deviation).
    *
    * Scale shape: one map-combinable (type, day) census is the only
    * corpus-sized work; both median ranks are type-PARTITIONED windows
    * over the ≤ |types|·|days| daily frame, then a ≤ |types|-row census.
    */
  /** OFFLINE CHANGEPOINT detection (at-most-one-change) over the daily
    * ingest series — the batch companion of [[qWinCusum]]'s online
    * alarm (Hinkley 1970; the binary-segmentation first split of Scott
    * & Knott 1974, and the unit step of PELT, Killick et al. 2012):
    * the best split k maximizes the two-segment SSE reduction
    * gain(k) = S_k²/k + (S−S_k)²/(n−k) − S²/n — CUSUM says "something
    * shifted", this says WHERE, on the full history. D1: prefix sums
    * S_k are exact BIGINT off one calendar-bounded cumulative window;
    * gain_micro is floored over the bit-identical double expression of
    * those exact integers (the jaccard floor rule — same IEEE ops,
    * same order, both engines), the split elected by struct-extremum
    * (gain desc, later day on ties — deterministic). Output: one row
    * with the split day, segment sizes, both floor-milli segment
    * means, and the gain.
    *
    * Scale shape: map-combinable daily census → ONE cumulative window
    * + row index on the ≤ |days| frame (the `q_agg_anomaly` declared
    * class, one Window node) → 1-row totals broadcast → struct-max
    * election. Nothing after the census scales with the corpus.
    */
  private val qWinChangepoint = Q(
    "q_win_changepoint",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("day")
      val tot = daily.agg(count(lit(1)).as("n"), sum("cnt").as("ss"))
      daily
        .withColumn("sk", sum("cnt").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("k", row_number().over(w).cast("long"))
        .crossJoin(broadcast(tot))
        .filter(col("k") < col("n"))
        .withColumn("gain_micro", expr(
          """CAST(floor((CAST(sk AS DOUBLE) * sk / k
             + CAST(ss - sk AS DOUBLE) * (ss - sk) / (n - k)
             - CAST(ss AS DOUBLE) * ss / n) * 1000000D) AS BIGINT)"""))
        .agg(max("n").as("n_days"), max("ss").as("total"),
          max(struct(col("gain_micro"), col("day"), col("k"), col("sk"))).as("pk"))
        .select(col("n_days"),
          col("pk.day").as("split_day"),
          col("pk.k").as("n_left"),
          (col("n_days") - col("pk.k")).as("n_right"),
          expr("pk.sk * 1000L div pk.k").as("mean_left_milli"),
          expr("(total - pk.sk) * 1000L div (n_days - pk.k)").as("mean_right_milli"),
          col("pk.gain_micro").as("gain_micro"))
    },
    Some("""WITH dd AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events GROUP BY 1),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cnt) AS BIGINT) AS ss FROM dd),
            c AS (SELECT day,
                   CAST(SUM(cnt) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sk,
                   CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
                  FROM dd),
            g AS (SELECT day, k, sk, n, ss,
                   CAST(FLOOR((CAST(sk AS DOUBLE) * sk / k
                     + CAST(ss - sk AS DOUBLE) * (ss - sk) / (n - k)
                     - CAST(ss AS DOUBLE) * ss / n) * 1000000) AS BIGINT) AS gain_micro
                  FROM c CROSS JOIN t WHERE k < n),
            pk AS (SELECT MAX(n) AS n_days, MAX(ss) AS total,
                    MAX(struct_pack(gain_micro := gain_micro, day := day,
                                    k := k, sk := sk)) AS pk
                   FROM g)
            SELECT n_days, pk.day AS split_day, pk.k AS n_left,
             n_days - pk.k AS n_right,
             CAST(pk.sk * 1000 // pk.k AS BIGINT) AS mean_left_milli,
             CAST((total - pk.sk) * 1000 // (n_days - pk.k) AS BIGINT) AS mean_right_milli,
             pk.gain_micro AS gain_micro
            FROM pk"""))

  /** Autocorrelation lags probed: adjacent-day persistence, the weekly
    * cycle, and its first harmonic. */
  private val AcfLags = Seq(1, 7, 14)

  /** LAG-k AUTOCORRELATION of daily ingest volume — the detector that
    * says WHICH cycle [[graft.ops.Aggregates]]' seasonality index
    * should decompose (Box & Jenkins, "Time Series Analysis" §2.1: a
    * spike at lag 7 is the signature of weekly seasonality; lag-1 mass
    * is day-to-day persistence — the first plot every forecasting
    * workflow draws before fitting `q_win_holt`). D1: no float means —
    * deviations are exact integers around the FLOOR mean, d_t = y_t −
    * ⌊S/n⌋ (the n-scaled exact form d·n − S overflows BIGINT once
    * Σd·d_prev·10⁴ crosses 2⁶³ at large day counts; the floor-mean is
    * identical in both engines and keeps every sum small), so
    * acf_bp = ⌊Σ d_t·d_{t−k}·10⁴ / Σ d_t²⌋ is a ratio of exact BIGINT
    * sums; numerator AND denominator run over the paired t-range (the
    * Box–Jenkins sample ACF with a paired-range denominator — both
    * conventions deterministic, this one pinned).
    *
    * Scale shape: one map-combinable daily census; the lag alignment is
    * a calendar-keyed self-EQUI-join (day = day − k — no window at
    * all), the 1-row (n, S) broadcast the `q_agg_activity_dist` class;
    * everything after the census lives on ≤ |days|·|lags| rows.
    */
  private val qWinAutocorr = Q(
    "q_win_autocorr",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tot = daily.agg(count(lit(1)).as("n"), sum("cnt").as("ss"))
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("day"), expr("cnt - ss DIV n").as("d"))
      val lags = dev.sparkSession.range(0, AcfLags.length)
        .select(expr(s"element_at(array(${AcfLags.mkString(",")}), CAST(id AS INT) + 1)")
          .cast("long").as("lag"))
      dev.crossJoin(broadcast(lags))
        .join(dev.select(col("day").as("d2"), col("d").as("dprev")),
          expr("d2 = day - lag"))
        .groupBy("lag")
        // deviation products widened BEFORE the multiply: d ≈ daily
        // volume, so d² crosses 2⁶³ per ROW near 3e9 events/day — Spark
        // wraps silently where DuckDB errors (the ADVICE r10 parity
        // class); acf_bp collapses back to a BIGINT-bounded ±10⁴
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(CAST(d AS DECIMAL(38, 0)) * dprev) * 10000L").as("num_e4"),
          expr("sum(CAST(d AS DECIMAL(38, 0)) * d)").as("den"))
        .select(col("lag"), col("n_pairs"),
          expr("CASE WHEN den = 0 THEN 0L ELSE num_e4 div den END").as("acf_bp"))
        .orderBy("lag")
    },
    Some(s"""WITH dd AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events GROUP BY 1),
            t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cnt) AS BIGINT) AS ss FROM dd),
            dv AS (SELECT day, cnt - ss // n AS d FROM dd CROSS JOIN t),
            lg AS (SELECT CAST(u.lag AS BIGINT) AS lag
                   FROM unnest([${AcfLags.mkString(",")}]) u(lag)),
            pr AS (SELECT lg.lag, a.d AS d, b.d AS dprev
                   FROM dv a CROSS JOIN lg
                   JOIN dv b ON b.day = a.day - lg.lag)
            SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(CASE WHEN SUM(CAST(d AS HUGEINT) * d) = 0 THEN 0
                  ELSE SUM(CAST(d AS HUGEINT) * dprev) * 10000
                       // SUM(CAST(d AS HUGEINT) * d) END AS BIGINT) AS acf_bp
            FROM pr GROUP BY lag ORDER BY lag"""))

  private val qWinMad = Q(
    "q_win_mad",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val wv = Window.partitionBy("event_type").orderBy(col("cnt"), col("day"))
      val wn = Window.partitionBy("event_type")
      val med = daily
        .withColumn("rv", row_number().over(wv).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("event_type")
        .agg(min(when(col("rv") === expr("(n + 1L) DIV 2L"), col("cnt"))).as("med"))
      val dev = daily.join(med, "event_type")
        .withColumn("dev", abs(col("cnt") - col("med")))
      val wd = Window.partitionBy("event_type").orderBy(col("dev"), col("day"))
      val mad = dev
        .withColumn("rd", row_number().over(wd).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("event_type")
        .agg(min(when(col("rd") === expr("(n + 1L) DIV 2L"), col("dev"))).as("mad"))
      dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          min("med").as("med_cnt"), min("mad").as("mad_cnt"),
          sum(expr("CAST(dev > 3L * mad AS BIGINT)")).as("n_out"),
          sum(expr("CASE WHEN dev > 3L * mad THEN day ELSE 0L END")).as("out_day_sum"),
          max("dev").as("max_dev"))
        .orderBy("event_type")
    },
    Some("""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events GROUP BY 1, 2),
            r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                     ORDER BY cnt, day) AS BIGINT) AS rv,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
                  FROM d),
            md AS (SELECT event_type,
                    MIN(CASE WHEN rv = (n + 1) // 2 THEN cnt END) AS med
                   FROM r GROUP BY event_type),
            dv AS (SELECT d.event_type, d.day, d.cnt, md.med,
                    abs(d.cnt - md.med) AS dev
                   FROM d JOIN md USING (event_type)),
            r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                     ORDER BY dev, day) AS BIGINT) AS rd,
                    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
                   FROM dv),
            ma AS (SELECT event_type,
                    MIN(CASE WHEN rd = (n + 1) // 2 THEN dev END) AS mad
                   FROM r2 GROUP BY event_type)
            SELECT dv.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             MIN(dv.med) AS med_cnt, MIN(ma.mad) AS mad_cnt,
             CAST(SUM(CASE WHEN dev > 3 * ma.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
             CAST(SUM(CASE WHEN dev > 3 * ma.mad THEN dv.day ELSE 0 END) AS BIGINT) AS out_day_sum,
             MAX(dev) AS max_dev
            FROM dv JOIN ma USING (event_type)
            GROUP BY dv.event_type ORDER BY dv.event_type"""))

  /** THEIL–SEN robust trend slope of the daily volume series (r11 —
    * Theil 1950 / Sen JASA'68; the median-of-pairwise-slopes estimator
    * every monitoring stack reaches for when OLS is wrecked by the
    * outlier days [[qWinMad]] flags — 29.3% breakdown point vs OLS's
    * zero). Estimand: lower median of slope(i,j) = (v_j−v_i)/(day_j−day_i)
    * over ALL day pairs i<j, reported in events/day micro-units.
    *
    * D1, integer-exact: each pairwise slope is floored to micro-units
    * WITHOUT touching a float — the numerator is first shifted
    * non-negative by `off = vmax·10⁶` per day of run ((v_j−v_i)·10⁶ +
    * (day_j−day_i)·off ≥ 0 since |v_j−v_i| ≤ vmax), divided, then
    * un-shifted, so the quotient means FLOOR regardless of either
    * engine's signed-division convention. (Both shipped engines in fact
    * truncate toward zero — duckdb 1.0.0 matches Spark div — so the
    * shift is rounding-convention insurance plus the floor semantics
    * the estimand wants on negative slopes; ARCHITECTURE §10 rule 4.) The median element is the (n+1) div 2-th row
    * under the total order (slope, da, db) — deterministic through ties.
    *
    * Scale shape: the ONLY corpus-sized stage is the per-day census; the
    * pair frame is ≤|days|² — a CALENDAR dimension, constant in corpus
    * size (the q_win_autocorr discipline) — so the registered bounded
    * cross join and the registered partition-less rank window both run
    * on a metadata-sized frame at any sf.
    */
  private val qWinTheilSen = Q(
    "q_win_theil_sen",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("v"))
      val mx = daily.agg(max("v").as("vmax"), count(lit(1)).as("n_days"))
      val pairs = daily.select(col("day").as("da"), col("v").as("va"))
        .crossJoin(daily.select(col("day").as("db"), col("v").as("vb")))
        .filter(col("db") > col("da"))
        .crossJoin(broadcast(mx))
        // shifted numerator widened: (db−da)·vmax·10⁶ crosses 2⁶³ near
        // vmax ≈ 10¹¹ events/day over a 90-day span — Spark wraps
        // silently where DuckDB errors (the ADVICE r10 parity class);
        // the slope itself is vmax·10⁶-bounded, back in BIGINT range
        .withColumn("slope_micro", expr(
          """CAST((CAST(vb - va AS DECIMAL(38, 0)) * 1000000L
             + CAST(db - da AS DECIMAL(38, 0)) * vmax * 1000000L)
             div (db - da) - vmax * 1000000L AS BIGINT)"""))
      val ranked = pairs
        .withColumn("rn", row_number().over(
          Window.orderBy("slope_micro", "da", "db")))
        .withColumn("np", count(lit(1)).over(
          Window.orderBy("slope_micro", "da", "db")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // n_days comes from the broadcast census extrema, NOT max() over the
      // pair frame: on a degenerate single-day corpus the pair frame is
      // empty and a pair-side max would return NULL where the oracle's
      // scalar subquery (SELECT n_days FROM mx) returns 1 (ADVICE r11).
      ranked
        .agg(max("np").as("n_pairs"),
          min("slope_micro").as("min_slope_micro"),
          max("slope_micro").as("max_slope_micro"),
          max(expr("CASE WHEN rn = (np + 1L) div 2L THEN slope_micro END"))
            .as("sen_slope_micro"))
        .withColumn("trend_sign", expr(
          "CAST(CASE WHEN sen_slope_micro > 0 THEN 1 WHEN sen_slope_micro < 0 THEN -1 ELSE 0 END AS BIGINT)"))
        .crossJoin(broadcast(mx.select(col("n_days"))))
        .select("n_days", "n_pairs", "min_slope_micro", "max_slope_micro",
          "sen_slope_micro", "trend_sign")
    },
    Some("""WITH dd AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS v
                 FROM events GROUP BY 1),
            mx AS (SELECT MAX(v) AS vmax, CAST(COUNT(*) AS BIGINT) AS n_days
                   FROM dd),
            pr AS (SELECT a.day AS da, b.day AS db,
                    CAST((CAST(b.v - a.v AS HUGEINT) * 1000000
                          + (b.day - a.day) * (CAST(vmax AS HUGEINT) * 1000000))
                      // (b.day - a.day) - vmax * 1000000 AS BIGINT) AS slope_micro
                   FROM dd a CROSS JOIN dd b CROSS JOIN mx
                   WHERE b.day > a.day),
            rk AS (SELECT slope_micro,
                    ROW_NUMBER() OVER (ORDER BY slope_micro, da, db) AS rn,
                    COUNT(*) OVER () AS np
                   FROM pr)
            SELECT (SELECT n_days FROM mx) AS n_days,
             MAX(np) AS n_pairs,
             MIN(slope_micro) AS min_slope_micro,
             MAX(slope_micro) AS max_slope_micro,
             MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_micro END) AS sen_slope_micro,
             CAST(CASE WHEN MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_micro END) > 0 THEN 1
                       WHEN MAX(CASE WHEN rn = (np + 1) // 2 THEN slope_micro END) < 0 THEN -1
                       ELSE 0 END AS BIGINT) AS trend_sign
            FROM rk"""))

  val all: Seq[Q] = Seq(
    qWinRank, qWinRunning, qWinRangeFrame, qWinNtilePct, qWinFirstLast,
    qWinNthValue, qWinDedupLatest, qWinSessionize, qWinIntervalSweep,
    qWinCumeDist, qWinPattern, qWinStreak, qWinTransitions, qWinCusum,
    qWinDrawdown, qWinHolt, qWinMad, qWinAutocorr, qWinChangepoint, qWinTheilSen)
}
