package graft.ops

import graft.{Artifacts, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.3 — joins, exhaustive over the join types the API exposes.
  *
  * Scale notes (100 TB design): small dimensions (`part`, `customer`,
  * `nation`, `region`, `supplier`) are explicitly `broadcast()` so the big
  * fact side never shuffles for them; the one genuinely large-large join
  * (`lineitem ⋈ orders`) is pinned to sort-merge, which AQE can convert or
  * skew-split at runtime. The theta/range join aggregates before emitting so
  * output stays bounded.
  */
object Joins {

  /** Per-reducer pair budget for `q_join_theta_range`'s hot-bucket
    * sub-split: a range bucket whose probe×build product exceeds this is
    * split into ceil(product/target) sub-keys so no single task
    * evaluates more than ~this many residual predicates. 2²⁰ ≈ 1M pairs
    * is comfortably one task-second of codegen'd filter work; the split
    * only engages where the product warrants it (ns = 1 at the small
    * correctness SFs, so the cheap path is byte-identical to the
    * unsplit plan).
    */
  private val ThetaPairTarget = 1 << 20

  private val qJoinInnerBroadcast = Q(
    "q_join_inner_broadcast",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val part = Tables(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"), "inner")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("p_name"), col("p_brand"), col("l_quantity"))
        // (l_orderkey, l_linenumber) not unique → sort all output columns.
        .orderBy("l_orderkey", "l_linenumber", "p_name", "p_brand", "l_quantity")
    },
    Some("""SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
            p.p_name, p.p_brand, l.l_quantity
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ORDER BY l.l_orderkey, l_linenumber, p.p_name, p.p_brand, l.l_quantity"""))

  private val qJoinInnerShuffle = Q(
    "q_join_inner_shuffle",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      li.hint("merge")
        .join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("o_orderstatus"), col("o_totalprice"), col("l_extendedprice"))
        // (l_orderkey, l_linenumber) not unique → sort all output columns.
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    },
    Some("""SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
            o.o_orderstatus, o.o_totalprice, l.l_extendedprice
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ORDER BY l.l_orderkey, l_linenumber, l.l_extendedprice"""))

  private val qJoinLeftOuter = Q(
    "q_join_left_outer",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },
    Some("""SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            ORDER BY c.c_custkey, o.o_orderkey ASC NULLS FIRST"""))

  private val qJoinFullOuter = Q(
    "q_join_full_outer",
    (s, dir) => {
      val c = Tables(s, dir, "customer").filter(col("c_acctbal") > 5000.0)
      val o = Tables(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_acctbal"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    },
    Some("""SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
            FROM orders o
            FULL OUTER JOIN (SELECT * FROM customer WHERE c_acctbal > 5000.0) c
              ON o.o_custkey = c.c_custkey
            ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST"""))

  private val qJoinLeftSemi = Q(
    "q_join_left_semi",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
            ORDER BY c_custkey"""))

  private val qJoinLeftAnti = Q(
    "q_join_left_anti",
    (s, dir) => {
      // Customers with NO high-value order. The unfiltered anti-join
      // ("customers with no orders") is VACUOUSLY empty at every sf —
      // the fixture gives every customer at least one order — so its
      // oracle pass proved only schema agreement (VERDICT r10 #4); the
      // build-side predicate makes the result non-empty (30 rows at
      // sf0.01, 308 at sf0.1, 3080 at the sf1.0 rehearsal) so the pass
      // proves anti-join semantics.
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 300000)
            ORDER BY c_custkey"""))

  private val qJoinCross = Q(
    "q_join_cross",
    (s, dir) => {
      // Bounded cartesian: 5 regions × 25 nations = 125 rows at every sf.
      val r = Tables(s, dir, "region")
      val n = Tables(s, dir, "nation")
      r.crossJoin(n)
        .select(
          col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"),
          col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
        .orderBy("r_regionkey", "n_nationkey")
    },
    Some("""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
            CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
            FROM region CROSS JOIN nation
            ORDER BY r_regionkey, n_nationkey"""))

  private val qJoinThetaRange = Q(
    "q_join_theta_range",
    (s, dir) => {
      // Non-equi band join, executed as a RANGE-BUCKETED equi-join: the
      // naive formulation is an O(n²) BroadcastNestedLoopJoin; instead each
      // probe row carries bucket floor(price1), each build row is exploded
      // to every integer bucket its [price2, price2*1.001] band overlaps,
      // and the join becomes a hash join on the bucket key with the exact
      // band predicate as a residual filter. Same result, pair space
      // shrinks from n² to sum of per-bucket products — the formulation
      // that survives 100 TB (and is ~100× fewer predicate evaluations
      // here). Output aggregated per brand so it stays bounded.
      val p1 = Tables(s, dir, "part").select(
        col("p_partkey").as("k1"), col("p_retailprice").as("price1"),
        floor(col("p_retailprice")).as("bkt"))
      val p2 = Tables(s, dir, "part")
        .select(col("p_partkey").as("k2"), col("p_retailprice").as("price2"), col("p_brand"))
        .withColumn("bkt", explode(expr(
          "sequence(CAST(floor(price2) AS BIGINT), CAST(floor(price2 * 1.001) AS BIGINT))")))
      // Hot-bucket sub-split (the capCells discipline applied to the
      // range buckets): the bucket domain is the PRICE RANGE — fixed by
      // the data model, not by n — so per-bucket occupancy, hence the
      // per-bucket pair product this join must evaluate, grows as n²
      // while the number of join tasks stays capped at ~|buckets|. Split
      // every bucket whose pair product exceeds ThetaPairTarget into
      // ceil(product/target) sub-keys: a probe row picks ONE sub-key by
      // id, a build row replicates to ALL of them, so each (probe,
      // build) pair still meets exactly once — the result (and the
      // oracle) is unchanged, but reducer load is bounded at ~target
      // pairs and parallelism grows with the data instead of saturating
      // at the bucket count. The sub-key table is |buckets|-sized
      // (price-domain-bounded), so the broadcast stays trivially small
      // at any corpus size.
      val ns = p1.groupBy("bkt").agg(count(lit(1)).as("n1"))
        .join(p2.groupBy("bkt").agg(count(lit(1)).as("n2")), Seq("bkt"))
        .select(col("bkt"), expr(
          s"greatest(1, CAST(ceil(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / $ThetaPairTarget) AS INT))")
          .as("ns"))
      val p1s = p1.join(broadcast(ns), Seq("bkt"))
        .withColumn("sub", pmod(col("k1"), col("ns")).cast("int")).drop("ns")
      val p2s = p2.join(broadcast(ns), Seq("bkt"))
        .withColumn("sub", explode(expr("sequence(0, ns - 1)"))).drop("ns")
      // The join MUST be a shuffle join on the sub-split key, never a
      // broadcast: under a broadcast join the streamed side keeps the
      // SCAN's partitioning — the fixture's part table is one parquet
      // file, so the entire per-bucket pair product (756M residual
      // evaluations at the sf1.0 rehearsal) funnelled through ONE task
      // and the sub-split bought nothing. Exchanging both sides on
      // (bkt, sub) spreads the ~target-sized sub-buckets across all
      // reducers — per-task work is bounded by ThetaPairTarget and
      // parallelism grows with the data, which is the whole point.
      p1s.hint("shuffle_hash").join(p2s, Seq("bkt", "sub"))
        .filter(
          col("price1") >= col("price2") &&
          col("price1") <= col("price2") * 1.001 &&
          col("k1") < col("k2"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_pairs"),
          round(sum(col("price1") - col("price2")), 4).as("sum_diff"))
        .orderBy("p_brand")
    },
    Some("""SELECT p2.p_brand, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            ROUND(SUM(p1.p_retailprice - p2.p_retailprice), 4) AS sum_diff
            FROM part p1, part p2
            WHERE p1.p_retailprice >= p2.p_retailprice
              AND p1.p_retailprice <= p2.p_retailprice * 1.001
              AND p1.p_partkey < p2.p_partkey
            GROUP BY p2.p_brand ORDER BY p2.p_brand"""))

  /** Salted shuffle join — the standard mitigation when a shuffle join's key
    * distribution is skewed (one hot part key would otherwise send a whole
    * key's rows to one task): the fact side gets a deterministic salt in
    * [0, S), the dimension side is replicated S× via explode(sequence), and
    * the join key becomes (key, salt), splitting every hot key across S
    * tasks. The salt is derived from the row's unique id (not rand()) so the
    * result is reproducible. Broadcast is explicitly NOT used and the join
    * is pinned to shuffle — salting a broadcast join would be pointless
    * (broadcast already avoids partitioning the fact side by key); this
    * query exists precisely for the 100 TB case where the dimension has
    * outgrown the broadcast budget AND a key is hot. AQE's skew-join split
    * handles this adaptively for sort-merge; the salt formulation is the
    * engine-level pattern that also works where AQE can't see the skew
    * (e.g. pre-aggregated state). Result is identical to the plain join
    * (oracle = unsalted SQL).
    */
  private val qJoinSkewSalted = Q(
    "q_join_skew_salted",
    (s, dir) => {
      val S = 8
      val li = Tables(s, dir, "lineitem")
        .withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(S.toLong)))
      val p = Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
        .withColumn("salt", explode(expr(s"sequence(0L, ${S - 1}L)")))
      // hint sits on the dim side: shuffle-hash with the 8×-replicated dim
      // as the BUILD side (still tiny), the fact side streamed
      li.join(p.hint("shuffle_hash"),
          li("l_partkey") === p("p_partkey") && li("salt") === p("salt"), "inner")
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_items"),
          expr("round(CAST(sum(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4)")
            .as("revenue"))
        .orderBy("p_brand")
    },
    Some("""SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_items,
            ROUND(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand ORDER BY p.p_brand"""))

  private val qJoinAsof = Q(
    "q_join_asof",
    (s, dir) => {
      // As-of join: each purchase matched to the latest click of the same
      // user at/before it. No native as-of in Spark SQL — union + running
      // MAX window (clicks' ts is monotone within the window order, so MAX
      // of the click-ts column ≡ latest click). One shuffle on user_id,
      // no self-join: this is the 100 TB-friendly formulation.
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(
          col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
          when(col("event_type") === "click", col("ts_us")).as("click_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_click_us", max("click_ts").over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"), col("last_click_us"))
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some("""WITH u AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                     CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
                     CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_ts
              FROM events WHERE event_type IN ('click','purchase'))
            SELECT event_id, user_id, ts_us, last_click_us FROM (
              SELECT event_id, user_id, ts_us, event_type,
                     MAX(click_ts) OVER (PARTITION BY user_id
                       ORDER BY ts_us, is_click DESC, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
              FROM u) t
            WHERE event_type = 'purchase'
            ORDER BY user_id, ts_us, event_id"""))

  /** AS-OF join with a TOLERANCE window (r11 — pandas
    * `merge_asof(tolerance=...)` / kdb `wj` within-window semantics: an
    * attribution system does not credit a click from last month). Each
    * purchase takes the latest same-user click at/before it ONLY if
    * that click is ≤ 30 min old; older matches are STALE (a prior
    * click exists but outside the window), purchases with no prior
    * click are ORPHAN — the three-way census every attribution report
    * opens with, plus the exact matched-gap sum proving WHICH click won.
    *
    * Scale shape: identical to [[qJoinAsof]] — union + per-user running
    * MAX window, ONE shuffle on user_id, no self-join; the tolerance is
    * a map-side CASE after the window, and the census is a 1-row agg.
    * The gap sum is widened (Σgap ≤ n·1.8e9 crosses 2⁶³ near 5e9
    * matched purchases — the ADVICE r10 parity class).
    */
  private val qJoinAsofTolerance = Q(
    "q_join_asof_tolerance",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(
          col("event_id"), col("user_id"), col("ts_us"), col("event_type"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"),
          when(col("event_type") === "click", col("ts_us")).as("click_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("is_click").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_click_us", max("click_ts").over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("bucket", expr(
          """CASE WHEN last_click_us IS NULL THEN 2L
                  WHEN ts_us - last_click_us <= 1800000000L THEN 0L
                  ELSE 1L END"""))
        .agg(count(lit(1)).as("n_purchases"),
          sum(expr("CAST(bucket = 0 AS BIGINT)")).as("n_matched"),
          sum(expr("CAST(bucket = 1 AS BIGINT)")).as("n_stale"),
          sum(expr("CAST(bucket = 2 AS BIGINT)")).as("n_orphan"),
          expr("""CAST(sum(CASE WHEN bucket = 0
               THEN CAST(ts_us - last_click_us AS DECIMAL(38, 0))
               ELSE 0 END) AS BIGINT)""").as("matched_gap_sum_us"))
        .withColumn("match_share_bp",
          expr("n_matched * 10000L div n_purchases"))
    },
    Some("""WITH u AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                     CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
                     CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_ts
              FROM events WHERE event_type IN ('click','purchase')),
            p AS (SELECT ts_us, last_click_us,
                   CASE WHEN last_click_us IS NULL THEN 2
                        WHEN ts_us - last_click_us <= 1800000000 THEN 0
                        ELSE 1 END AS bucket
                  FROM (
              SELECT event_id, ts_us, event_type,
                     MAX(click_ts) OVER (PARTITION BY user_id
                       ORDER BY ts_us, is_click DESC, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
              FROM u) t
                  WHERE event_type = 'purchase')
            SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             CAST(SUM(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
             CAST(SUM(CASE WHEN bucket = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
             CAST(SUM(CASE WHEN bucket = 0 THEN ts_us - last_click_us
                      ELSE 0 END) AS BIGINT) AS matched_gap_sum_us,
             CAST(SUM(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) * 10000
                  // COUNT(*) AS BIGINT) AS match_share_bp
            FROM p"""))

  private val qJoinStar = Q(
    "q_join_star",
    (s, dir) => {
      // 5-way star: one shuffle join (lineitem ⋈ orders) + broadcast the
      // three dimension hops; revenue per region.
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(
          // decimal inputs → exact, order-independent sum: a raw double
          // sum over 600k+ rows drifts past 4dp granularity at this
          // magnitude (SURVEY D2's decimal clause)
          round(sum(expr(
            "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"))
            .cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4) AS revenue,
            CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): rows whose derived
    * key is NULL (event_type 'error' via nullif) still match the dim's NULL
    * row — a plain equi-join silently drops them, the classic
    * nullable-foreign-key bug. `<=>` stays a hash-joinable equality (Spark
    * plans EqualNullSafe as a HashJoin key, not a nested loop), so the
    * shape scales like any equi-join.
    */
  private val qJoinNullSafe = Q(
    "q_join_null_safe",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("k", expr("nullif(event_type, 'error')"))
      val dim = ev.select(col("k").as("dk")).distinct()
      ev.join(dim, col("k") <=> col("dk"), "inner")
        .groupBy(col("k").as("key"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("key").asc_nulls_first)
    },
    Some("""WITH ev AS (SELECT nullif(event_type, 'error') AS k FROM events),
            dim AS (SELECT DISTINCT k AS dk FROM ev)
            SELECT ev.k AS key, CAST(COUNT(*) AS BIGINT) AS n
            FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.dk
            GROUP BY ev.k ORDER BY key NULLS FIRST"""))

  /** Bucket count for the co-located join tables. 16 matches the test
    * box's parallelism; at 100 TB you widen the bucket count (one-time
    * layout decision), not the algorithm.
    */
  private val BucketN = 16

  /** The production answer to the workload's one genuinely large-large
    * join (lineitem ⋈ orders on orderkey), DECLARED as a query: both
    * sides are persisted bucketed+sorted on the join key
    * (`sources.Bucketed`, external tables named and placed by the content
    * fingerprint of both inputs, so a regenerated fixture gets a new
    * layout and an unchanged one is reused: the query measures the JOIN,
    * not the one-time layout build), after which the join itself plans
    * as a SortMergeJoin directly over the bucketed scans — NO shuffle exchange on either
    * join key (PlanLintSpec pins exactly that). At 100 TB this is the
    * difference between re-shuffling terabytes per query and a
    * metadata-only co-location guarantee amortized across every query
    * that joins on the bucket key; the only remaining exchange is the
    * skinny post-join per-customer aggregation. Output: per-customer
    * line count, integer quantity sum, partkey checksum — all-integer
    * (D1; quantities are integral by fixture construction, floored
    * before the cast so engine rounding rules can't diverge).
    */
  private val qJoinBucketColocated = Q(
    "q_join_bucket_colocated",
    (s, dir) => {
      // freshness is the catalog's: Bucketed.join reads the tables by name
      val fp = Artifacts.fingerprint(dir, "lineitem.parquet", "orders.parquet").take(12)
      val lt = s"graft_bkt_li_$fp"
      val ot = s"graft_bkt_ord_$fp"
      val base = Artifacts.path(dir, s"bucketed_$fp")
      if (!s.catalog.tableExists(lt))
        graft.sources.Bucketed.write(
          Tables(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
          lt, "l_orderkey", BucketN, Some(s"$base/li"))
      if (!s.catalog.tableExists(ot))
        graft.sources.Bucketed.write(
          Tables(s, dir, "orders").select("o_orderkey", "o_custkey"),
          ot, "o_orderkey", BucketN, Some(s"$base/ord"))
      graft.sources.Bucketed.join(s, lt, ot, "l_orderkey", "o_orderkey")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("qty_sum"),
          sum("l_partkey").as("part_sum"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_items,
              CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sum,
              CAST(SUM(l_partkey) AS BIGINT) AS part_sum
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey ORDER BY o_custkey"""))

  /** INTERVAL × INTERVAL overlap self-join executed as a week-BINNED
    * equi-join — the temporal range join Spark has no native operator for
    * (q_join_theta_range covers the scalar-band case; this is the
    * two-sided-interval case every "concurrent shipments / overlapping
    * sessions" workload needs). Framing: each high-quantity lineitem is a
    * shipment "in transit" for [shipdate, shipdate + 3..9 days]
    * (duration varies by line number, so intervals genuinely differ);
    * find, per supplier, every pair of its shipments whose transit
    * windows overlap.
    *
    * The naive formulation is a per-supplier O(n²) nested-loop over the
    * overlap predicate. Instead both sides explode each interval into the
    * integer WEEKS it covers (≤ 2-3 rows for a ≤ 9-day interval) and the
    * join becomes a hash join on (supplier, week) with the exact overlap
    * predicate as a residual filter. A pair overlapping across several
    * shared weeks would match once per week, so the canonical
    * de-duplication keeps only the bucket containing the OVERLAP START
    * (`greatest(a.start, b.start) div 7` — a week both sides provably
    * cover): each qualifying pair survives exactly once, no
    * post-join `distinct` needed. Pair space shrinks from Σ n_supp² to
    * Σ per-(supplier, week) products — the formulation that survives
    * 100 TB, where a supplier's history is long but its per-week transit
    * density is bounded. Output: per-supplier pair count + total
    * overlapping days, all-integer (D1).
    */
  private val qJoinIntervalOverlap = Q(
    "q_join_interval_overlap",
    (s, dir) => {
      val t = Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45.0)
        .select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("iid"),
          col("l_suppkey").as("supp"),
          datediff(col("l_shipdate"), lit("1990-01-01")).as("sd"),
          (datediff(col("l_shipdate"), lit("1990-01-01"))
            + col("l_linenumber") % 7 + 3).as("ed"))
      val e = t.withColumn("wk", explode(expr("sequence(sd div 7, ed div 7)")))
      val a = e.select(col("iid").as("a_iid"), col("supp"),
        col("sd").as("a_sd"), col("ed").as("a_ed"), col("wk"))
      val b = e.select(col("iid").as("b_iid"), col("supp").as("b_supp"),
        col("sd").as("b_sd"), col("ed").as("b_ed"), col("wk").as("b_wk"))
      a.join(b,
          col("supp") === col("b_supp") && col("wk") === col("b_wk") &&
          col("a_iid") < col("b_iid") &&
          col("a_sd") <= col("b_ed") && col("b_sd") <= col("a_ed") &&
          expr("greatest(a_sd, b_sd) div 7") === col("wk"))
        .groupBy("supp")
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(least(a_ed, b_ed) - greatest(a_sd, b_sd) + 1 AS BIGINT)"))
            .as("overlap_days"))
        .orderBy("supp")
    },
    Some("""WITH t AS (SELECT l_orderkey * 8 + l_linenumber AS iid,
                 l_suppkey AS supp,
                 date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS sd,
                 date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE))
                   + l_linenumber % 7 + 3 AS ed
               FROM lineitem WHERE l_quantity >= 45.0)
            SELECT a.supp, CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(LEAST(a.ed, b.ed) - GREATEST(a.sd, b.sd) + 1) AS BIGINT)
                AS overlap_days
            FROM t a JOIN t b
              ON a.supp = b.supp AND a.iid < b.iid
             AND a.sd <= b.ed AND b.sd <= a.ed
            GROUP BY a.supp ORDER BY a.supp"""))

  /** Bloom-filter bits (2¹⁶ = 1024 64-bit words, 8 KB) and hash count for
    * [[qJoinBloomPrune]]. At the fixture's ~1-2k selected keys, 3 hashes
    * into 65536 bits give a false-positive rate ≈ (3k/65536·3)³ ≲ 1e-3;
    * the width is a constant the builder scales with the expected key
    * count (bits ≈ 10·keys for ~1% FP) — the FILTER grows with the
    * selected dimension, never with the fact side.
    */
  private val BloomBits = 65536
  private val BloomHashes = 3

  /** Bloom-filter join pruning — the runtime-filter pattern every
    * large-scale engine applies to a selective dim ⋈ huge fact join
    * (Spark's InjectRuntimeFilter, Trino dynamic filtering, Snowflake
    * join pruning), built EXPLICITLY so the mechanics are declared and
    * oracled rather than left to a conf flag: the selective side's join
    * keys are folded into an 8 KB bitset (one pass, bit_or-mergeable
    * words → a single map row), broadcast to the fact scan, and every
    * fact row whose 3 hash bits are not all set is dropped BEFORE the
    * join's exchange. No false negatives (both sides evaluate the same
    * md5-derived hashes), so after the confirming equi-join the result
    * is EXACTLY the plain join — the oracle is the undecorated SQL; the
    * bloom stage is invisible in the answer and load-bearing only in the
    * plan, where the fact side's shuffle volume shrinks to the match rate
    * (+ ~1e-3 false positives) instead of 100% of the fact table.
    *
    * Scale shape: the bitset build is a map-side-combinable bit_or over
    * ≤ 1024 word rows regardless of key count; the fact-side check is a
    * broadcast of ONE 8 KB row + a codegen'd map-lookup filter — the
    * only exchange carrying fact rows is the post-prune confirm join,
    * which AQE sizes on the pruned (not raw) cardinality.
    */
  private val qJoinBloomPrune = Q(
    "q_join_bloom_prune",
    (s, dir) => {
      // the 3 bit positions are digest words 0-2 of ONE md5 per key
      // (graft_md5w32) — a single digest per fact row, not 3
      val dim = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") >= 200000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val bm = dim
        .select(explode(expr(
          s"transform(slice(graft_md5w32(concat('bf_', CAST(o_orderkey AS STRING))), 1, $BloomHashes), " +
            s"x -> pmod(x, $BloomBits))")).as("pos"))
        .groupBy(expr("pos div 64").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(pmod(pos, 64) AS INT)))").as("m"))
        .agg(map_from_entries(collect_list(struct(col("w"), col("m")))).as("bm"))
      val hit = (0 until BloomHashes).map { h =>
        val p = s"pmod(element_at(sl, ${h + 1}), $BloomBits)"
        s"(coalesce(element_at(bm, $p div 64), 0L) & shiftleft(1L, CAST(pmod($p, 64) AS INT))) <> 0L"
      }.mkString(" AND ")
      // spread: the per-fact-row md5 digest + 3-probe bit test is the
      // key's dominant CPU
      Tables.spread(s, dir, "lineitem", "l_orderkey")
        .select(col("l_orderkey"), col("l_quantity"))
        .withColumn("sl", expr("graft_md5w32(concat('bf_', CAST(l_orderkey AS STRING)))"))
        .crossJoin(broadcast(bm))
        .filter(expr(hit)) // the prune: drops non-matching fact rows pre-shuffle
        .drop("sl")
        .join(dim, col("l_orderkey") === col("o_orderkey")) // confirm join kills FPs
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
              CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
              ROUND(SUM(l_quantity), 4) AS sum_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F' AND o_totalprice >= 200000
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Dynamic partition pruning — the RUNTIME half of the pruning story
    * (`q_scan_partition_prune` is the compile-time half, over the SAME
    * language-partitioned artifact): the dim side — languages holding an
    * above-average share of the corpus — is derived from the data at
    * runtime, so no literal partition predicate exists for the planner
    * to push. Catalyst's PartitionPruning rule instead injects a
    * `dynamicpruningexpression` into the fact scan's PartitionFilters:
    * the broadcast of the dim side is REUSED as a subquery filter, so
    * the fact scan lists and reads only the qualifying language
    * directories (1 of 5 here) at zero extra cost. At 100 TB this is
    * the difference between scanning one day/language slice and the
    * whole table every time the slice selection is data-driven (the
    * common case: "active partitions", "dirty dates", "above-threshold
    * sources"). PlanLintSpec pins the dynamicpruningexpression in the
    * scan and the broadcast join.
    */
  private val qJoinDpp = Q(
    "q_join_dpp",
    (s, dir) => {
      val fact = Relational.docsByLang(s, dir)
      val census = Tables(s, dir, "documents").groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      // Two DPP-eligibility subtleties, both found the hard way:
      //  - the share predicate must compare against a LITERAL
      //    (share_bp > 2000): Catalyst's isLikelySelective() rejects the
      //    attribute-to-attribute spelling (n_docs * 5 > n_total) of the
      //    same predicate;
      //  - the corpus total must come from a window over the census, not
      //    a crossJoin(broadcast(total)): the cross-join spelling lets
      //    PushDownPredicates absorb the filter INTO the join condition,
      //    and with no Filter NODE left on the dim side,
      //    hasSelectivePredicate() never matches. The window is global
      //    but runs over the |langs|-row census — metadata-sized at any
      //    corpus scale.
      val dim = census
        .withColumn("n_total", sum("n_docs").over(Window.partitionBy()))
        .withColumn("share_bp", expr("n_docs * 10000 DIV n_total"))
        .filter(col("share_bp") > 2000)
        .select(col("lang"), col("n_docs"))
      fact.join(broadcast(dim), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars_sum"),
          max("n_docs").as("n_docs"))
        .orderBy("lang")
    },
    Some("""WITH dim AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                         FROM documents GROUP BY lang
                         HAVING COUNT(*) * 10000 // (SELECT COUNT(*) FROM documents) > 2000)
            SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(d.n_chars) AS BIGINT) AS chars_sum,
              MAX(dim.n_docs) AS n_docs
            FROM documents d JOIN dim ON d.lang = dim.lang
            GROUP BY d.lang ORDER BY d.lang"""))

  val all: Seq[Q] = Seq(
    qJoinInnerBroadcast, qJoinInnerShuffle, qJoinLeftOuter, qJoinFullOuter,
    qJoinLeftSemi, qJoinLeftAnti, qJoinCross, qJoinThetaRange, qJoinAsof,
    qJoinAsofTolerance,
    qJoinStar, qJoinNullSafe, qJoinSkewSalted, qJoinBucketColocated,
    qJoinIntervalOverlap, qJoinBloomPrune, qJoinDpp)
}
