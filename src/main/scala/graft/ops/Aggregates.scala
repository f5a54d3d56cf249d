package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.4 — aggregations beyond the flagship Q1 (in Relational).
  * All double aggregates rounded 4dp in both engines (D2); counts and
  * grouping flags cast to BIGINT in both (D6).
  */
object Aggregates {

  private val qAggGlobal = Q(
    "q_agg_global",
    (s, dir) => {
      Tables(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        round(sum("l_quantity"), 4).as("sum_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        min("l_orderkey").as("min_ok"),
        max("l_orderkey").as("max_ok"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
            MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
            ROUND(SUM(l_quantity), 4) AS sum_qty,
            MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
            MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
            FROM lineitem"""))

  private val qAggCountDistinct = Q(
    "q_agg_count_distinct",
    (s, dir) => {
      // Exact distinct: Spark plans this as Expand + two-phase agg —
      // at 100 TB prefer the approx twin (q_agg_approx_hll) when the exact
      // cardinality isn't contractually required.
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
            CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
            CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
            CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val qAggHaving = Q(
    "q_agg_having",
    (s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 4).as("sum_price"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
            ROUND(SUM(o_totalprice), 4) AS sum_price
            FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
            ORDER BY o_custkey"""))

  private val qAggRollup = Q(
    "q_agg_rollup",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          grouping(col("r_name")).cast("long").as("g_r"),
          grouping(col("n_name")).cast("long").as("g_n"))
        .orderBy(col("g_r"), col("g_n"), col("r_name").asc_nulls_first,
          col("n_name").asc_nulls_first)
    },
    Some("""SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
            CAST(GROUPING(r_name) AS BIGINT) AS g_r,
            CAST(GROUPING(n_name) AS BIGINT) AS g_n
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP(r_name, n_name)
            ORDER BY g_r, g_n, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""))

  private val qAggCube = Q(
    "q_agg_cube",
    // money totals in EXACT integer cents (the q_agg_winsorize rule):
    // the r12 sf1.0 oracle sweep caught the raw double SUM drifting in
    // the last ulp across engines at 1.5M addends (24836464858.8998 vs
    // .9 after round(,4)) — association-order drift only VISIBLE at
    // scale, exactly what the sweep exists to catch. D1-exact at any n.
    (s, dir) => {
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sum_price_cents"),
          count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("long").as("g_s"),
          grouping(col("o_orderpriority")).cast("long").as("g_p"))
        .orderBy(col("g_s"), col("g_p"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_s,
            CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
            ORDER BY g_s, g_p, o_orderstatus ASC NULLS FIRST,
                     o_orderpriority ASC NULLS FIRST"""))

  private val qAggGroupingSets = Q(
    "q_agg_grouping_sets",
    (s, dir) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_f,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_s
               FROM li_gs
               GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
               ORDER BY g_f, g_s, l_returnflag ASC NULLS FIRST,
                        l_linestatus ASC NULLS FIRST""")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            ROUND(SUM(l_quantity), 4) AS sum_qty, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(GROUPING(l_returnflag) AS BIGINT) AS g_f,
            CAST(GROUPING(l_linestatus) AS BIGINT) AS g_s
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
            ORDER BY g_f, g_s, l_returnflag ASC NULLS FIRST,
                     l_linestatus ASC NULLS FIRST"""))

  private val qAggStats = Q(
    "q_agg_stats",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    },
    Some("""SELECT l_linestatus,
            ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
            ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
            ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qp,
            CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""))

  private val qAggPercentileExact = Q(
    "q_agg_percentile_exact",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
            ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
            ROUND(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 4) AS p95,
            ROUND(CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE), 4) AS p99
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** WINSORIZED and TRIMMED means — the robust-mean pair every metrics
    * warehouse computes next to its plain mean (Tukey; Dixon & Yuen
    * 1974: one fat-fingered or adversarial amount moves a raw mean
    * arbitrarily; clamping to [p5, p95] bounds any single row's
    * influence, trimming drops the tails outright — the
    * `q_win_mad`/[[qAggPercentileExact]] family's aggregation-side
    * member). D1: everything runs on the exact integer-cents path —
    * p5/p95 are the values at ceil-ranks ⌈n/20⌉ / ⌈19n/20⌉ of the
    * (cents, orderkey, linenumber)-ordered group (deterministic
    * integers, the `q_sample_neyman` decile discipline, no
    * interpolation), clamp/trim compare by VALUE (tie-stable), and all
    * three means are floor-divided sums. Output per return flag:
    * n, p5, p95, plain/winsorized/trimmed means, rows trimmed.
    *
    * Scale shape: the value at ceil-rank k IS the smallest value whose
    * cumulative histogram count reaches k — so the thresholds come from
    * the (g, cents) VALUE HISTOGRAM (map-combinable; the only
    * corpus-sized work) plus a cumulative window over the ≤ |value
    * grid| histogram frame (the `q_text_ppl_buckets` bounded-grid
    * discipline — a per-group rank window over raw rows would push the
    * whole corpus through |groups| = 3 window tasks), then a ≤ |groups|
    * threshold broadcast and one map-combinable conditional-sum agg.
    */
  private val qAggWinsorize = Q(
    "q_agg_winsorize",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val hist = li.groupBy("g", "cents").agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("g").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("cnt").over(wc))
        .withColumn("n", sum("cnt").over(Window.partitionBy("g")))
      val thr = cum.groupBy("g").agg(
        min(when(col("cum") >= expr("(n + 19L) DIV 20L"), col("cents"))).as("p5"),
        min(when(col("cum") >= expr("(19L * n + 19L) DIV 20L"), col("cents"))).as("p95"))
      li.join(broadcast(thr), "g")
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          min("p5").as("p5_cents"), min("p95").as("p95_cents"),
          expr("sum(cents) div count(1)").as("mean_cents"),
          expr("sum(greatest(p5, least(p95, cents))) div count(1)").as("win_mean_cents"),
          expr("sum(CASE WHEN cents BETWEEN p5 AND p95 THEN cents END) " +
            "div sum(CAST(cents BETWEEN p5 AND p95 AS BIGINT))").as("trim_mean_cents"),
          expr("sum(CAST(cents < p5 OR cents > p95 AS BIGINT))").as("n_trimmed"))
        .orderBy("g")
    },
    Some("""WITH li AS (SELECT l_returnflag AS g,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                 FROM lineitem),
            h AS (SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM li GROUP BY g, cents),
            r AS (SELECT *, CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
                  FROM h),
            th AS (SELECT g,
                    MIN(CASE WHEN cum >= (n + 19) // 20 THEN cents END) AS p5,
                    MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN cents END) AS p95
                   FROM r GROUP BY g)
            SELECT li.g, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(p5) AS p5_cents, MIN(p95) AS p95_cents,
             CAST(CAST(SUM(cents) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_cents,
             CAST(CAST(SUM(GREATEST(p5, LEAST(p95, cents))) AS BIGINT)
                  // COUNT(*) AS BIGINT) AS win_mean_cents,
             CAST(CAST(SUM(CASE WHEN cents BETWEEN p5 AND p95 THEN cents END) AS BIGINT)
                  // CAST(SUM(CASE WHEN cents BETWEEN p5 AND p95 THEN 1 ELSE 0 END) AS BIGINT)
                  AS BIGINT) AS trim_mean_cents,
             CAST(SUM(CASE WHEN cents < p5 OR cents > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed
            FROM li JOIN th USING (g)
            GROUP BY li.g ORDER BY li.g"""))

  /** GINI COEFFICIENT of customer spend per nation (r13 — Gini 1912 via
    * the rank form G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx): the classic
    * whole-distribution inequality number, the audit read next to
    * `q_agg_activity_dist`'s bucket census and `q_mix_concentration`'s
    * HHI — HHI weighs the head, Gini integrates the entire Lorenz curve,
    * and a revenue/traffic team reads both). Customers with no orders
    * count at spend 0 (dropping them understates inequality). D1:
    * spend in exact integer cents (the `q_agg_winsorize` rule); ranks
    * come from the (nation, cents) VALUE HISTOGRAM — the tied block at
    * cents = v with count c and prior cumulative p contributes
    * v·(2·p·c + c·(c+1)) to 2·Σ i·x₍ᵢ₎, which is permutation-invariant
    * under ties — so no row-level rank window ever runs. Both engines
    * truncate the final non-negative division identically (G ≥ 0 by the
    * rearrangement inequality). Output per nation: customer count,
    * total spend, floor-bp Gini; ORDER BY n_name (≤ 25 rows).
    *
    * Scale shape: one map-combinable per-customer cents agg over orders
    * (the corpus-sized work) + broadcast-joined nation name, then the
    * histogram agg and a per-nation cumulative window over the ≤
    * |distinct (nation, cents)| histogram frame — the `q_agg_winsorize`
    * / `q_agg_spearman` bounded-grid discipline. Overflow (ADVICE-r10
    * class): Σ cents·rank ≈ n²·x̄ per nation overflows BIGINT near 10⁶
    * customers/nation at this price scale, so both moment sums widen
    * BEFORE the multiply (DECIMAL(38,0) / HUGEINT — exact to n ≈ 10¹⁵)
    * and only the final bp lands back in BIGINT.
    */
  private val qAggGini = Q(
    "q_agg_gini",
    (s, dir) => {
      val perCust = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val spend = Tables(s, dir, "customer")
        .join(broadcast(Tables(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_custkey"))
        .join(perCust.select(col("o_custkey").as("c_custkey"), col("cents")),
          Seq("c_custkey"), "left")
        .select(col("n_name"), coalesce(col("cents"), lit(0L)).as("cents"))
      val hist = spend.groupBy("n_name", "cents").agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("n_name").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum("cnt").over(wc))
        .groupBy("n_name")
        .agg(
          sum("cnt").as("n_cust"),
          sum(expr("CAST(cents AS DECIMAL(38, 0)) * cnt")).as("sx"),
          sum(expr("CAST(cents AS DECIMAL(38, 0)) * " +
            "(2L * (cum - cnt) * cnt + cnt * (cnt + 1L))")).as("s2ix"))
        .select(col("n_name"), col("n_cust"),
          expr("CAST(sx AS BIGINT)").as("sum_spend_cents"),
          expr("CASE WHEN sx = 0 THEN 0L ELSE " +
            "((s2ix - (n_cust + 1L) * sx) * 10000L) div " +
            "(CAST(n_cust AS DECIMAL(38, 0)) * sx) END").as("gini_bp"))
        .orderBy("n_name")
    },
    Some("""WITH pc AS (SELECT o_custkey,
                  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                 FROM orders GROUP BY o_custkey),
            sp AS (SELECT n.n_name, COALESCE(pc.cents, 0) AS cents
                   FROM customer c
                   JOIN nation n ON c.c_nationkey = n.n_nationkey
                   LEFT JOIN pc ON c.c_custkey = pc.o_custkey),
            h AS (SELECT n_name, cents, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM sp GROUP BY n_name, cents),
            r AS (SELECT *, CAST(SUM(cnt) OVER (PARTITION BY n_name ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                  FROM h),
            g AS (SELECT n_name, CAST(SUM(cnt) AS BIGINT) AS n_cust,
                    SUM(CAST(cents AS HUGEINT) * cnt) AS sx,
                    SUM(CAST(cents AS HUGEINT)
                        * (2 * (cum - cnt) * cnt + cnt * (cnt + 1))) AS s2ix
                  FROM r GROUP BY n_name)
            SELECT n_name, n_cust, CAST(sx AS BIGINT) AS sum_spend_cents,
              CAST(CASE WHEN sx = 0 THEN 0
                        ELSE (s2ix - (n_cust + 1) * sx) * 10000
                             // (CAST(n_cust AS HUGEINT) * sx) END AS BIGINT) AS gini_bp
            FROM g ORDER BY n_name"""))

  // Approx twins — the 100 TB path for distinct/quantile. Sketches are
  // engine-specific, so no DuckDB oracle (D5); our ScalaTest suite sanity-
  // bounds them against the exact values instead.
  private val qAggApproxHll = Q(
    "q_agg_approx_hll",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_nd_part"),
          approx_count_distinct(col("l_suppkey")).as("approx_nd_supp"))
        .orderBy("l_returnflag")
    })

  private val qAggApproxQuantile = Q(
    "q_agg_approx_quantile",
    (s, dir) => {
      // Scalar columns, not the array form: the driver's rows-only check
      // still loads the Spark parquet into pandas, where a list-typed cell
      // is unhashable and aborts the check (CORRECTNESS_r01).
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_extendedprice, array(0.5, 0.95, 0.99), 10000)")
          .as("pcts"))
        .select(
          col("l_returnflag"),
          element_at(col("pcts"), 1).as("p50_approx"),
          element_at(col("pcts"), 2).as("p95_approx"),
          element_at(col("pcts"), 3).as("p99_approx"))
        .orderBy("l_returnflag")
    })

  /** Mergeable-sketch re-aggregation (Apache DataSketches HLL, built into
    * Spark 4.x): per-(returnflag, linestatus) sketches are built first —
    * the "pre-aggregate once per partition/day" tier of a 100 TB pipeline —
    * then `hll_union_agg` merges them per returnflag WITHOUT touching raw
    * rows again. This is the property `approx_count_distinct` lacks (its
    * result is a number, not a re-mergeable state), and the reason sketch
    * columns, not counts, are what a production rollup table stores.
    * No DuckDB oracle (D5 — sketch internals are engine-specific);
    * InvariantsSpec bounds the estimate against the exact distinct count.
    */
  private val qAggSketchMerge = Q(
    "q_agg_sketch_merge",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
        .groupBy("l_returnflag")
        .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)")
          .as("nd_part_est"))
        .orderBy("l_returnflag")
    })

  /** Mergeable EXACT distinct counting via bitmap partials — the precise
    * counterpart to [[qAggSketchMerge]]'s HLL: per-(returnflag, linestatus,
    * 32k-bucket) bitmaps are built first (the pre-aggregate tier a rollup
    * table stores), then OR-merged across linestatus WITHOUT re-touching
    * raw rows, and the per-bucket exact cardinalities sum to the group's
    * exact distinct count. Because the bitmap is exact (unlike HLL), the
    * declared result equals a plain COUNT(DISTINCT) and carries a full
    * DuckDB oracle — what's pinned is that the two-level merge loses
    * nothing.
    *
    * Scale shape: keys shard into 32768-bit buckets
    * (`bitmap_bucket_number`), so bitmap size per row group is capped at
    * 4 KB regardless of key range, partials are OR-mergeable
    * (map-side-combinable, associative), and the bucket dimension spreads
    * a group's key space over many reducers — a billion-key domain is
    * ~30k bucket rows per group, never one giant state blob.
    */
  private val qAggBitmapDistinct = Q(
    "q_agg_bitmap_distinct",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").as("bm"))
        .groupBy("l_returnflag", "bkt")
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
        .groupBy("l_returnflag")
        .agg(sum("c").as("nd_part"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
              CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Count–Min sketch dimensions: depth (independent hash rows) × width
    * (cells per row). 4×1024 = 4096 integer cells — ~32 KB, broadcastable
    * anywhere — against 200k distinct partkeys at sf1, the point of the
    * exercise: a fixed-size summary whose point-estimate error (≤ e·N/W
    * with probability 1−e^−D) is tunable independently of corpus size.
    */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 1024

  /** The Count–Min cell updates of a key frame (one column `k`): D rows
    * per input key, (r, cell) per hash row. ONE spelling shared by the
    * batch sketch ([[qAggCountmin]]) and its streaming twin
    * (`Pipeline.countMinSketch`) so the hash/cell contract cannot drift
    * between the two — the replay-equality proof in StreamingSpec
    * depends on it. The D hash rows are the four 32-bit words of ONE
    * md5 digest (`graft_md5w32`) — one digest per fact row instead of
    * one per (row × hash), the constant that matters when every corpus
    * row pays it; the DuckDB twin reads the same digest quarters
    * ([[Llm.md5SliceSql]]).
    */
  private[graft] def cmUpdates(keys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    keys
      .withColumn("sl", expr("graft_md5w32(concat('cm_', CAST(k AS STRING)))"))
      .select(explode(expr(s"transform(sequence(0, ${CmDepth - 1}), " +
        s"r -> named_struct('r', r, 'cell', pmod(element_at(sl, CAST(r + 1 AS INT)), $CmWidth)))")).as("p"))
      .select(col("p.r").as("r"), col("p.cell").as("cell"))

  /** Probe-side cell of hash row `rVar` for a key column `k` — the same
    * digest-word contract as [[cmUpdates]], one row at a time.
    */
  private[graft] def cmCellExpr(rVar: String): String =
    s"pmod(element_at(graft_md5w32(concat('cm_', CAST(k AS STRING))), CAST($rVar + 1 AS INT)), $CmWidth)"

  /** Count–Min sketch — the third member of the mergeable-sketch family
    * beside HLL (distinct counts) and KLL/GK (quantiles): per-key COUNT
    * estimation from a fixed 4×1024 integer grid. Each update increments
    * one cell per hash row; a point estimate is the MIN over its D cells
    * — never an undercount, overcounts only from collisions. Unlike the
    * HLL/quantile sketches (D5, engine-specific internals, no-oracle),
    * CMS is pure integer arithmetic over an engine-portable hash
    * ([[Llm.md5Hex32Spark]]), so the WHOLE sketch — build, probe,
    * estimate — carries an exact DuckDB oracle; the declared output is
    * the top-20 exact heavy keys beside their sketch estimates and the
    * collision overcount (≥ 0 by construction).
    *
    * Scale shape: the build explodes each row into its D cell updates and
    * hash-aggregates — map-side combine caps every task's contribution at
    * D·W rows, so the exchange is O(D·W·tasks) regardless of corpus size,
    * and cell counts are sum-mergeable across partitions/days (the same
    * rollup-tier story as q_agg_sketch_merge, with an oracle). The probe
    * side is 20·D rows, hint-broadcast against the ≤ D·W-row sketch.
    */
  private val qAggCountmin = Q(
    "q_agg_countmin",
    (s, dir) => {
      // spread: 600k md5 digests; the l_partkey distribution carries
      // through the alias to the exact count's groupBy("k")
      val li = Tables.spread(s, dir, "lineitem", "l_partkey")
        .select(col("l_partkey").as("k"))
      val sketch = cmUpdates(li)
        .groupBy("r", "cell")
        .agg(count(lit(1)).as("c"))
      val exact = li.groupBy("k").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("k")).limit(20)
      val probes = exact
        .select(col("k"), col("exact_cnt"),
          explode(expr(s"sequence(0, ${CmDepth - 1})")).as("r"))
        .withColumn("cell", expr(cmCellExpr("r")))
      broadcast(probes).join(sketch, Seq("r", "cell"))
        .groupBy("k", "exact_cnt")
        .agg(min("c").as("cm_est"))
        .select(col("k").as("partkey"), col("exact_cnt"), col("cm_est"),
          (col("cm_est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("exact_cnt").desc, col("partkey"))
    },
    Some {
      def cellSql(rVar: String) = s"(${Llm.md5SliceSql(
        "'cm_' || CAST(k AS VARCHAR)", rVar)}) % $CmWidth"
      s"""WITH li AS (SELECT l_partkey AS k FROM lineitem),
          rs AS (SELECT unnest(range($CmDepth)) AS r),
          ce AS (SELECT r, ${cellSql("r")} AS cell, CAST(COUNT(*) AS BIGINT) AS c
                 FROM li CROSS JOIN rs GROUP BY 1, 2),
          ex AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM li
                 GROUP BY k ORDER BY exact_cnt DESC, k LIMIT 20),
          pr AS (SELECT k, exact_cnt, r, ${cellSql("r")} AS cell
                 FROM ex CROSS JOIN rs),
          es AS (SELECT k, exact_cnt, MIN(c) AS cm_est
                 FROM pr JOIN ce USING (r, cell) GROUP BY k, exact_cnt)
          SELECT k AS partkey, exact_cnt, cm_est,
                 cm_est - exact_cnt AS overcount
          FROM es ORDER BY exact_cnt DESC, partkey"""
    })

  /** Skew-mitigated aggregation: the salted two-phase shape (Skew
    * .saltedCountSum) spreads a hot grouping key over 8 partial groups,
    * then merges the algebraic partials — what keeps a heavy-hitter
    * user_id from pinning one reducer at 100 TB. Salting is plan-level
    * only, so the result is identical to a plain GROUP BY and the query
    * carries a full DuckDB oracle. Values are integer-µ-scaled before
    * summing (proven cross-engine-stable; raw double sums are order-
    * dependent, and the salted merge order differs from DuckDB's by
    * construction).
    */
  private val qAggSalted = Q(
    "q_agg_salted",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("v_us", expr("CAST(round(value * 1000000) AS BIGINT)"))
      Skew.saltedCountSum(ev, "user_id", "v_us", "event_id", 8)
        .select(col("user_id"), col("n").cast("long").as("n"),
          col("sum_value").as("sum_v_us"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v_us
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Single-pass histogram profiling: fixed-width value binning of
    * o_totalprice via width_bucket — map-side combinable (one partial
    * count per bucket per partition), so profiling 100 TB costs one scan
    * and a ~12-row shuffle. min/max per bucket are exact element picks
    * (no re-association), safe to emit unrounded. DuckDB has no
    * width_bucket; for uniform buckets the floor-division formula is
    * identical on [lo, hi), and the oracle clamps to the overflow bucket
    * nb+1 with LEAST because width_bucket saturates at nb+1 for every
    * x ≥ hi while raw floor-division would keep counting.
    */
  private val qAggHistogram = Q(
    "q_agg_histogram",
    (s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(expr("CAST(width_bucket(o_totalprice, 0D, 600000D, 12) AS BIGINT)")
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"),
          max("o_totalprice").as("hi"))
        .orderBy("bucket")
    },
    Some("""SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0) + 1, 13) AS BIGINT) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS n,
            MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
            FROM orders GROUP BY 1 ORDER BY bucket"""))

  private val qAggPivot = Q(
    "q_agg_pivot",
    (s, dir) => {
      // pivot: order counts per priority × status. Spark pivot emits NULL
      // for empty cells — coalesce to 0 to match the oracle's CASE sums.
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
            CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
            CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private val qAggUnpivot = Q(
    "q_agg_unpivot",
    (s, dir) => {
      // unpivot (melt): the wide lineitem measure columns rotated into
      // (metric, value) rows via the built-in Dataset.unpivot operator —
      // the inverse of q_agg_pivot's rotation — then re-aggregated per
      // metric. Melt is map-only (each input row emits 4 skinny rows, no
      // shuffle until the 4-key aggregate); sums are exact DECIMAL per
      // the D-rules, cast to DOUBLE once at the end.
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("decimal(18,2)").as("quantity"),
          col("l_extendedprice").cast("decimal(18,2)").as("extendedprice"),
          col("l_discount").cast("decimal(18,2)").as("discount"),
          col("l_tax").cast("decimal(18,2)").as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
          "metric", "value")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"),
          sum("value").cast("double").as("total"),
          min("value").cast("double").as("lo"),
          max("value").cast("double").as("hi"))
        .orderBy("metric")
    },
    Some("""WITH m AS (
              SELECT 'quantity' AS metric, CAST(l_quantity AS DECIMAL(18,2)) AS value FROM lineitem
              UNION ALL
              SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
              UNION ALL
              SELECT 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
              UNION ALL
              SELECT 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
            SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(value) AS DOUBLE) AS total,
                   CAST(MIN(value) AS DOUBLE) AS lo,
                   CAST(MAX(value) AS DOUBLE) AS hi
            FROM m GROUP BY metric ORDER BY metric"""))

  private val qAggStringAgg = Q(
    "q_agg_string_agg",
    (s, dir) => {
      // ordered string aggregation (listagg): numeric sort, then join
      Tables(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(expr(
          "array_join(transform(sort_array(collect_list(l_partkey)), x -> CAST(x AS STRING)), ',')")
          .as("parts_csv"))
        .orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey,
            string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS parts_csv
            FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""))

  private val qFilterScalarSubq = Q(
    "q_filter_scalar_subq",
    (s, dir) => {
      // scalar subquery through the spark.sql entry point (the rest of the
      // inventory uses the DataFrame DSL; this pins SQL-parser parity).
      // The threshold is an exact decimal sum / count so the predicate is
      // immune to partial-merge-order jitter at the boundary.
      Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql("""SELECT c_custkey, c_name, c_acctbal FROM customer_v
               WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                         / COUNT(*) FROM customer_v)
               ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                      / COUNT(*) FROM customer)
            ORDER BY c_custkey"""))

  /** Deterministic mode (most frequent value) per group, with an explicit
    * smallest-value tie-break. Built-in `mode()` exists in both engines but
    * leaves tie order engine-defined (SURVEY §2.0 D5), so the mode is
    * computed as a composed two-phase aggregation instead:
    * count per (group, value) — a map-side-combinable hash agg — then a
    * per-group argmax window over the (far smaller) distinct-value table.
    * At 100 TB this is the right plan anyway: the heavy reduction happens
    * in the first partial agg; the window only ever sees
    * |distinct values per group| rows.
    */
  private val qAggMode = Q(
    "q_agg_mode",
    (s, dir) => {
      val w = Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy(col("n").desc, col("l_quantity").asc)
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").as("mode_qty"), col("n").as("n_mode"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""WITH c AS (SELECT l_returnflag, l_linestatus, l_quantity,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM lineitem GROUP BY 1, 2, 3),
            r AS (SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY l_returnflag, l_linestatus
                    ORDER BY n DESC, l_quantity ASC) AS rn FROM c)
            SELECT l_returnflag, l_linestatus, l_quantity AS mode_qty,
                   n AS n_mode
            FROM r WHERE rn = 1 ORDER BY l_returnflag, l_linestatus"""))

  /** Filtered aggregation (`FILTER (WHERE ...)` / conditional aggregates):
    * several differently-predicated aggregates in ONE pass over the fact
    * table — the alternative (one scan + self-join per predicate) multiplies
    * I/O by the number of conditions. Still a plain two-phase hash agg.
    */
  private val qAggFiltered = Q(
    "q_agg_filtered",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_all"),
          count_if(col("l_quantity") > 25.0).as("n_big"),
          count_if(col("l_discount") === 0.0).as("n_nodisc"),
          expr("round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) FILTER (WHERE l_tax > 0.05) AS DOUBLE), 4)")
            .as("sum_hitax_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
            CAST(COUNT(*) AS BIGINT) AS n_all,
            CAST(COUNT(*) FILTER (WHERE l_quantity > 25.0) AS BIGINT) AS n_big,
            CAST(COUNT(*) FILTER (WHERE l_discount = 0.0) AS BIGINT) AS n_nodisc,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) FILTER (WHERE l_tax > 0.05) AS DOUBLE), 4) AS sum_hitax_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Funnel attribution window: later steps must land within 24 h of the
    * first click.
    */
  private val FunnelWinUs = 86400000000L

  /** Event funnel analysis (the ClickHouse `windowFunnel` story): per
    * user, how far through click → view → purchase did they get, with
    * every later step required within [[FunnelWinUs]] of the FIRST
    * click — the conversion-analytics query every event pipeline runs.
    * Levels are computed by stepwise conditional minima (t1 = first
    * click; t2 = first view after t1; t3 = first purchase after t2,
    * both inside the window), so a user's level is monotone by
    * construction; output is the per-level user count plus a user-id
    * checksum pinning exact membership.
    *
    * Scale shape: three filtered aggregations and all joins keyed by
    * user_id — one hash partitioning reused end to end (the post-agg
    * frames are one skinny row per qualifying user), no window over
    * event rows, no self-join. Map-side combine applies to every min().
    */
  /** Censoring horizon for the survival curve: users whose last event
    * falls within the final 7 days of the corpus window are treated as
    * still active (right-censored), not churned.
    */
  private val KmCensorUs = 7L * 86400000000L

  /** KAPLAN–MEIER survival curve of user lifetimes — the churn analysis
    * classic (Kaplan & Meier, JASA 1958 — among the most-cited papers in
    * statistics; every retention dashboard's survival tab): lifetime =
    * days between a user's first and last event, right-CENSORED when the
    * last event falls inside the final [[KmCensorUs]] window (the user
    * may still be active — dropping censoring is the textbook bias).
    * S(t) = Π_{t'≤t} (1 − d_t'/n_t') with d = churns at t, n = at-risk.
    *
    * D1: the product is sequential integer arithmetic in micro-units —
    * S ← S·(n−d) div n per step, folded LEFT-TO-RIGHT over the
    * duration-ordered array (a float exp-sum-log would not hash-match;
    * the integer fold is exact and order-pinned). The per-duration
    * frame is calendar-bounded (≤ |days| rows), so collecting it into
    * ONE array row and folding per prefix is bounded work — the oracle
    * twin is a RECURSIVE CTE over the same indexed rows.
    *
    * Scale shape: one user-keyed map-combinable (first, last) agg is the
    * only corpus-sized work; the duration census, the reverse-cumulative
    * at-risk window, and the fold all live on the ≤ |days| frame.
    */
  private val qAggSurvival = Q(
    "q_agg_survival",
    (s, dir) => {
      val u = Tables.events(s, dir)
        .groupBy("user_id").agg(min("ts_us").as("f"), max("ts_us").as("l"))
      val mx = u.agg(max("l").as("mx"))
      val c = u.crossJoin(broadcast(mx))
        .withColumn("dur", expr("(l - f) DIV 86400000000"))
        .withColumn("churned", expr(s"CAST(l < mx - ${KmCensorUs}L AS BIGINT)"))
        .groupBy("dur")
        .agg(count(lit(1)).as("nu"), sum("churned").as("d"))
      val w = Window.orderBy("dur")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val arr = c.withColumn("at_risk", sum("nu").over(w))
        .agg(sort_array(collect_list(
          struct(col("dur"), col("at_risk"), col("d")))).as("a"))
      arr.select(posexplode(col("a")).as(Seq("i", "x")), col("a"))
        .select(col("x.dur").as("t_days"), col("x.at_risk").as("n_at_risk"),
          col("x.d").as("n_churn"),
          expr("""aggregate(slice(a, 1, i + 1), 1000000L,
                    (acc, x) -> acc * (x.at_risk - x.d) div x.at_risk)""")
            .as("surv_micro"))
        .orderBy("t_days")
    },
    Some(s"""WITH RECURSIVE u AS (SELECT user_id, MIN(epoch_us(ts)) AS f,
                   MAX(epoch_us(ts)) AS l FROM events GROUP BY user_id),
            mx AS (SELECT MAX(l) AS mx FROM u),
            c AS (SELECT (l - f) // 86400000000 AS dur,
                   CAST(COUNT(*) AS BIGINT) AS nu,
                   CAST(SUM(CASE WHEN l < mx - $KmCensorUs THEN 1 ELSE 0 END) AS BIGINT) AS d
                  FROM u CROSS JOIN mx GROUP BY 1),
            r AS (SELECT dur,
                   CAST(SUM(nu) OVER (ORDER BY dur
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk,
                   d,
                   CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS i
                  FROM c),
            km(i, sv) AS (SELECT CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
                          UNION ALL
                          SELECT km.i + 1, km.sv * (r.at_risk - r.d) // r.at_risk
                          FROM km JOIN r ON r.i = km.i + 1)
            SELECT r.dur AS t_days, r.at_risk AS n_at_risk, r.d AS n_churn,
             km.sv AS surv_micro
            FROM r JOIN km ON km.i = r.i ORDER BY t_days"""))

  /** Benford expected first-digit shares in basis points:
    * ⌊log10(1 + 1/d)·10⁴⌋ for d = 1..9 — literals, so no float log at
    * runtime in either engine.
    */
  private val BenfordBp = Seq(3010L, 1760L, 1249L, 968L, 791L, 669L, 579L, 511L, 457L)

  /** BENFORD first-digit audit — the classic fraud/fabrication screen
    * (Benford 1938; Nigrini's forensic-accounting practice; Durtschi et
    * al. 2004): naturally-occurring multiplicative amounts put digit d
    * first with probability log10(1+1/d); fabricated or constrained data
    * does not. Audits l_extendedprice: the first significant digit is
    * extracted EXACTLY on the integer-cents path (substr of the BIGINT's
    * decimal rendering — no float log10 anywhere), expected shares are
    * precomputed basis-point literals, deviation is an integer
    * difference. TPC-H prices are ~uniform on a range, NOT Benford —
    * the fixture is a true positive for the screen, and the invariant
    * pins exactly that (the audit flags it) plus the distributional
    * identities.
    *
    * Scale shape: one scan → map-only digit extraction → ONE
    * map-combinable 9-row census → 1-row total broadcast + a 9-literal
    * broadcast join. Nothing after the census scales.
    */
  private val qAggBenford = Q(
    "q_agg_benford",
    (s, dir) => {
      val digits = Tables(s, dir, "lineitem")
        .filter(col("l_extendedprice") > 0)
        .select(expr(
          "CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val exp = s.range(1).select(explode(expr(
          s"array(${BenfordBp.zipWithIndex.map { case (bp, i) =>
            s"named_struct('digit', ${i + 1}L, 'benford_bp', ${bp}L)" }.mkString(",")})"))
          .as("x"))
        .select(col("x.digit").as("digit"), col("x.benford_bp").as("benford_bp"))
      val tot = digits.agg(sum("n").as("tn"))
      digits.join(broadcast(exp), "digit")
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 10000L div tn").as("share_bp"),
          col("benford_bp"),
          expr("abs(n * 10000L div tn - benford_bp)").as("dev_bp"))
        .orderBy("digit")
    },
    Some(s"""WITH d AS (SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                  FROM lineitem WHERE l_extendedprice > 0),
            c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
            e AS (SELECT * FROM (VALUES ${BenfordBp.zipWithIndex
              .map { case (bp, i) => s"(${i + 1}, $bp)" }.mkString(", ")})
                  AS t(digit, benford_bp)),
            tn AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c)
            SELECT c.digit, n,
             CAST(n * 10000 // tn AS BIGINT) AS share_bp,
             CAST(benford_bp AS BIGINT) AS benford_bp,
             CAST(abs(n * 10000 // tn - benford_bp) AS BIGINT) AS dev_bp
            FROM c JOIN e ON c.digit = e.digit CROSS JOIN tn
            ORDER BY c.digit"""))

  /** Number of Poisson-bootstrap replicates. */
  private val BootR = 32

  /** Poisson(1) CDF thresholds at 2³² scale: T_k = ⌊P(X ≤ k)·2³²⌋ for
    * k = 0..7 (weight 8 is the ≥ T_7 tail, P ≈ 1.1e-5) — literals shared
    * verbatim by both engine twins so the inverse-CDF draw cannot drift.
    */
  private val PoisT = Seq(1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L)

  /** The inverse-CDF weight CASE over hash `h`; `sfx` is "L" for Spark
    * SQL long literals, "" for DuckDB (no suffix; its integer literals
    * are already 64-bit capable). */
  private def poisW(h: String, sfx: String): String =
    PoisT.zipWithIndex.map { case (t, k) => s"WHEN $h < $t$sfx THEN $k$sfx" }
      .mkString("CASE ", " ", s" ELSE 8$sfx END")

  /** POISSON BOOTSTRAP of the mean order value — the uncertainty
    * estimate that actually runs at massive scale (Chamandy et al. 2012,
    * "Estimating uncertainty for massive data streams": classical
    * bootstrap resampling needs n draws WITH replacement per replicate —
    * a shuffle of the whole corpus per replicate — while Poisson(1)
    * weights approximate the multinomial row-independently, so ALL R
    * replicates ride ONE streaming pass). Each order contributes weight
    * w_r = F⁻¹_Pois(1)(u) to replicate r, u = md5-hash of (key, r) —
    * the engine-portable deterministic draw every sampling op here uses
    * (no rand(): rerun-stable, partition-order-free). Output: one row
    * per replicate with its effective row count and weighted mean in
    * integer cents (D1; div-floored).
    *
    * Scale shape: a map-only R× fan-out (sequence explode — CPU, not
    * shuffle mass) into a map-combinable R-group aggregation; the
    * exchange carries R partial rows per task. No window, no join. The
    * replicate-spread → CI step is the consumer's ≤ R-row problem.
    */
  private val qAggBootstrap = Q(
    "q_agg_bootstrap",
    (s, dir) => {
      val h = Llm.md5Hex32Spark(
        "concat('boot_', CAST(o_orderkey AS STRING), '_', CAST(r AS STRING))")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          explode(expr(s"sequence(0, ${BootR - 1})")).as("r"))
        .withColumn("w", expr(poisW(h, "L")))
        .groupBy(col("r").cast("long").as("rep"))
        .agg(sum("w").as("n_eff"), sum(expr("w * cents")).as("wsum"))
        .select(col("rep"), col("n_eff"),
          expr("wsum div n_eff").as("mean_cents"))
        .orderBy("rep")
    },
    Some(s"""WITH b AS (SELECT o_orderkey,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, r
                  FROM orders, unnest(range(0, $BootR)) AS u(r)),
             w AS (SELECT r, cents,
                    ${poisW(md5Hex32SqlBoot, "")} AS w
                   FROM b)
             SELECT CAST(r AS BIGINT) AS rep, CAST(SUM(w) AS BIGINT) AS n_eff,
              CAST(CAST(SUM(w * cents) AS BIGINT) // CAST(SUM(w) AS BIGINT) AS BIGINT) AS mean_cents
             FROM w GROUP BY r ORDER BY rep"""))

  /** DuckDB twin of the bootstrap draw hash (SQL is built before the Q
    * so the string interpolation stays readable). */
  private def md5Hex32SqlBoot: String = Llm.md5Hex32Sql(
    "'boot_' || CAST(o_orderkey AS VARCHAR) || '_' || CAST(r AS VARCHAR)")

  /** Lookback window for attribution touchpoints: 7 days in micros. */
  private val AttrWinUs = 7L * 86400000000L

  /** Multi-touch ATTRIBUTION — the marketing-analytics companion of
    * `q_agg_funnel`: each purchase (the conversion) credits the user's
    * preceding non-purchase events inside a 7-day lookback under the two
    * canonical models side by side — LAST-TOUCH (all credit to the
    * latest touchpoint; the struct-extremum election, no window) and
    * LINEAR (1/n to each touchpoint; D1: milli credit 1000 div n per
    * touch, so a conversion distributes ≤ 1000 with deterministic floor
    * loss). Conversions with no in-window touch report as the
    * '(direct)' channel — the row every attribution report must carry
    * or the models silently over-credit. Output per channel: both
    * models' credit and the touch volume; comparing the two columns IS
    * the report's purpose (last-touch concentrates, linear spreads).
    *
    * Scale shape: purchases ⋈ events is a user-keyed EQUI-join (the
    * funnel discipline) with the time window as residual — per-user
    * fan-out is bounded by per-user activity, never corpus²; then one
    * conversion-keyed agg (extremum election + touch count) and one
    * ≤|types| census. No window function anywhere.
    */
  private val qAggAttribution = Q(
    "q_agg_attribution",
    (s, dir) => {
      val e = Tables.events(s, dir).select("user_id", "event_type", "ts_us", "event_id")
      val conv = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("cts"), col("event_id").as("cid"))
      val touch = e.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts_us").as("tts"), col("event_id").as("tid"))
      // the (conversion, touchpoint) pair frame: user-keyed equi-join,
      // window residual; per-conversion touch count via one cid-keyed agg
      // (kept as an agg + self-join instead of a window so the pair frame
      // is shuffled once on cid either way and both consumers reuse it)
      val pair = conv.join(touch, Seq("user_id"))
        .filter(col("tts") < col("cts") && col("tts") >= col("cts") - AttrWinUs)
      val n = pair.groupBy("cid").agg(count(lit(1)).as("n"))
      // last touch: the (tts, tid) struct extremum per conversion — the
      // q_agg_ohlc election, no per-conversion window sort
      val lt = pair.groupBy("cid")
        .agg(max(struct(col("tts"), col("tid"), col("channel"))).as("b"))
        .select(col("cid"), col("b.channel").as("channel"))
      val ltc = conv.select("cid").join(lt, Seq("cid"), "left")
        .select(coalesce(col("channel"), lit("(direct)")).as("channel"))
        .groupBy("channel").agg(count(lit(1)).as("n_last_touch"))
      val lin = pair.join(n, "cid")
        .groupBy("channel")
        .agg(sum(expr("1000L div n")).as("linear_credit_milli"))
      ltc.join(lin, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"),
          coalesce(col("linear_credit_milli"), lit(0L)).as("linear_credit_milli"))
        .orderBy("channel")
    },
    Some(s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events),
            conv AS (SELECT user_id, ts_us AS cts, event_id AS cid FROM e
                     WHERE event_type = 'purchase'),
            touch AS (SELECT user_id, event_type AS channel, ts_us AS tts, event_id AS tid
                      FROM e WHERE event_type <> 'purchase'),
            pair AS (SELECT cid, channel, tts, tid
                     FROM conv JOIN touch USING (user_id)
                     WHERE tts < cts AND tts >= cts - $AttrWinUs),
            nn AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM pair GROUP BY cid),
            rk AS (SELECT cid, channel,
                    row_number() OVER (PARTITION BY cid
                      ORDER BY tts DESC, tid DESC) AS rn
                   FROM pair),
            lt AS (SELECT cid, channel FROM rk WHERE rn = 1),
            ltc AS (SELECT COALESCE(lt.channel, '(direct)') AS channel,
                     CAST(COUNT(*) AS BIGINT) AS n_last_touch
                    FROM conv LEFT JOIN lt USING (cid) GROUP BY 1),
            lin AS (SELECT channel,
                     CAST(SUM(1000 // n) AS BIGINT) AS linear_credit_milli
                    FROM pair JOIN nn USING (cid) GROUP BY channel)
            SELECT channel,
             CAST(COALESCE(n_last_touch, 0) AS BIGINT) AS n_last_touch,
             CAST(COALESCE(linear_credit_milli, 0) AS BIGINT) AS linear_credit_milli
            FROM ltc FULL OUTER JOIN lin USING (channel)
            ORDER BY channel"""))

  private val qAggFunnel = Q(
    "q_agg_funnel",
    (s, dir) => {
      val e = Tables.events(s, dir).select("user_id", "event_type", "ts_us")
      val t1 = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts_us").as("t1"))
      val t2 = e.join(t1, "user_id")
        .filter(col("event_type") === "view" &&
          col("ts_us") > col("t1") && col("ts_us") <= col("t1") + FunnelWinUs)
        .groupBy("user_id", "t1").agg(min("ts_us").as("t2"))
      val t3 = e.join(t2, "user_id")
        .filter(col("event_type") === "purchase" &&
          col("ts_us") > col("t2") && col("ts_us") <= col("t1") + FunnelWinUs)
        .groupBy("user_id").agg(min("ts_us").as("t3"))
      e.select("user_id").distinct()
        .join(t1, Seq("user_id"), "left")
        .join(t2.select("user_id", "t2"), Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .withColumn("level", expr(
          "CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 " +
            "WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_users"), sum("user_id").as("user_checksum"))
        .orderBy("level")
    },
    Some(s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
             t1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
                    WHERE event_type = 'click' GROUP BY user_id),
             t2 AS (SELECT e.user_id, t1.t1, MIN(ts_us) AS t2
                    FROM e JOIN t1 ON e.user_id = t1.user_id
                    WHERE event_type = 'view' AND ts_us > t1.t1
                      AND ts_us <= t1.t1 + $FunnelWinUs
                    GROUP BY e.user_id, t1.t1),
             t3 AS (SELECT e.user_id, MIN(ts_us) AS t3
                    FROM e JOIN t2 ON e.user_id = t2.user_id
                    WHERE event_type = 'purchase' AND ts_us > t2.t2
                      AND ts_us <= t2.t1 + $FunnelWinUs
                    GROUP BY e.user_id),
             l AS (SELECT u.user_id,
                    CASE WHEN t3.t3 IS NOT NULL THEN 3
                         WHEN t2.t2 IS NOT NULL THEN 2
                         WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS level
                   FROM (SELECT DISTINCT user_id FROM e) u
                   LEFT JOIN t1 USING (user_id)
                   LEFT JOIN t2 USING (user_id)
                   LEFT JOIN t3 USING (user_id))
             SELECT CAST(level AS BIGINT) AS level,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(user_id) AS BIGINT) AS user_checksum
             FROM l GROUP BY level ORDER BY level"""))

  /** Cohort bucket width: epoch weeks (integer division of µs). */
  private val WeekUs = 7L * 86400000000L

  /** Cohort retention (the funnel's standard companion): users bucketed
    * by their first-active epoch week (the cohort), then each cohort's
    * distinct active users counted per week offset — the
    * triangle-matrix retention report every product-analytics pipeline
    * computes. All integer arithmetic (epoch-µs DIV week), so the
    * result is engine-exact with no float discipline needed.
    *
    * Scale shape: the (user, week) activity set is distinct-ed FIRST
    * (one row per user-week, however hot a user's event stream is),
    * cohorts are a user-keyed min agg over it, and the join back is
    * user-keyed on two already-skinny frames; the final cell agg is a
    * plain count because upstream distinctness makes count ≡ count
    * distinct. Two partitionings total (user_id, then the cell key).
    */
  private val qAggRetention = Q(
    "q_agg_retention",
    (s, dir) => {
      val wk = Tables.events(s, dir)
        .select(col("user_id"), expr(s"ts_us DIV $WeekUs").as("wk"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(min("wk").as("cw"))
      wk.join(cohort, "user_id")
        .groupBy(col("cw").as("cohort_week"), (col("wk") - col("cw")).as("week_diff"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_diff")
    },
    Some(s"""WITH w AS (SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS wk
                        FROM events),
             c AS (SELECT user_id, MIN(wk) AS cw FROM w GROUP BY user_id)
             SELECT cw AS cohort_week, w.wk - cw AS week_diff,
              CAST(COUNT(*) AS BIGINT) AS n_users
             FROM w JOIN c USING (user_id)
             GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Incremental rollup maintenance — the materialized-aggregate-table
    * pattern (the exact-count sibling of q_agg_sketch_merge's HLL
    * state): a deterministic hash splits lineitem into an
    * already-rolled-up BASE and an incoming DELTA batch; the base is
    * pre-aggregated, the delta aggregated on arrival, and the two
    * states merge by summing counts/sums and min/max-ing extrema —
    * never re-reading base rows. Count and sum states are integral
    * doubles (quantities are whole numbers, far below 2^53), so every
    * merge order yields the identical result and the merged table
    * equals the from-scratch aggregate exactly.
    *
    * Scale shape: two map-combinable aggregations plus a merge agg over
    * |groups| rows — the delta's cost is O(delta), not O(base), which
    * is the entire point of maintaining the rollup incrementally.
    */
  private val qAggIncremental = Q(
    "q_agg_incremental",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .withColumn("is_base", expr(s"pmod(${Llm.md5Hex32Spark(
          "concat('inc_', CAST(l_orderkey AS STRING), '_', CAST(l_linenumber AS STRING))")}, 2) = 0"))
      def roll(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
      roll(li.filter(col("is_base"))).unionByName(roll(li.filter(!col("is_base"))))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("n").as("n"), round(sum("sum_qty"), 4).as("sum_qty"),
          min("min_qty").as("min_qty"), max("max_qty").as("max_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""WITH t AS (SELECT *,
              (${Llm.md5Hex32Sql(
                "'inc_' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")}) % 2 = 0
                AS is_base
             FROM lineitem),
            r AS (SELECT l_returnflag, l_linestatus, is_base,
                   COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
                   MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
                  FROM t GROUP BY 1, 2, 3)
            SELECT l_returnflag, l_linestatus, CAST(SUM(n) AS BIGINT) AS n,
             ROUND(SUM(sum_qty), 4) AS sum_qty,
             CAST(MIN(min_qty) AS DOUBLE) AS min_qty,
             CAST(MAX(max_qty) AS DOUBLE) AS max_qty
            FROM r GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Pearson correlation computed the D2-portable way: Spark's `corr()`
    * (and DuckDB's) streams FLOAT moments whose partial-merge order is
    * nondeterministic — un-oracle-able. Instead the five moments are
    * EXACT BIGINT sums over integerized values (quantities are integral
    * by fixture construction; prices rounded to whole currency units —
    * at sf0.1 Σy² ≈ 6.6·10¹⁵ stays under 2⁵³, so even the final
    * double conversion is exact; beyond that the conversion rounds
    * identically in both engines, IEEE round-to-nearest), and the
    * textbook formula runs ONCE per group on the merged scalars — one
    * map-combinable integer aggregation, deterministic under any
    * partitioning, floor-truncated at 6dp (engine ROUND rules differ at
    * .5; floor does not).
    */
  /** SPEARMAN rank correlation between quantity and price — the robust
    * twin of [[qAggCorr]] (Spearman 1904: Pearson on RANKS is immune
    * to the monotone-transform and outlier sensitivity that makes a
    * raw-value r misleading on heavy-tailed amounts — the robust
    * family's correlation member next to [[qAggWinsorize]] and
    * `q_win_mad`). D1: tie midranks are half-integers, so ranks run
    * DOUBLED off the two VALUE HISTOGRAMS (u(v) = 2·cumBefore + t + 1,
    * exact BIGINT — the `q_agg_mannwhitney` discipline); the moment
    * sums Σu, Σv, Σuv, Σu², Σv² accumulate in DECIMAL(38)/HUGEINT
    * (they cross 2⁶³ at warehouse row counts), and the textbook
    * formula runs ONCE on the merged scalars via identical IEEE
    * doubles (exact big integers convert round-to-nearest identically
    * in both engines — the [[qAggCorr]] conversion rule), floor-bp.
    *
    * Scale shape: two map-combinable value histograms + two bounded
    * cumulative windows (≤ |value grid| each, the declared
    * ppl_buckets class) + two value-keyed EQUI-joins back onto the
    * skinny (x, y) projection + ONE map-combinable moment agg; final
    * frame ONE row, no broadcast at all.
    */
  private val qAggSpearman = Q(
    "q_agg_spearman",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem").select(
        expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
        .localCheckpoint(true) // A/B sf0.1: 2.10 s with, 2.37 s without
      def ranks(c: String) = {
        val w = Window.orderBy(c)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        li.groupBy(c).agg(count(lit(1)).as("t"))
          .withColumn("cum", sum("t").over(w))
          .select(col(c), expr("2L * (cum - t) + t + 1L").as(s"r$c"))
      }
      li.join(ranks("x"), "x").join(ranks("y"), "y")
        .agg(count(lit(1)).as("n"),
          // one operand widened BEFORE the multiply: doubled midranks
          // reach ~2n, so a 64-bit rx*ry product crosses 2^63 near
          // n ≈ 1.5e9 rows — Spark (non-ANSI) would wrap silently while
          // DuckDB errors (ADVICE r10)
          sum(expr("CAST(rx AS DECIMAL(38, 0))")).as("su"),
          sum(expr("CAST(ry AS DECIMAL(38, 0))")).as("sv"),
          sum(expr("CAST(rx AS DECIMAL(38, 0)) * ry")).as("suv"),
          sum(expr("CAST(rx AS DECIMAL(38, 0)) * rx")).as("su2"),
          sum(expr("CAST(ry AS DECIMAL(38, 0)) * ry")).as("sv2"))
        .select(col("n"), expr(
          """CAST(floor((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
             - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE)
                     - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
                     - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)))
             * 10000D) AS BIGINT)""").as("rho_bp"))
    },
    Some("""WITH t0 AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem),
            hx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM t0 GROUP BY x),
            rx AS (SELECT x, 2 * (CAST(SUM(t) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t)
                     + t + 1 AS rx
                   FROM hx),
            hy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS t FROM t0 GROUP BY y),
            ry AS (SELECT y, 2 * (CAST(SUM(t) OVER (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t)
                     + t + 1 AS ry
                   FROM hy),
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(rx AS HUGEINT)) AS su, SUM(CAST(ry AS HUGEINT)) AS sv,
                   SUM(CAST(rx AS HUGEINT) * ry) AS suv,
                   SUM(CAST(rx AS HUGEINT) * rx) AS su2,
                   SUM(CAST(ry AS HUGEINT) * ry) AS sv2
                  FROM t0 JOIN rx USING (x) JOIN ry USING (y))
            SELECT n,
             CAST(FLOOR((CAST(n AS DOUBLE) * CAST(suv AS DOUBLE)
               - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(su2 AS DOUBLE)
                       - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sv2 AS DOUBLE)
                       - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)))
               * 10000) AS BIGINT) AS rho_bp
            FROM m"""))

  private val qAggCorr = Q(
    "q_agg_corr",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        expr("CAST(floor(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
      li.groupBy("flag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          // moment sums widened BEFORE the multiply: Σy² reaches
          // y²·n ≈ 2.25e10·n, crossing 2⁶³ near n ≈ 4e8 rows per flag —
          // Spark's BIGINT sum wraps silently there while DuckDB's SUM
          // auto-widens to HUGEINT (the ADVICE r10 parity class); the
          // doubles the corr formula reads are identical either way
          sum(expr("CAST(x AS DECIMAL(38, 0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38, 0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38, 0)) * y")).as("syy"))
        .withColumn("corr6", expr(
          "floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) " +
            "* 1000000) / 1000000"))
        .select("flag", "n", "corr6")
        .orderBy("flag")
    },
    Some("""WITH t AS (SELECT l_returnflag AS flag,
              CAST(floor(l_quantity) AS BIGINT) AS x,
              CAST(round(l_extendedprice) AS BIGINT) AS y
             FROM lineitem),
            m AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy
                  FROM t GROUP BY flag)
            SELECT flag, n,
             floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                   sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                        (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   * 1000000) / 1000000 AS corr6
            FROM m ORDER BY flag"""))

  /** Exponential time-decay scoring (one-week half-life) in EXACT integer
    * arithmetic — the recency-weighted engagement feature every ranking /
    * user-model pipeline computes, made oracle-able: the float form
    * (Σ v·2^(−age/τ)) can't cross-engine hash-match (D1), so values are
    * integerized to micro-units and the half-life weight is applied as an
    * arithmetic right shift by whole weeks of age (floor division by 2^k
    * — exact, order-independent, map-combinable). The reference day is
    * the corpus max timestamp (1-row broadcast, the scalar-subquery
    * pattern), so the query is a pure function of the corpus. Top-20
    * users by decayed engagement; values are nonnegative by fixture
    * construction, keeping shift and floor-division semantics identical
    * across engines.
    */
  private val qAggDecay = Q(
    "q_agg_decay",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      val ref = ev.agg(max(to_date(col("ts"))).as("ref_day"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          expr("shiftright(CAST(floor(value * 1000000) AS BIGINT), " +
            "CAST(datediff(ref_day, to_date(ts)) div 7 AS INT))").as("decayed"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("decayed").as("decayed_micro"))
        .orderBy(col("decayed_micro").desc, col("user_id"))
        .limit(20)
    },
    Some("""WITH ref AS (SELECT CAST(MAX(ts) AS DATE) AS ref_day FROM events),
             d AS (SELECT user_id,
                     CAST(floor(value * 1000000) AS BIGINT) //
                       (CAST(1 AS BIGINT) <<
                        (date_diff('day', CAST(ts AS DATE), ref_day) // 7)) AS decayed
                   FROM events, ref)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(decayed) AS BIGINT) AS decayed_micro
            FROM d GROUP BY user_id
            ORDER BY decayed_micro DESC, user_id LIMIT 20"""))

  /** Rolling 7-day distinct users per day — the dashboard/retention metric
    * every event pipeline serves, in its only scale-viable shape: a naive
    * per-day `COUNT(DISTINCT)` over a trailing window re-scans W days of
    * raw events for EVERY output day (W× the corpus per sweep, and the
    * distinct is not decomposable across days), while the rollup form
    * computes per-(day, bucket) roaring bitmaps ONCE (map-side combinable
    * `bitmap_construct_agg`, same mergeable-sketch family as
    * `q_agg_bitmap_distinct`) and then OR-merges W bitmap rows per output
    * day. After the daily rollup every frame is CALENDAR-sized — days ×
    * buckets rows regardless of corpus size — so the window merge costs
    * the same at 100 TB as at sf0.01. The explode(sequence(day, day+6))
    * fan-out publishes each daily bitmap to the ≤ 7 trailing windows it
    * serves; the semi-join against the observed-day frame (tiny,
    * broadcast) trims phantom days past the corpus end. Exact distinct
    * counts — bitmaps, not HLL — so the DuckDB `COUNT(DISTINCT)` twin
    * hash-matches cell-exactly.
    */
  private val qAggRollingDistinct = Q(
    "q_agg_rolling_distinct",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("ts_us DIV 86400000000").as("day"), col("user_id"))
        .groupBy(col("day"), expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      val days = daily.select("day").distinct()
      daily
        .select(explode(expr("sequence(day, day + 6)")).as("day"),
          col("bkt"), col("bm"))
        .join(broadcast(days), "day")
        .groupBy("day", "bkt")
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
        .groupBy("day")
        .agg(sum("c").as("nd_users_7d"))
        .orderBy("day")
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS d, user_id FROM events),
             days AS (SELECT DISTINCT d FROM e)
            SELECT days.d AS day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS nd_users_7d
            FROM days JOIN e ON e.d BETWEEN days.d - 6 AND days.d
            GROUP BY 1 ORDER BY 1"""))

  /** Time-series RESAMPLING to OHLC bars — the downsample primitive every
    * metrics/feature pipeline runs before modeling (raw events → fixed
    * hourly bars per event type: open/high/low/close/volume). The whole
    * op is ONE map-combinable hash aggregate: open and close are
    * `min/max(struct(ts_us, event_id, value))` — (ts_us, event_id) is a
    * total order (D1), so the struct min IS "value at earliest event"
    * with deterministic ties, computed inside the same partial+final agg
    * as high/low/volume, no window, no sort, no second scan. Selection
    * (not arithmetic) on the double `value` column keeps every output
    * cell bit-identical across engines. Output is calendar×types-sized
    * regardless of corpus size — each task ships ≤ bars×types rows.
    */
  /** The OHLC bar aggregation of an events frame (needs ts_us, event_id,
    * event_type, value) — ONE spelling shared by the declared batch op
    * and the streaming twin (`streaming.Pipeline.ohlcBars`) so the bar
    * contract cannot drift between the two; every aggregate inside is
    * mergeable (struct extrema, min/max, count), which is exactly why
    * the same expression folds as a streaming aggregation with
    * calendar-bounded state.
    */
  private[graft] def ohlcFrom(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("bar"),
        col("ts_us"), col("event_id"), col("value"))
      .groupBy("event_type", "bar")
      .agg(
        expr("min(struct(ts_us, event_id, value)).value").as("open"),
        max("value").as("high"), min("value").as("low"),
        expr("max(struct(ts_us, event_id, value)).value").as("close"),
        count(lit(1)).as("n_events"))

  private val qAggOhlc = Q(
    "q_agg_ohlc",
    (s, dir) => ohlcFrom(Tables.events(s, dir)).orderBy("event_type", "bar"),
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bar,
                  epoch_us(ts) AS ts_us, event_id, value FROM events)
            SELECT event_type, bar,
                   FIRST(value ORDER BY ts_us, event_id) AS open,
                   MAX(value) AS high, MIN(value) AS low,
                   LAST(value ORDER BY ts_us, event_id) AS close,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM e GROUP BY event_type, bar
            ORDER BY event_type, bar"""))

  /** Ingest-volume ANOMALY detection — the ops monitor every event
    * pipeline runs on its own throughput: each day's event count
    * compared to the EXACT median of the trailing 7 OBSERVED days
    * (the 7 preceding days that had ≥ 1 event — a zero-event calendar
    * day is absent from the daily frame, so a gap stretches the
    * baseline window across it; gap-fill with the `q_etl_gapfill`
    * spine first if strict calendar semantics are needed). Median,
    * not mean — one bad day shouldn't poison the baseline it is
    * judged against; deviation in integer basis points, flagged
    * outside [50%, 200%]. All-integer (D1): the median of 7 BIGINT
    * counts is element 4 of the sorted window array — no float
    * percentile, no engine drift; days without a full 7-observed-day
    * history emit no verdict (NULL-free output, the warm-up rule
    * every monitor has).
    *
    * Scale shape: the corpus collapses immediately to the per-day count
    * frame (partial+final — calendar-sized forever after); the trailing
    * window runs UNPARTITIONED over that ≤ |days| frame, which is the
    * documented calendar-sized single-task exemption (the
    * `q_etl_gapfill` spine class): ~365 rows per year of data, not a
    * corpus-scaling concern.
    */
  /** Key-skew CENSUS over the event stream — the measurement half of the
    * skew story whose mitigation half is `q_agg_salted` /
    * `q_join_skew_salted`: per-user event counts bucketed into
    * exact-integer log2 ranges (`length(bin(cnt))`, the
    * `q_graph_degree_dist` discipline — never a float log), reporting
    * per bucket the user count, the event MASS (where shuffle bytes
    * live), and mass share in bp. A heavy top bucket here is the
    * operational trigger for salting a user-keyed shuffle; the census
    * itself never sorts or ranks users (a global rank is exactly the
    * skewed shuffle this op exists to warn about).
    *
    * Scale shape: two stacked map-combinable integer aggs (user census →
    * ≤ 64-row bucket census) + a 1-row total broadcast for the shares.
    */
  private val qAggActivityDist = Q(
    "q_agg_activity_dist",
    (s, dir) => {
      val per = Tables(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val b = per
        .groupBy(expr("CAST(length(bin(cnt)) AS BIGINT)").as("bucket"))
        .agg(count(lit(1)).as("n_users"), sum("cnt").as("event_mass"),
          min("cnt").as("min_cnt"), max("cnt").as("max_cnt"))
      b.crossJoin(broadcast(b.agg(sum("event_mass").as("tot"))))
        .select(col("bucket"), col("n_users"), col("event_mass"),
          col("min_cnt"), col("max_cnt"),
          expr("event_mass * 10000L div tot").as("mass_bp"))
        .orderBy("bucket")
    },
    Some("""WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM events GROUP BY user_id),
            b AS (SELECT CAST(length(bin(cnt)) AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(cnt) AS BIGINT) AS event_mass,
                   MIN(cnt) AS min_cnt, MAX(cnt) AS max_cnt
                  FROM per GROUP BY 1),
            t AS (SELECT CAST(SUM(event_mass) AS BIGINT) AS tot FROM b)
            SELECT bucket, n_users, event_mass, min_cnt, max_cnt,
                   event_mass * 10000 // tot AS mass_bp
            FROM b CROSS JOIN t ORDER BY bucket"""))

  /** CLASSICAL SEASONAL DECOMPOSITION of daily ingest volume — the
    * ratio-to-moving-average method (Persons 1919, the method behind
    * Census X-11's seasonal factors; Makridakis et al., "Forecasting"
    * §3): each full-window day's count is expressed as a ratio to its
    * CENTERED 7-day moving sum (the trend estimate at that day), and
    * the per-weekday mean of those ratios is the day-of-week seasonal
    * index — 10000 bp = an average weekday, the table a capacity
    * planner multiplies forecasts by. D1: ratio_bp = cnt·7·10⁴ div
    * sum7 keeps everything integer (cnt·7/sum7 IS the ratio to the
    * 7-day mean); edge days without a full centered window are
    * excluded, the textbook rule. Weekday 0 = Monday via
    * pmod(day + 3, 7) (epoch day 0 = Thursday).
    *
    * Scale shape: the map-combinable per-day census is the only
    * corpus-sized work; the centered window and the ≤ 7-row weekday
    * census live on the ≤ |days| calendar frame (the `q_agg_anomaly`
    * partition-less-window exemption class, bounded and declared).
    */
  private val qAggSeasonality = Q(
    "q_agg_seasonality",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      // RANGE frame keyed on the day NUMBER, not a positional ROWS
      // frame: with a gap in the daily calendar a ±3-ROWS frame would
      // silently span more than 7 calendar days and misattribute
      // ratios to weekdays (ADVICE r10); the value-keyed frame is
      // calendar-centered by construction and n7 = 7 still drops
      // partial windows (now including windows made partial by a gap)
      val w = Window.orderBy("day").rangeBetween(-3, 3)
      daily
        .withColumn("sum7", sum("cnt").over(w))
        .withColumn("n7", count(lit(1)).over(w))
        .filter(col("n7") === 7)
        .withColumn("ratio_bp", expr("cnt * 7L * 10000L div sum7"))
        .groupBy(expr("pmod(day + 3, 7)").as("dow"))
        .agg(count(lit(1)).as("n_days"),
          expr("sum(ratio_bp) div count(1)").as("idx_bp"),
          min("ratio_bp").as("min_bp"), max("ratio_bp").as("max_bp"))
        .orderBy("dow")
    },
    Some("""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events GROUP BY 1),
            m AS (SELECT day, cnt,
                   SUM(cnt) OVER (ORDER BY day
                     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
                   COUNT(*) OVER (ORDER BY day
                     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
                  FROM d),
            r AS (SELECT ((day + 3) % 7 + 7) % 7 AS dow,
                   cnt * 7 * 10000 // sum7 AS ratio_bp
                  FROM m WHERE n7 = 7)
            SELECT CAST(dow AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(ratio_bp) // COUNT(*) AS BIGINT) AS idx_bp,
             CAST(MIN(ratio_bp) AS BIGINT) AS min_bp,
             CAST(MAX(ratio_bp) AS BIGINT) AS max_bp
            FROM r GROUP BY dow ORDER BY dow"""))

  private val qAggAnomaly = Q(
    "q_agg_anomaly",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("day").rowsBetween(-7, -1)
      daily
        .withColumn("trail", collect_list("cnt").over(w))
        .filter(size(col("trail")) === 7)
        .withColumn("med7", expr("element_at(sort_array(trail), 4)"))
        .select(col("day"), col("cnt"), col("med7"),
          expr("cnt * 10000L div med7").as("dev_bp"))
        .withColumn("is_anomaly",
          (col("dev_bp") < 5000 || col("dev_bp") > 20000).cast("boolean"))
        .orderBy("day")
    },
    Some("""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
                  CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM events GROUP BY 1),
            t AS (SELECT day, cnt,
                    list(cnt) OVER (ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail
                  FROM d)
            SELECT day, cnt,
                   list_sort(trail)[4] AS med7,
                   cnt * 10000 // list_sort(trail)[4] AS dev_bp,
                   (cnt * 10000 // list_sort(trail)[4] < 5000 OR
                    cnt * 10000 // list_sort(trail)[4] > 20000) AS is_anomaly
            FROM t WHERE len(trail) = 7 ORDER BY day"""))

  /** The audience-overlap pairs the set-algebra query reports. Fixed and
    * ordered so both engines emit identical rows.
    */
  private val BitmapPairs =
    Seq(("view", "click"), ("click", "purchase"), ("signup", "purchase"))

  /** Exact distinct-set ALGEBRA on mergeable bitmaps — the capability
    * `q_agg_bitmap_distinct` (single-set cardinality) can't express:
    * audience overlap between event types (|A|, |B|, |A∪B|, and the
    * derived |A∩B| / |A∖B| / |B∖A| via inclusion–exclusion, since the
    * engine ships `bitmap_or_agg` but no scalar AND — and I-E on exact
    * sets is exact, unlike the HLL equivalent where the subtraction
    * amplifies sketch error).
    *
    * Scale shape: the corpus is touched exactly ONCE — the per-(type,
    * bucket) bitmap construct is partial+final (each task ships at most
    * types×buckets 4 KB bitmap rows regardless of input size). Every
    * frame after that first aggregate is SKETCH-sized: pair membership
    * is a map-only explode of an inline constant array (no join of any
    * kind), and the union OR-merge re-aggregates only the ≤
    * types×buckets×pairs fanned rows. At 100 TB the cost is the one
    * scan; the algebra is free. This is the audience-overlap /
    * reach-dedup report every event pipeline publishes, exact instead
    * of HLL-approximate.
    */
  private val qAggBitmapSetops = Q(
    "q_agg_bitmap_setops",
    (s, dir) => {
      // corpus → one bitmap row per (event_type, 32k-bit bucket)
      val perType = Tables(s, dir, "events")
        .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      val nd = perType.groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n"))
      // pair membership as a map-only explode of an inline constant array
      // (never a join): each bitmap row fans out to the ≤ |pairs| pairs
      // its event_type participates in
      val pairsArr = BitmapPairs
        .map { case (a, b) => s"named_struct('ta', '$a', 'tb', '$b')" }
        .mkString("array(", ", ", ")")
      val union = perType
        .select(col("bkt"), col("bm"), explode(expr(
          s"filter($pairsArr, p -> p.ta = event_type OR p.tb = event_type)")).as("p"))
        .groupBy(col("p.ta").as("ta"), col("p.tb").as("tb"), col("bkt"))
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
        .groupBy("ta", "tb").agg(sum("c").as("nd_union"))
      union
        .join(nd.select(col("event_type").as("ta"), col("n").as("nd_a")), "ta")
        .join(nd.select(col("event_type").as("tb"), col("n").as("nd_b")), "tb")
        .select(
          concat_ws("->", col("ta"), col("tb")).as("pair"),
          col("nd_a"), col("nd_b"), col("nd_union"),
          (col("nd_a") + col("nd_b") - col("nd_union")).as("nd_both"),
          (col("nd_union") - col("nd_b")).as("nd_a_only"),
          (col("nd_union") - col("nd_a")).as("nd_b_only"))
        .orderBy("pair")
    },
    Some(s"""WITH pairs(ta, tb) AS (VALUES ${BitmapPairs
        .map { case (a, b) => s"('$a', '$b')" }.mkString(", ")}),
             nd AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
                    FROM events GROUP BY 1),
             un AS (SELECT p.ta, p.tb, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS nu
                    FROM pairs p JOIN events e ON e.event_type IN (p.ta, p.tb)
                    GROUP BY 1, 2)
             SELECT un.ta || '->' || un.tb AS pair,
                    na.n AS nd_a, nb.n AS nd_b, un.nu AS nd_union,
                    na.n + nb.n - un.nu AS nd_both,
                    un.nu - nb.n AS nd_a_only,
                    un.nu - na.n AS nd_b_only
             FROM un JOIN nd na ON na.event_type = un.ta
                     JOIN nd nb ON nb.event_type = un.tb
             ORDER BY pair"""))

  /** CHI-SQUARE independence audit of the source × language contingency
    * table — the CATEGORICAL member of the drift/test trio
    * ([[qAggMannwhitney]] location, [[qAggKsTest]] shape, this one
    * composition; Pearson 1900, and the categorical-drift detector of
    * Rabanser et al. NeurIPS'19): does language mix depend on source?
    * χ² = Σ (o − e)²/e with e = r·c/N. D1: the deviation d = o·N − r·c
    * is an EXACT BIGINT per cell; the per-cell contribution
    * ⌊d²·10⁶/(r·c·N)⌋ (the algebraic identity (o−e)²/e = d²/(r·c·N))
    * is floored over the
    * BIT-IDENTICAL double quotient of exact integer inputs (the
    * `q_dedup_jaccard` floor-over-identical-quotient rule: both
    * engines run the same IEEE ops in the same order, so the floor
    * cannot straddle). χ²·10⁶ = Σ cells; reported with dof and the
    * top-contributing cell (struct-extremum election, `q_agg_mode`
    * rule) — the cell a drift report drills into.
    *
    * Scale shape: ONE map-combinable (source, lang) census (the only
    * corpus-sized work) + two margin censuses + a 1-row N broadcast
    * fanned onto the ≤ |sources|·|langs| cell frame; final frame ONE
    * row.
    */
  private val qAggChisq = Q(
    "q_agg_chisq",
    (s, dir) => {
      val cont = Tables(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val rm = cont.groupBy("source").agg(sum("o").as("r"))
      val cm = cont.groupBy("lang").agg(sum("o").as("c"))
      val nn = cont.agg(sum("o").as("nn"))
      cont.join(rm, "source").join(cm, "lang")
        .crossJoin(broadcast(nn))
        // deviation widened BEFORE the multiply: o·N ≈ (n/cells)·n is
        // n²-scale, wrapping BIGINT past n ≈ 2e11 docs in Spark where
        // DuckDB errors (the ADVICE r10 parity class); d only feeds the
        // bit-identical double contribution, so nothing downstream moves
        .withColumn("d", expr("CAST(o AS DECIMAL(38, 0)) * nn - CAST(r AS DECIMAL(38, 0)) * c"))
        .withColumn("contrib_micro", expr(
          "CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) * 1000000D " +
            "/ (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nn AS DOUBLE))) AS BIGINT)"))
        .agg(max("nn").as("n_docs"),
          count(lit(1)).as("n_cells"),
          countDistinct("source").as("n_sources"),
          countDistinct("lang").as("n_langs"),
          sum("contrib_micro").as("chi2_micro"),
          max(struct(col("contrib_micro"), col("source"), col("lang")).as("x")).as("pk"))
        .withColumn("dof", expr("(n_sources - 1L) * (n_langs - 1L)"))
        .select(col("n_docs"), col("n_cells"), col("dof"),
          col("chi2_micro"),
          expr("chi2_micro div dof").as("chi2_per_dof_micro"),
          col("pk.source").as("top_source"), col("pk.lang").as("top_lang"),
          col("pk.contrib_micro").as("top_contrib_micro"))
    },
    Some("""WITH ct AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
                  FROM documents GROUP BY source, lang),
            rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM ct GROUP BY source),
            cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM ct GROUP BY lang),
            nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM ct),
            cell AS (SELECT ct.source, ct.lang,
                      CAST(o AS HUGEINT) * nn.nn - CAST(r AS HUGEINT) * c AS d,
                      r, c, nn.nn AS nn
                     FROM ct JOIN rm USING (source) JOIN cm USING (lang)
                     CROSS JOIN nn),
            sc AS (SELECT source, lang, nn,
                    CAST(FLOOR(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) * 1000000
                      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                         * CAST(nn AS DOUBLE))) AS BIGINT) AS contrib_micro
                   FROM cell)
            SELECT MAX(nn) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             (CAST(COUNT(DISTINCT source) AS BIGINT) - 1)
               * (CAST(COUNT(DISTINCT lang) AS BIGINT) - 1) AS dof,
             CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro,
             CAST(CAST(SUM(contrib_micro) AS BIGINT)
                  // ((CAST(COUNT(DISTINCT source) AS BIGINT) - 1)
                     * (CAST(COUNT(DISTINCT lang) AS BIGINT) - 1)) AS BIGINT) AS chi2_per_dof_micro,
             MAX(struct_pack(contrib_micro := contrib_micro,
                             source := source, lang := lang)).source AS top_source,
             MAX(struct_pack(contrib_micro := contrib_micro,
                             source := source, lang := lang)).lang AS top_lang,
             MAX(struct_pack(contrib_micro := contrib_micro,
                             source := source, lang := lang)).contrib_micro AS top_contrib_micro
            FROM sc"""))

  /** HIGHER-MOMENT distribution profile — SKEWNESS and EXCESS KURTOSIS
    * per line status (r11 — the Pearson moment coefficients; the data-
    * profiling readout that says WHY a mean/variance pair misleads:
    * heavy tail vs symmetric spread — dbt/GE-style profilers and
    * feature-store monitors ship exactly this next to [[qAggStats]]'
    * second moments). D1: the four raw power sums accumulate EXACTLY in
    * DECIMAL(38)/HUGEINT (x ≤ 50 ⇒ Σx⁴ ≤ 6.25e6·n crosses 2⁶³ near
    * n ≈ 1.5e12 — the ADVICE r10 widening class); mean/variance are
    * exact truncating rationals off the n-scaled central sums; the two
    * normalized shape coefficients run ONCE on the five merged scalars
    * through identical IEEE doubles, floor-milli (the `q_agg_spearman`
    * merged-scalar rule — no per-row float ever exists).
    *
    * Scale shape: ONE map-combinable 5-sum agg over the scan; the
    * formula frame is ≤|status| rows; nothing after the agg scales.
    */
  private val qAggMoments = Q(
    "q_agg_moments",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_linestatus").as("st"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("x"))
        .groupBy("st")
        .agg(count(lit(1)).as("n"),
          sum("x").as("s1"),
          sum(expr("CAST(x AS DECIMAL(38, 0)) * x")).as("s2"),
          sum(expr("CAST(x AS DECIMAL(38, 0)) * x * x")).as("s3"),
          sum(expr("CAST(x AS DECIMAL(38, 0)) * x * x * x")).as("s4"))
        .withColumn("m2n", expr("CAST(n AS DECIMAL(38, 0)) * s2 - CAST(s1 AS DECIMAL(38, 0)) * s1"))
        .select(col("st"), col("n"),
          expr("(s1 * 1000L) div n").as("mean_milli"),
          expr("(m2n * 1000L) div (CAST(n AS DECIMAL(38, 0)) * n)").as("var_milli"),
          // zero-variance guard (ADVICE r11): m2n = 0 makes both shape
          // coefficients 0/0 — Spark's non-ANSI CAST(NaN AS BIGINT)
          // yields 0 where DuckDB errors out of range, so the degenerate
          // group is declared NULL identically in both engines BEFORE
          // the double ever goes NaN/Inf.
          expr("""CASE WHEN m2n = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(floor(
              (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
               - 3D * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
               + 2D * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              / (CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 * sqrt(CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
              * 1000D) AS BIGINT) END""").as("skew_milli"),
          expr("""CASE WHEN m2n = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(floor(
              ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE)
                - 4D * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
                + 6D * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                - 3D * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               / (CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               - 3D) * 1000D) AS BIGINT) END""").as("kurt_milli"))
        .orderBy("st")
    },
    Some("""WITH t AS (SELECT l_linestatus AS st,
                   CAST(floor(l_quantity) AS BIGINT) AS x
                  FROM lineitem),
            g AS (SELECT st, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s1,
                   SUM(CAST(x AS HUGEINT) * x) AS s2,
                   SUM(CAST(x AS HUGEINT) * x * x) AS s3,
                   SUM(CAST(x AS HUGEINT) * x * x * x) AS s4
                  FROM t GROUP BY st),
            c AS (SELECT *, CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS m2n
                  FROM g)
            SELECT st, n,
             CAST((s1 * 1000) // n AS BIGINT) AS mean_milli,
             CAST((m2n * 1000) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_milli,
             CASE WHEN m2n = 0 THEN NULL ELSE CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s3 AS DOUBLE)
                - 3 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                + 2 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               / (CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                  * sqrt(CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
               * 1000) AS BIGINT) END AS skew_milli,
             CASE WHEN m2n = 0 THEN NULL ELSE CAST(FLOOR(
               ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s4 AS DOUBLE)
                 - 4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)
                 + 6 * CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                 - 3 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                / (CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                / (CAST(m2n AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                - 3) * 1000) AS BIGINT) END AS kurt_milli
            FROM c ORDER BY st"""))

  /** CRAMÉR's V effect size off the SAME source×lang contingency census
    * as [[qAggChisq]] (r11 — Cramér 1946 §21.9): χ² says "dependent or
    * not" but grows with n, so two corpora cannot be compared by χ²
    * alone; V² = χ²/(n·min(r−1,c−1)) ∈ [0,1] is the scale-free effect
    * size a curation gate actually thresholds on ("is source↔lang
    * coupling strong enough to stratify by?"). D1: sqrt-free by
    * declaration — V² in ppm is exactly chi2_micro div (n·k) since
    * chi2_micro carries the 10⁶ scale already; the φ² companion
    * (chi2_micro div n) comes free. The strong-association verdict is
    * the V ≥ 0.2 gate, integer-compared as v2_ppm ≥ 40000.
    *
    * Scale shape: identical to chisq — ONE map-combinable contingency
    * census + margin joins on the ≤|sources|×|langs| frame; one row out.
    */
  private val qAggCramersV = Q(
    "q_agg_cramers_v",
    (s, dir) => {
      val cont = Tables(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val rm = cont.groupBy("source").agg(sum("o").as("r"))
      val cm = cont.groupBy("lang").agg(sum("o").as("c"))
      val nn = cont.agg(sum("o").as("nn"))
      cont.join(rm, "source").join(cm, "lang")
        .crossJoin(broadcast(nn))
        // deviation widened BEFORE the multiply: o·N ≈ (n/cells)·n is
        // n²-scale, wrapping BIGINT past n ≈ 2e11 docs in Spark where
        // DuckDB errors (the ADVICE r10 parity class); d only feeds the
        // bit-identical double contribution, so nothing downstream moves
        .withColumn("d", expr("CAST(o AS DECIMAL(38, 0)) * nn - CAST(r AS DECIMAL(38, 0)) * c"))
        .withColumn("contrib_micro", expr(
          "CAST(floor(CAST(d AS DOUBLE) * CAST(d AS DOUBLE) * 1000000D " +
            "/ (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nn AS DOUBLE))) AS BIGINT)"))
        .agg(max("nn").as("n_docs"),
          countDistinct("source").as("n_sources"),
          countDistinct("lang").as("n_langs"),
          sum("contrib_micro").as("chi2_micro"))
        .withColumn("k", expr(
          "CASE WHEN n_sources < n_langs THEN n_sources - 1L ELSE n_langs - 1L END"))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("chi2_micro"),
          expr("chi2_micro div n_docs").as("phi2_ppm"),
          expr("chi2_micro div (n_docs * k)").as("v2_ppm"),
          expr("CAST(chi2_micro div (n_docs * k) >= 40000L AS BIGINT)")
            .as("strong_assoc"))
    },
    Some("""WITH ct AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
                  FROM documents GROUP BY source, lang),
            rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM ct GROUP BY source),
            cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c FROM ct GROUP BY lang),
            nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM ct),
            sc AS (SELECT ct.source, ct.lang, nn.nn,
                    CAST(FLOOR(CAST(CAST(o AS HUGEINT) * nn.nn - CAST(r AS HUGEINT) * c AS DOUBLE)
                      * CAST(CAST(o AS HUGEINT) * nn.nn - CAST(r AS HUGEINT) * c AS DOUBLE) * 1000000
                      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                         * CAST(nn.nn AS DOUBLE))) AS BIGINT) AS contrib_micro
                   FROM ct JOIN rm USING (source) JOIN cm USING (lang)
                   CROSS JOIN nn),
            agg AS (SELECT MAX(nn) AS n_docs,
                     CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                     CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                     CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro
                    FROM sc),
            kk AS (SELECT *, CASE WHEN n_sources < n_langs THEN n_sources - 1
                                  ELSE n_langs - 1 END AS k
                   FROM agg)
            SELECT n_docs, n_sources, n_langs, chi2_micro,
             CAST(chi2_micro // n_docs AS BIGINT) AS phi2_ppm,
             CAST(chi2_micro // (n_docs * k) AS BIGINT) AS v2_ppm,
             CAST(chi2_micro // (n_docs * k) >= 40000 AS BIGINT) AS strong_assoc
            FROM kk"""))

  /** Two-sample KOLMOGOROV–SMIRNOV drift test between order ERAS —
    * THE distribution-shift monitor of every feature store (Kolmogorov
    * 1933/Smirnov 1948; Rabanser et al. NeurIPS'19 "Failing Loudly"
    * benchmarks exactly this for ML drift): where [[qAggMannwhitney]]
    * detects a LOCATION shift, KS flags ANY shape change — D = max_v
    * |F_A(v) − F_B(v)| between the pre-1998 and post-1998 order-value
    * distributions, with the value where the gap peaks (the diagnostic
    * a drift report drills into). D1: CDFs never materialize as
    * floats — the gap runs CROSS-MULTIPLIED, Dnum = max|cumA·nB −
    * cumB·nA| exact BIGINT off the value histogram; the α = 0.05
    * verdict D ≥ 1.358·√((nA+nB)/nA·nB) is the sqrt-free comparison
    * Dnum²·10⁶ ≥ 1844164·(nA+nB)·nA·nB in DECIMAL(38)/HUGEINT; the
    * peak location is a struct-extremum election (deterministic
    * tie-break, the `q_agg_mode` rule).
    *
    * Scale shape: map-only era flag + ONE map-combinable value
    * histogram; one cumulative window on the ≤ |value grid| histogram
    * (declared ppl_buckets class — both running CDFs share the frame);
    * final frame ONE row.
    */
  private val qAggKsTest = Q(
    "q_agg_ks_test",
    (s, dir) => {
      val hist = Tables(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AS BIGINT)").as("early"))
        .groupBy("cents")
        .agg(sum("early").as("ca"), sum(expr("1L - early")).as("cb"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = hist.agg(sum("ca").as("ta"), sum("cb").as("tb"))
      hist
        .withColumn("cuma", sum("ca").over(w))
        .withColumn("cumb", sum("cb").over(w))
        .crossJoin(broadcast(tot))
        // the gap product ITSELF widened, not just its consumers: cumA·nB
        // reaches nA·nB even when the gap is tiny, so the BIGINT product
        // wraps near nA ≈ nB ≈ 3e9 while the declared outputs are still
        // comfortably in range — Spark wraps silently where DuckDB
        // errors (the ADVICE r10 parity class). With dn carried in
        // DECIMAL(38)/HUGEINT, every declared column is exact over the
        // schema's whole domain nA·nB < 2⁶³ (d_num ≤ nA·nB by
        // construction, so its BIGINT printout saturates only where the
        // schema itself does)
        .withColumn("dn", expr(
          "abs(CAST(cuma AS DECIMAL(38, 0)) * tb - CAST(cumb AS DECIMAL(38, 0)) * ta)"))
        .agg(max("ta").as("n_a"), max("tb").as("n_b"),
          max(struct(col("dn"), col("cents")).as("x")).as("pk"))
        .select(col("n_a"), col("n_b"),
          col("pk.dn").as("dnw"), col("pk.cents").as("at_cents"))
        .withColumn("d_bp", expr(
          "(dnw * 10000L) div (CAST(n_a AS DECIMAL(38, 0)) * n_b)"))
        .withColumn("significant", expr(
          """CAST(dnw * dnw * 1000000L
               >= 1844164BD * (n_a + n_b) * n_a * n_b AS BIGINT)"""))
        .withColumn("d_num", expr("CAST(dnw AS BIGINT)"))
        .select("n_a", "n_b", "d_num", "d_bp", "at_cents", "significant")
    },
    Some(s"""WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                    CAST(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                         THEN 1 ELSE 0 END AS BIGINT) AS early
                   FROM orders),
             h AS (SELECT cents, CAST(SUM(early) AS BIGINT) AS ca,
                    CAST(SUM(1 - early) AS BIGINT) AS cb
                   FROM o GROUP BY cents),
             t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                    CAST(SUM(cb) AS BIGINT) AS n_b FROM h),
             c AS (SELECT cents,
                    CAST(SUM(ca) OVER (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
                    CAST(SUM(cb) OVER (ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
                   FROM h),
             pk AS (SELECT MAX(struct_pack(
                     dn := abs(CAST(cuma AS HUGEINT) * t.n_b
                               - CAST(cumb AS HUGEINT) * t.n_a),
                     cents := cents)) AS x
                    FROM c CROSS JOIN t)
             SELECT t.n_a, t.n_b, CAST(x.dn AS BIGINT) AS d_num,
              CAST((CAST(x.dn AS HUGEINT) * 10000)
                   // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT) AS d_bp,
              x.cents AS at_cents,
              CAST(CASE WHEN CAST(x.dn AS HUGEINT) * x.dn * 1000000
                        >= 1844164 * CAST(t.n_a + t.n_b AS HUGEINT) * t.n_a * t.n_b
                        THEN 1 ELSE 0 END AS BIGINT) AS significant
             FROM pk CROSS JOIN t"""))

  /** MANN–WHITNEY U rank-sum readout — the NONPARAMETRIC twin of
    * [[qAggAbTest]] (Mann & Whitney 1947; the test every experiment
    * platform falls back to when the metric is heavy-tailed enough that
    * the z-test's mean is the wrong summary — revenue being the
    * canonical case): arms by the same user-keyed hash randomization
    * (salt "mw_"), statistic U = how often an A-order outranks a
    * B-order, reported as the probability-of-superiority AUC in bp
    * (U/nA·nB — the effect size Wilcoxon tables don't give you).
    * D1: midranks with ties are half-integers, so everything runs
    * DOUBLED — R2_A = Σ_v nA(v)·(2·cumBefore + t_v + 1) is an exact
    * BIGINT off the value histogram, 2U_A = R2_A − nA(nA+1); the
    * |z| ≥ 2 verdict is the sqrt-free cross-comparison
    * 3·D2²·N(N−1) ≥ 4·nA·nB·[(N+1)N(N−1) − ΣT] (D2 = 2U−nA·nB,
    * ΣT = Σ(t³−t) the tie correction) evaluated in DECIMAL(38)/HUGEINT
    * — exact at any N, no division, no float.
    *
    * Scale shape: map-only hash-assign + ONE map-combinable value
    * histogram (the `q_agg_winsorize` discipline); the cumulative
    * window runs on the ≤ |value grid| histogram (declared bounded
    * partition-less window, the ppl_buckets class) and the final frame
    * is ONE row.
    */
  private val qAggMannwhitney = Q(
    "q_agg_mannwhitney",
    (s, dir) => {
      val h = Llm.md5Hex32Spark("concat('mw_', CAST(o_custkey AS STRING))")
      val hist = Tables(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr(s"pmod($h, 2)").as("arm"))
        .groupBy("cents")
        .agg(sum(expr("CAST(arm = 0 AS BIGINT)")).as("na"),
          sum(expr("CAST(arm = 1 AS BIGINT)")).as("nb"))
        .withColumn("t", col("na") + col("nb"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cumb", sum("t").over(w) - col("t"))
        .agg(sum("na").as("n_a"), sum("nb").as("n_b"),
          sum(expr("na * (2L * cumb + t + 1L)")).as("r2_a"),
          sum(expr("t * t * t - t")).as("sum_t3"))
        .withColumn("u2_a", expr("r2_a - n_a * (n_a + 1L)"))
        // same widening as ks_test's d_bp: u2_a reaches 2·nA·nB, so the
        // ·10⁴ numerator wraps in BIGINT at warehouse arm sizes
        .withColumn("auc_bp", expr(
          "(CAST(u2_a AS DECIMAL(38, 0)) * 10000L) div (2BD * n_a * n_b)"))
        .withColumn("significant", expr(
          """CAST(3BD * CAST(u2_a - n_a * n_b AS DECIMAL(38, 0))
                 * CAST(u2_a - n_a * n_b AS DECIMAL(38, 0))
                 * (n_a + n_b) * (n_a + n_b - 1L)
               >= 4BD * n_a * n_b
                 * (CAST(n_a + n_b + 1L AS DECIMAL(38, 0)) * (n_a + n_b)
                    * (n_a + n_b - 1L) - sum_t3) AS BIGINT)"""))
        .select("n_a", "n_b", "r2_a", "u2_a", "sum_t3", "auc_bp", "significant")
    },
    Some(s"""WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                    CAST((${Llm.md5Hex32Sql("'mw_' || CAST(o_custkey AS VARCHAR)")}) % 2 AS BIGINT) AS arm
                   FROM orders),
             h AS (SELECT cents,
                    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                    CAST(COUNT(*) AS BIGINT) AS t
                   FROM o GROUP BY cents),
             c AS (SELECT *, CAST(SUM(t) OVER (ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - t AS cumb
                   FROM h),
             agg AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
                      CAST(SUM(nb) AS BIGINT) AS n_b,
                      CAST(SUM(na * (2 * cumb + t + 1)) AS BIGINT) AS r2_a,
                      CAST(SUM(t * t * t - t) AS BIGINT) AS sum_t3
                     FROM c),
             u AS (SELECT *, r2_a - n_a * (n_a + 1) AS u2_a FROM agg)
             SELECT n_a, n_b, r2_a, u2_a, sum_t3,
              CAST((CAST(u2_a AS HUGEINT) * 10000)
                   // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS auc_bp,
              CAST(CASE WHEN 3 * CAST(u2_a - n_a * n_b AS HUGEINT)
                              * CAST(u2_a - n_a * n_b AS HUGEINT)
                              * (n_a + n_b) * (n_a + n_b - 1)
                         >= 4 * CAST(n_a AS HUGEINT) * n_b
                              * (CAST(n_a + n_b + 1 AS HUGEINT) * (n_a + n_b)
                                 * (n_a + n_b - 1) - sum_t3)
                        THEN 1 ELSE 0 END AS BIGINT) AS significant
             FROM u"""))

  /** Two-sample A/B EXPERIMENT readout — the analytics table every
    * product experiment ends at: per metric (event type), each arm's
    * size, mean, and variance, the lift, and a z-test verdict. The
    * assignment is the standard deterministic hash randomization
    * (salted md5 of user_id, mod 2 — the `q_split_train` membership
    * discipline: no rand(), re-runs agree, and assignment is by USER so
    * a user's events never straddle arms — the unit-of-randomization
    * rule of every experimentation platform, Kohavi et al. KDD'07).
    *
    * Declared D1 substitutions: values pre-quantized to integer
    * milli-units (the one float op per row, before any sum); variance
    * is the biased population form q/n − (s/n)² in truncating integer
    * divisions; the verdict is a pooled two-sample z with |z| ≥ 2
    * (~95%), spelled as ONE integer cross-comparison d² ≥ 4·(va/na +
    * vb/nb) — no sqrt, no float, engine-exact. On this fixture value ⊥
    * user parity, so verdicts are null-effect draws; the flag column is
    * the operator's contract, not the fixture's story.
    *
    * Scale shape: one scan → map-only quantize + hash-assign → ONE
    * map-combinable (type, arm) aggregate → 5×2 rows pivoted by
    * conditional sums into 5. Nothing after the first agg scales.
    */
  /** EXPERIMENT POWER / MDE readout — the "how long must this test
    * run" table every experimentation platform prints next to its
    * verdict (Cohen 1988; Kohavi et al., "Trustworthy Online
    * Controlled Experiments" §17): at α = 0.05 two-sided and 80% power
    * the detectable lift is MDE = (z_{α/2} + z_β)·SE = 2.8016·SE, and
    * the per-arm sample needed for a 5%-of-mean lift is
    * n* = 2.8016²·(σ²_A + σ²_B)/Δ². Reuses [[qAggAbTest]]'s exact
    * census verbatim (same salt "ab_", same integer milli moments —
    * the plan is FOR that experiment): variances are the identical
    * truncating-integer spellings, and the two float steps (one sqrt,
    * one division) are floored over bit-identical doubles of those
    * exact integers (jaccard floor rule). Output per metric: arm
    * sizes, mean, variances, MDE in milli and in bp of the control
    * mean, and the 5%-lift sample requirement.
    *
    * Scale shape: identical to `q_agg_ab_test` — one scan, map-only
    * hash-assign + quantize, ONE map-combinable (type)-keyed agg with
    * conditional sums; nothing after the agg scales.
    */
  private val qAggPower = Q(
    "q_agg_power",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("arm", expr(s"pmod(${Llm.md5Hex32Spark(
          "concat('ab_', CAST(user_id AS STRING))")}, 2L)"))
        .withColumn("vm", expr("CAST(floor(value * 1000) AS BIGINT)"))
        .groupBy("event_type")
        .agg(
          sum(expr("CASE WHEN arm = 0 THEN 1L ELSE 0L END")).as("n_a"),
          sum(expr("CASE WHEN arm = 1 THEN 1L ELSE 0L END")).as("n_b"),
          sum(expr("CASE WHEN arm = 0 THEN vm ELSE 0L END")).as("sa"),
          sum(expr("CASE WHEN arm = 1 THEN vm ELSE 0L END")).as("sb"),
          // second moments widened BEFORE the multiply: Σvm² ≤ 1e6·n
          // crosses 2⁶³ near n ≈ 9e12 events per type — Spark's BIGINT
          // sum wraps silently there while DuckDB's SUM auto-widens to
          // HUGEINT (the ADVICE r10 parity class); every downstream
          // div collapses back to BIGINT-bounded values
          sum(expr("CASE WHEN arm = 0 THEN CAST(vm AS DECIMAL(38, 0)) * vm ELSE 0 END")).as("qa"),
          sum(expr("CASE WHEN arm = 1 THEN CAST(vm AS DECIMAL(38, 0)) * vm ELSE 0 END")).as("qb"))
        .withColumn("mean_a_milli", expr("sa div n_a"))
        .withColumn("var_a", expr("qa div n_a - (sa div n_a) * (sa div n_a)"))
        .withColumn("var_b", expr("qb div n_b - (sb div n_b) * (sb div n_b)"))
        .withColumn("mde_milli", expr(
          "CAST(floor(2.8016D * sqrt(CAST(var_a div n_a + var_b div n_b AS DOUBLE))) AS BIGINT)"))
        .withColumn("mde_bp", expr(
          "CASE WHEN mean_a_milli > 0 THEN mde_milli * 10000L div mean_a_milli ELSE 0L END"))
        // guard >= 20, not > 0: the 5% delta is mean DIV 20, which is 0
        // for 0 < mean < 20 milli — Spark's double 0/0 would give
        // +Inf → Long.MaxValue → wrap while DuckDB yields NULL
        // (ADVICE r10); a sub-2-cent-mean metric has no meaningful
        // 5%-MDE plan, so it reports the same 0 sentinel as mean = 0
        .withColumn("n_need_5pct", expr(
          """CASE WHEN mean_a_milli >= 20 THEN
               CAST(floor(7.84896256D * CAST(var_a + var_b AS DOUBLE)
                 / (CAST(mean_a_milli DIV 20L AS DOUBLE)
                    * CAST(mean_a_milli DIV 20L AS DOUBLE))) AS BIGINT) + 1L
             ELSE 0L END"""))
        .select("event_type", "n_a", "n_b", "mean_a_milli", "var_a",
          "var_b", "mde_milli", "mde_bp", "n_need_5pct")
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type,
                   (${Llm.md5Hex32Sql("'ab_' || CAST(user_id AS VARCHAR)")}) % 2 AS arm,
                   CAST(FLOOR(value * 1000) AS BIGINT) AS vm
                  FROM events),
            g AS (SELECT event_type,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS sa,
                   CAST(SUM(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS sb,
                   SUM(CASE WHEN arm = 0 THEN CAST(vm AS HUGEINT) * vm ELSE 0 END) AS qa,
                   SUM(CASE WHEN arm = 1 THEN CAST(vm AS HUGEINT) * vm ELSE 0 END) AS qb
                  FROM e GROUP BY event_type),
            v AS (SELECT event_type, n_a, n_b,
                   CAST(sa // n_a AS BIGINT) AS mean_a_milli,
                   CAST(qa // n_a - (sa // n_a) * (sa // n_a) AS BIGINT) AS var_a,
                   CAST(qb // n_b - (sb // n_b) * (sb // n_b) AS BIGINT) AS var_b
                  FROM g),
            m AS (SELECT *,
                   CAST(FLOOR(2.8016 * sqrt(CAST(var_a // n_a + var_b // n_b AS DOUBLE))) AS BIGINT) AS mde_milli
                  FROM v)
            SELECT event_type, n_a, n_b, mean_a_milli, var_a, var_b, mde_milli,
             CAST(CASE WHEN mean_a_milli > 0
                  THEN mde_milli * 10000 // mean_a_milli ELSE 0 END AS BIGINT) AS mde_bp,
             CAST(CASE WHEN mean_a_milli >= 20 THEN
                    CAST(FLOOR(7.84896256 * CAST(var_a + var_b AS DOUBLE)
                      / (CAST(mean_a_milli // 20 AS DOUBLE)
                         * CAST(mean_a_milli // 20 AS DOUBLE))) AS BIGINT) + 1
                  ELSE 0 END AS BIGINT) AS n_need_5pct
            FROM m ORDER BY event_type"""))

  private val qAggAbTest = Q(
    "q_agg_ab_test",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("arm", expr(s"pmod(${Llm.md5Hex32Spark(
          "concat('ab_', CAST(user_id AS STRING))")}, 2L)"))
        .withColumn("vm", expr("CAST(floor(value * 1000) AS BIGINT)"))
        .groupBy("event_type")
        .agg(
          sum(expr("CASE WHEN arm = 0 THEN 1L ELSE 0L END")).as("n_a"),
          sum(expr("CASE WHEN arm = 1 THEN 1L ELSE 0L END")).as("n_b"),
          sum(expr("CASE WHEN arm = 0 THEN vm ELSE 0L END")).as("sa"),
          sum(expr("CASE WHEN arm = 1 THEN vm ELSE 0L END")).as("sb"),
          // second moments widened BEFORE the multiply: Σvm² ≤ 1e6·n
          // crosses 2⁶³ near n ≈ 9e12 events per type — Spark's BIGINT
          // sum wraps silently there while DuckDB's SUM auto-widens to
          // HUGEINT (the ADVICE r10 parity class); every downstream
          // div collapses back to BIGINT-bounded values
          sum(expr("CASE WHEN arm = 0 THEN CAST(vm AS DECIMAL(38, 0)) * vm ELSE 0 END")).as("qa"),
          sum(expr("CASE WHEN arm = 1 THEN CAST(vm AS DECIMAL(38, 0)) * vm ELSE 0 END")).as("qb"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          expr("sa div n_a").as("mean_a_milli"),
          expr("sb div n_b").as("mean_b_milli"),
          expr("sb div n_b - sa div n_a").as("lift_milli"),
          expr("qa div n_a - (sa div n_a) * (sa div n_a)").as("var_a"),
          expr("qb div n_b - (sb div n_b) * (sb div n_b)").as("var_b"),
          expr("""CAST((sb div n_b - sa div n_a) * (sb div n_b - sa div n_a) >=
                  4L * ((qa div n_a - (sa div n_a) * (sa div n_a)) div n_a +
                        (qb div n_b - (sb div n_b) * (sb div n_b)) div n_b)
                  AS BIGINT)""").as("significant"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type,
                   (${Llm.md5Hex32Sql("'ab_' || CAST(user_id AS VARCHAR)")}) % 2 AS arm,
                   CAST(FLOOR(value * 1000) AS BIGINT) AS vm
                  FROM events),
            g AS (SELECT event_type,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS sa,
                   CAST(SUM(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS sb,
                   SUM(CASE WHEN arm = 0 THEN CAST(vm AS HUGEINT) * vm ELSE 0 END) AS qa,
                   SUM(CASE WHEN arm = 1 THEN CAST(vm AS HUGEINT) * vm ELSE 0 END) AS qb
                  FROM e GROUP BY event_type)
            SELECT event_type, n_a, n_b,
             CAST(sa // n_a AS BIGINT) AS mean_a_milli,
             CAST(sb // n_b AS BIGINT) AS mean_b_milli,
             CAST(sb // n_b - sa // n_a AS BIGINT) AS lift_milli,
             CAST(qa // n_a - (sa // n_a) * (sa // n_a) AS BIGINT) AS var_a,
             CAST(qb // n_b - (sb // n_b) * (sb // n_b) AS BIGINT) AS var_b,
             CAST((sb // n_b - sa // n_a) * (sb // n_b - sa // n_a) >=
                  4 * ((qa // n_a - (sa // n_a) * (sa // n_a)) // n_a +
                       (qb // n_b - (sb // n_b) * (sb // n_b)) // n_b)
                  AS BIGINT) AS significant
            FROM g ORDER BY event_type"""))

  /** GROUP-SEQUENTIAL experiment monitoring with O'BRIEN–FLEMING
    * boundaries (r11 — O'Brien & Fleming Biometrics'79; Lan & DeMets'83
    * alpha-spending; the "peeking problem" fix every experiment platform
    * ships: looking at a fixed-α z-test 4 times inflates false
    * positives ~3×, so each interim look pays a STRICTER boundary
    * z_k = C·√(K/k), spending almost no alpha early). The event
    * calendar splits into K = 4 equal looks; at each look the readout
    * is the CUMULATIVE two-sample z² of the `ab_` user-hash
    * randomization (the ab_test census machinery verbatim) against the
    * squared OBF boundary C²·K/k in micro (C² = 4.098617 for overall
    * α = 0.05, K = 4 — the textbook critical set 4.049/2.863/2.337/
    * 2.024 squared).
    *
    * D1: boundaries are INTEGER micro constants (16394468 div k is
    * exactly the C²·K/k grid since 4·C²·10⁶ = 16394468); the crossing
    * verdict is the sqrt-free cross-comparison d²·10⁶ ≥ thr·(va/na +
    * vb/nb) in DECIMAL(38)/HUGEINT (the ab_test |z| ≥ 2 rule with a
    * per-look threshold); all cumulative moments are exact truncating
    * integers. The fixture is a true null (same A/A hash split as
    * ab_test), so the honest declared outcome is NO crossing at any
    * look — pinned by the invariant, with the boundary grid replayed.
    *
    * Scale shape: 1-row calendar-bounds broadcast, ONE map-combinable
    * (look, arm) census, prefix sums on the ≤K-row frame (registered
    * bounded partition-less window), K rows out.
    */
  private val qAggSequential = Q(
    "q_agg_sequential",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_us DIV 86400000000").as("dd"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      val bounds = ev.agg(min("dd").as("lo"), max("dd").as("hi"))
      val census = ev.crossJoin(broadcast(bounds))
        .withColumn("lk", expr(
          "1L + least(3L, (dd - lo) * 4L div (hi - lo + 1L))"))
        .withColumn("arm", expr(s"pmod(${Llm.md5Hex32Spark(
          "concat('ab_', CAST(user_id AS STRING))")}, 2L)"))
        .groupBy("lk")
        .agg(
          sum(expr("CAST(arm = 0 AS BIGINT)")).as("cn_a"),
          sum(expr("CAST(arm = 1 AS BIGINT)")).as("cn_b"),
          sum(expr("CASE WHEN arm = 0 THEN vm ELSE 0L END")).as("cs_a"),
          sum(expr("CASE WHEN arm = 1 THEN vm ELSE 0L END")).as("cs_b"),
          sum(expr("CASE WHEN arm = 0 THEN CAST(vm AS DECIMAL(38, 0)) * vm ELSE 0 END")).as("cq_a"),
          sum(expr("CASE WHEN arm = 1 THEN CAST(vm AS DECIMAL(38, 0)) * vm ELSE 0 END")).as("cq_b"))
      val w = Window.orderBy("lk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      census
        .withColumn("n_a", sum("cn_a").over(w))
        .withColumn("n_b", sum("cn_b").over(w))
        .withColumn("s_a", sum("cs_a").over(w))
        .withColumn("s_b", sum("cs_b").over(w))
        .withColumn("q_a", sum("cq_a").over(w))
        .withColumn("q_b", sum("cq_b").over(w))
        .withColumn("d", expr("s_b div n_b - s_a div n_a"))
        .withColumn("se2", expr(
          """(q_a div n_a - (s_a div n_a) * (s_a div n_a)) div n_a
             + (q_b div n_b - (s_b div n_b) * (s_b div n_b)) div n_b"""))
        .withColumn("bound_z2_micro", expr("16394468L div lk"))
        .select(col("lk").as("look"), col("n_a"), col("n_b"),
          expr("s_b * 1000L div n_b - s_a * 1000L div n_a").as("lift_milli"),
          col("bound_z2_micro"),
          expr("""CAST(CAST(d AS DECIMAL(38, 0)) * d * 1000000L
               >= CAST(bound_z2_micro AS DECIMAL(38, 0)) * se2 AS BIGINT)""")
            .as("crossed"))
        .orderBy("look")
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS dd,
                    CAST(FLOOR(value * 1000) AS BIGINT) AS vm
                   FROM events),
             bo AS (SELECT MIN(dd) AS lo, MAX(dd) AS hi FROM e),
             a AS (SELECT 1 + least(3, (dd - lo) * 4 // (hi - lo + 1)) AS lk,
                    (${Llm.md5Hex32Sql("'ab_' || CAST(user_id AS VARCHAR)")}) % 2 AS arm,
                    vm
                   FROM e CROSS JOIN bo),
             c AS (SELECT lk,
                    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cn_a,
                    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cn_b,
                    CAST(SUM(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS BIGINT) AS cs_a,
                    CAST(SUM(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS BIGINT) AS cs_b,
                    SUM(CASE WHEN arm = 0 THEN CAST(vm AS HUGEINT) * vm ELSE 0 END) AS cq_a,
                    SUM(CASE WHEN arm = 1 THEN CAST(vm AS HUGEINT) * vm ELSE 0 END) AS cq_b
                   FROM a GROUP BY lk),
             p AS (SELECT lk,
                    SUM(cn_a) OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_a,
                    SUM(cn_b) OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_b,
                    SUM(cs_a) OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_a,
                    SUM(cs_b) OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_b,
                    SUM(cq_a) OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_a,
                    SUM(cq_b) OVER (ORDER BY lk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q_b
                   FROM c),
             f AS (SELECT lk, n_a, n_b, s_a, s_b,
                    s_b // n_b - s_a // n_a AS d,
                    (q_a // n_a - (s_a // n_a) * (s_a // n_a)) // n_a
                      + (q_b // n_b - (s_b // n_b) * (s_b // n_b)) // n_b AS se2,
                    16394468 // lk AS bound_z2_micro
                   FROM p)
             SELECT lk AS look, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
              CAST(s_b * 1000 // n_b - s_a * 1000 // n_a AS BIGINT) AS lift_milli,
              CAST(bound_z2_micro AS BIGINT) AS bound_z2_micro,
              CAST(CASE WHEN CAST(d AS HUGEINT) * d * 1000000
                        >= CAST(bound_z2_micro AS HUGEINT) * se2
                        THEN 1 ELSE 0 END AS BIGINT) AS crossed
             FROM f ORDER BY look"""))

  /** CUPED variance-reduced experiment readout (r11 — Deng, Xu, Kohavi &
    * Walker WSDM'13; the industry-standard companion every A/B platform
    * bolts onto [[qAggAbTest]]: using each user's PRE-period activity as
    * a control covariate cuts metric variance by corr², which shortens
    * experiments by the same factor). The event calendar splits at
    * min + ⌊0.4·span⌋: X_u = the user's pre-period value sum, Y_u = the
    * post-period sum (the metric), arm = the SAME `ab_` user-hash
    * randomization as ab_test (one randomization, two readouts);
    * θ = cov(X,Y)/var(X) is pooled across arms (randomization makes X
    * arm-independent — the paper's recommendation). Declared: per-arm
    * user counts, the exact integer lift, θ in micro, raw vs
    * CUPED-adjusted variance (var_adj = varY − cov²/varX, the in-sample
    * identity that is ≤ varY by construction) and the realized variance
    * reduction in bp (= 10⁴·corr²(X,Y)).
    *
    * D1: per-user X/Y are EXACT BIGINT sums; arm moments accumulate in
    * DECIMAL(38)/HUGEINT (user-sum products cross 2⁶³ the usual way);
    * every float (θ, variances, reduction) evaluates ONCE on the merged
    * scalars through identical IEEE doubles, floor-scaled (the
    * `q_agg_spearman` merged-scalar rule).
    *
    * Fixture honesty (the ab_test null-effect precedent): this corpus's
    * user process is MEMORYLESS — pre/post activity splits are
    * multinomial-independent per user (measured corr(X,Y) ≈ 0.008), so
    * the declared reduction is ~0 bp. That null is the correct CUPED
    * readout for such traffic ("this experiment cannot be shortened by
    * pre-period adjustment"), and it is exactly what the operator must
    * report rather than manufacture; the InvariantsSpec pins the
    * in-sample identities (var_adj ≤ var_y, reduction = 10⁴·corr²) that
    * hold at ANY correlation, by scalar replay.
    *
    * Scale shape: 1-row calendar-bounds broadcast onto the scan
    * (the q_split_temporal class), ONE user-keyed agg (corpus → users),
    * ONE ≤2-row arm agg, then a single-row formula frame.
    */
  private val qAggCuped = Q(
    "q_agg_cuped",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_us DIV 86400000000").as("dd"),
          expr("CAST(floor(value * 1000) AS BIGINT)").as("vm"))
      val bounds = ev.agg(min("dd").as("lo"), max("dd").as("hi"))
      val users = ev.crossJoin(broadcast(bounds))
        .withColumn("pre", expr("CAST(dd < lo + (hi - lo) * 2L div 5L AS BIGINT)"))
        .groupBy("user_id")
        .agg(sum(expr("pre * vm")).as("x"),
          sum(expr("(1L - pre) * vm")).as("y"))
        .withColumn("arm", expr(s"pmod(${Llm.md5Hex32Spark(
          "concat('ab_', CAST(user_id AS STRING))")}, 2L)"))
      users
        .agg(
          sum(expr("CAST(arm = 0 AS BIGINT)")).as("n_a"),
          sum(expr("CAST(arm = 1 AS BIGINT)")).as("n_b"),
          sum(expr("CASE WHEN arm = 0 THEN y ELSE 0L END")).as("sy_a"),
          sum(expr("CASE WHEN arm = 1 THEN y ELSE 0L END")).as("sy_b"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38, 0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38, 0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38, 0)) * y")).as("syy"))
        .withColumn("nn", expr("n_a + n_b"))
        // zero-variance guards (ADVICE r11, the q_agg_moments class):
        // a constant pre-period (vxn = nn·sxx − sx² = 0) or constant
        // metric (vyn = 0) makes θ / var_adj / reduction 0/0 — declared
        // NULL identically in both engines via the EXACT integer
        // numerators before any double goes NaN/Inf.
        .withColumn("vxn", expr(
          "CAST(nn AS DECIMAL(38, 0)) * sxx - CAST(sx AS DECIMAL(38, 0)) * sx"))
        .withColumn("vyn", expr(
          "CAST(nn AS DECIMAL(38, 0)) * syy - CAST(sy AS DECIMAL(38, 0)) * sy"))
        .select(col("n_a"), col("n_b"),
          expr("sy_b * 1000L div n_b - sy_a * 1000L div n_a").as("lift_milli"),
          expr("""CASE WHEN vxn = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(floor(
              (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * 1000000D) AS BIGINT) END""").as("theta_micro"),
          expr("""CAST(floor(
              (CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) * 1000D) AS BIGINT)""").as("var_y_milli"),
          expr("""CASE WHEN vxn = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(floor(
              ((CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
               - (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))) * 1000D) AS BIGINT) END""")
            .as("var_adj_milli"),
          expr("""CASE WHEN vxn = 0 OR vyn = 0 THEN CAST(NULL AS BIGINT) ELSE CAST(floor(
              (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              * 10000D) AS BIGINT) END""").as("var_reduction_bp"))
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS dd,
                    CAST(FLOOR(value * 1000) AS BIGINT) AS vm
                   FROM events),
             bo AS (SELECT MIN(dd) AS lo, MAX(dd) AS hi FROM e),
             u AS (SELECT user_id,
                    CAST(SUM(CASE WHEN dd < lo + (hi - lo) * 2 // 5
                             THEN vm ELSE 0 END) AS BIGINT) AS x,
                    CAST(SUM(CASE WHEN dd < lo + (hi - lo) * 2 // 5
                             THEN 0 ELSE vm END) AS BIGINT) AS y
                   FROM e CROSS JOIN bo GROUP BY user_id),
             ua AS (SELECT u.*,
                     (${Llm.md5Hex32Sql("'ab_' || CAST(user_id AS VARCHAR)")}) % 2 AS arm
                    FROM u),
             g AS (SELECT
                    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
                    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
                    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                    SUM(CAST(x AS HUGEINT) * y) AS sxy,
                    SUM(CAST(x AS HUGEINT) * x) AS sxx,
                    SUM(CAST(y AS HUGEINT) * y) AS syy
                   FROM ua),
             f AS (SELECT *, n_a + n_b AS nn,
                    CAST(n_a + n_b AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vxn,
                    CAST(n_a + n_b AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vyn
                   FROM g)
             SELECT n_a, n_b,
              CAST(sy_b * 1000 // n_b - sy_a * 1000 // n_a AS BIGINT) AS lift_milli,
              CASE WHEN vxn = 0 THEN NULL ELSE CAST(FLOOR(
                (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * 1000000) AS BIGINT) END AS theta_micro,
              CAST(FLOOR(
                (CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) * 1000) AS BIGINT) AS var_y_milli,
              CASE WHEN vxn = 0 THEN NULL ELSE CAST(FLOOR(
                ((CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
                 - (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))) * 1000) AS BIGINT) END AS var_adj_milli,
              CASE WHEN vxn = 0 OR vyn = 0 THEN NULL ELSE CAST(FLOOR(
                (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(nn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(nn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(nn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                * 10000) AS BIGINT) END AS var_reduction_bp
             FROM f"""))

  val all: Seq[Q] = Seq(
    qAggAbTest, qAggCuped, qAggSequential, qAggPower, qAggMannwhitney, qAggKsTest, qAggChisq, qAggCramersV, qAggMoments, qAggBenford, qAggSurvival, qAggBootstrap,
    qAggFiltered,
    qAggGlobal, qAggCountDistinct, qAggHaving, qAggRollup, qAggCube,
    qAggGroupingSets, qAggStats, qAggPercentileExact, qAggWinsorize, qAggGini, qAggApproxHll,
    qAggApproxQuantile, qAggSketchMerge, qAggBitmapDistinct, qAggCountmin, qAggSalted, qAggHistogram,
    qAggPivot, qAggUnpivot, qAggStringAgg, qAggMode, qFilterScalarSubq, qAggFunnel, qAggAttribution,
    qAggRetention, qAggIncremental, qAggCorr, qAggSpearman, qAggDecay,
    qAggRollingDistinct, qAggBitmapSetops, qAggOhlc, qAggAnomaly, qAggActivityDist,
    qAggSeasonality)
}
