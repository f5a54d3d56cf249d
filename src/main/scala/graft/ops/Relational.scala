package graft.ops

import graft.{Artifacts, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.1–§2.8: scans, filters, joins, aggregations, windows, sorts,
  * set ops, scalar function families. Every oracled query obeys the
  * determinism rules of SURVEY §2.0 (total order, rounded float aggs, no
  * raw timestamps, D4 events bridge, aligned column names).
  */
object Relational {

  // ---------------------------------------------------------------- §2.1
  private val qScanProject = Q(
    "q_scan_project",
    (s, dir) => {
      // Full scan + row-wise arithmetic projection. Pure per-row IEEE double
      // math (no re-association) is bit-identical across engines — no
      // rounding needed (SURVEY §2.1).
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"),
          col("l_discount"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("disc_price"))
        // (l_orderkey, l_linenumber) is NOT unique in this data — sort by
        // every output column so tied rows are identical (D1).
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    },
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            l_extendedprice, l_discount,
            l_extendedprice * (1.0 - l_discount) AS disc_price
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_discount"""))

  /** Deterministic hash sampling: a stable 1/16 sample of orders selected
    * by the first hex digit of md5(o_orderkey). Unlike TABLESAMPLE/rand()
    * this is reproducible across runs, engines, and cluster sizes — the
    * property a 100 TB pipeline needs for frozen eval/holdout splits
    * (membership is a pure function of the key, so late-arriving data
    * lands in the same split). Pure row-wise predicate → full parquet
    * scan parallelism, no shuffle before the output sort.
    */
  private val qScanSample = Q(
    "q_scan_sample",
    (s, dir) => {
      Tables(s, dir, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 1) === "0")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
            ORDER BY o_orderkey"""))

  /** Stratified deterministic sampling — per-class rates, the training-data
    * rebalancing primitive (downsample the dominant classes, keep the rare
    * ones whole). Membership = (first hex digit of md5(event_id)) <
    * per-stratum threshold/16, a pure function of the key: reproducible
    * across runs, engines and cluster sizes, and late-arriving rows of a
    * key land in the same split. Row-wise predicate only → full scan
    * parallelism, zero shuffles before the output sort; at 100 TB this is
    * a map-only job.
    */
  private val qScanStratified = Q(
    "q_scan_stratified",
    (s, dir) => {
      // click/view (dominant): 1/16; purchase/signup: 8/16; error: keep all.
      Tables.events(s, dir)
        .withColumn("hx", expr(
          "instr('0123456789abcdef', substr(md5(CAST(event_id AS STRING)), 1, 1)) - 1"))
        .withColumn("thresh", expr(
          "CASE WHEN event_type IN ('click','view') THEN 1 " +
            "WHEN event_type IN ('purchase','signup') THEN 8 ELSE 16 END"))
        .filter(col("hx") < col("thresh"))
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type, value FROM events
            WHERE instr('0123456789abcdef',
                        substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1
                  < CASE WHEN event_type IN ('click','view') THEN 1
                         WHEN event_type IN ('purchase','signup') THEN 8
                         ELSE 16 END
            ORDER BY event_id"""))

  // ---------------------------------------------------------------- §2.4
  private val qAggQ1 = Q(
    "q_agg_q1",
    (s, dir) => {
      // Flagship TPC-H Q1 variant (SURVEY §2.4). All money/quantity sums
      // run over exact decimals (per-row double products cast to decimal,
      // bit-identical in both engines) so the result is independent of
      // Spark's nondeterministic partial-merge order — a raw double sum at
      // this magnitude drifts to the edge of 4dp granularity. Averages are
      // exact-sum / count with floor truncation (rounding at the engines'
      // divergent .5 behavior is structural for int/2dp-valued columns).
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4)")
            .as("sum_qty"),
          expr("round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4)")
            .as("sum_base_price"),
          expr("round(CAST(sum(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4)")
            .as("sum_disc_price"),
          expr("round(CAST(sum(CAST(l_extendedprice * (1.0D - l_discount) * (1.0D + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 4)")
            .as("sum_charge"),
          expr("floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) * 10000) / 10000")
            .as("avg_qty"),
          expr("floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) * 10000) / 10000")
            .as("avg_price"),
          expr("floor(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) * 10000) / 10000")
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
            ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base_price,
            ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_disc_price,
            ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_charge,
            FLOOR(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 10000) / 10000 AS avg_qty,
            FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 10000) / 10000 AS avg_price,
            FLOOR(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) * 10000) / 10000 AS avg_disc,
            CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  private val qAggCollect = Q(
    "q_agg_collect",
    (s, dir) => {
      // collect_list aggregation. The list itself is emitted serialized
      // ('|'-joined) plus summary scalars: the driver's compare sorts result
      // columns in pandas, where a list-typed cell is unhashable and aborts
      // the whole check (SURVEY §7.3.5 fallback — proven necessary in
      // CORRECTNESS_r01).
      Tables(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list("l_partkey")).as("parts"))
        .select(
          col("l_orderkey"),
          size(col("parts")).cast("long").as("n_parts"),
          element_at(col("parts"), 1).cast("long").as("p_min"),
          element_at(col("parts"), -1).cast("long").as("p_max"),
          expr("array_join(transform(parts, x -> CAST(x AS STRING)), '|')")
            .as("parts_str"))
        .orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey,
            CAST(COUNT(*) AS BIGINT) AS n_parts,
            CAST(MIN(l_partkey) AS BIGINT) AS p_min,
            CAST(MAX(l_partkey) AS BIGINT) AS p_max,
            array_to_string(list_sort(list(l_partkey)), '|') AS parts_str
            FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""))

  // ---------------------------------------------------------------- §2.5
  private val qWinLagLead = Q(
    "q_win_lag_lead",
    (s, dir) => {
      // D4 canary: inter-event gap per user on the ns→µs bridged events.
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
        .withColumn("prev_us", lag("ts_us", 1).over(w))
        .withColumn("gap_s", expr("(ts_us - prev_us) DIV 1000000"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .drop("prev_us")
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
            (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000 AS gap_s,
            lead(event_type) OVER w AS next_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ORDER BY user_id, ts_us, event_id"""))

  /** Partition pruning DECLARED as a query — the scan-side half of the
    * table-layout story (`sources.Partitioned`; `q_join_bucket_colocated`
    * is the join-side half): the corpus is persisted Hive-partitioned by
    * language (low-cardinality directory column, a per-corpus
    * [[Artifacts.persisted]] artifact), then ONE language is
    * queried back. The planner prunes to that language's directory at compile
    * time — PlanLintSpec pins `prunesTo(1 of 5)` — so at 100 TB the
    * query reads ~1/|langs| of the table and lists one directory. The
    * audit row (count, id checksum, chars sum) is pinned by an oracle
    * computed independently from the base table: what the partitioned
    * round-trip must preserve, not just what the scan planned.
    */
  /** The language-partitioned documents artifact — shared by
    * `q_scan_partition_prune` (static pruning) and `q_join_dpp` (dynamic
    * pruning) so both halves of the pruning story read the same layout.
    */
  private[ops] def docsByLang(s: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(s, dir, "docs_bylang", "documents.parquet")(
      Tables(s, dir, "documents").select("doc_id", "n_chars", "lang"),
      (df, path) => graft.sources.Partitioned.writeStatic(df, path, 1 << 20, "lang"))

  private val qScanPartitionPrune = Q(
    "q_scan_partition_prune",
    (s, dir) => {
      docsByLang(s, dir)
        .filter(col("lang") === "en")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("n_chars").as("chars_sum"))
        .orderBy("lang")
    },
    Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(doc_id) AS BIGINT) AS id_sum,
            CAST(SUM(n_chars) AS BIGINT) AS chars_sum
            FROM documents WHERE lang = 'en'
            GROUP BY lang ORDER BY lang"""))

  val all: Seq[Q] =
    Seq(qScanProject, qScanSample, qScanStratified, qScanPartitionPrune,
      qAggQ1, qAggCollect, qWinLagLead)
}
