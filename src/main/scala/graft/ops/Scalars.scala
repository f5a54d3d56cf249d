package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** SURVEY §2.8 — scalar function families, one query per family. All
  * row-wise (no D2 re-association concerns) except the noted transcendental
  * roundings and the dayofweek divergence bridged via weekday()+1 ↔ isodow.
  */
object Scalars {

  private val qFnString = Q(
    "q_fn_string",
    (s, dir) => {
      Tables(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          length(col("p_name")).cast("long").as("len"),
          substring(col("p_name"), 1, 5).as("sub"),
          trim(concat_ws("-", col("p_brand"), col("p_type"))).as("cw"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          regexp_replace(col("p_type"), "SMALL", "SM").as("rep"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          levenshtein(col("p_name"), col("p_brand")).cast("long").as("lev"),
          size(split(col("p_name"), " ")).cast("long").as("n_words"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
            CAST(length(p_name) AS BIGINT) AS len,
            substr(p_name, 1, 5) AS sub,
            trim(concat_ws('-', p_brand, p_type)) AS cw,
            lpad(p_brand, 12, '*') AS lp,
            regexp_replace(p_type, 'SMALL', 'SM') AS rep,
            regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
            CAST(levenshtein(p_name, p_brand) AS BIGINT) AS lev,
            CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
            FROM part ORDER BY p_partkey"""))

  private val qFnDate = Q(
    "q_fn_date",
    (s, dir) => {
      // dayofweek diverges across engines (Spark Sun=1, DuckDB Sun=0);
      // bridge: Spark weekday()+1 == DuckDB isodow() (Mon=1..Sun=7).
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
          date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          last_day(col("o_orderdate")).as("month_end"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
            CAST(year(o_orderdate) AS BIGINT) AS y,
            CAST(quarter(o_orderdate) AS BIGINT) AS q,
            CAST(month(o_orderdate) AS BIGINT) AS m,
            CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
            CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
            CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
            CAST(o_orderdate AS DATE) + 30 AS plus30,
            last_day(CAST(o_orderdate AS DATE)) AS month_end
            FROM orders ORDER BY o_orderkey"""))

  private val qFnMath = Q(
    "q_fn_math",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_d"),
          ceil(col("l_extendedprice")).cast("long").as("ceil_p"),
          floor(col("l_extendedprice")).cast("long").as("floor_p"),
          round(col("l_extendedprice"), 1).as("round_p"),
          round(pow(col("l_quantity"), 2.0), 4).as("qty_sq"),
          round(sqrt(col("l_quantity")), 4).as("qty_sqrt"),
          round(log(col("l_extendedprice")), 4).as("ln_p"),
          round(log10(col("l_extendedprice")), 4).as("log10_p"),
          round(exp(col("l_discount")), 4).as("exp_d"),
          signum(col("l_quantity") - 25.0).cast("long").as("sgn"),
          pmod(col("l_orderkey"), lit(7L)).as("mod7"))
        // (l_orderkey, l_linenumber) not unique → extend the sort with the
        // source-distinguishing derived columns so ties are identical rows.
        .orderBy("l_orderkey", "l_linenumber", "round_p", "abs_d", "qty_sq")
    },
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            abs(l_discount - 0.05) AS abs_d,
            CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
            CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
            round(l_extendedprice, 1) AS round_p,
            round(pow(l_quantity, 2.0), 4) AS qty_sq,
            round(sqrt(l_quantity), 4) AS qty_sqrt,
            round(ln(l_extendedprice), 4) AS ln_p,
            round(log10(l_extendedprice), 4) AS log10_p,
            round(exp(l_discount), 4) AS exp_d,
            CAST(sign(l_quantity - 25.0) AS BIGINT) AS sgn,
            l_orderkey % 7 AS mod7
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, round_p, abs_d, qty_sq"""))

  private val qFnCond = Q(
    "q_fn_cond",
    (s, dir) => {
      Tables(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("tier"),
          expr("CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'AUTOMOBILE' THEN 'A' ELSE 'X' END")
            .as("seg"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("machine!"))
            .as("nn"),
          expr("nvl(NULL, c_mktsegment)").as("nv"),
          least(col("c_acctbal"), lit(1000.0)).as("capped"),
          greatest(col("c_acctbal"), lit(0.0)).as("floored"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
            CASE WHEN c_acctbal < 0 THEN 'neg'
                 WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS tier,
            CASE c_mktsegment WHEN 'BUILDING' THEN 'B'
                 WHEN 'AUTOMOBILE' THEN 'A' ELSE 'X' END AS seg,
            coalesce(nullif(c_mktsegment, 'MACHINERY'), 'machine!') AS nn,
            coalesce(NULL, c_mktsegment) AS nv,
            least(c_acctbal, 1000.0) AS capped,
            greatest(c_acctbal, 0.0) AS floored
            FROM customer ORDER BY c_custkey"""))

  private val qFnJson = Q(
    "q_fn_json",
    (s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_int"),
          expr("from_json(props, 'k INT').k").cast("long").as("k_struct"),
          json_tuple(col("props"), "k").as("k_tuple"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
            json_extract_string(props, '$.k') AS k_str,
            CAST(props->>'$.k' AS BIGINT) AS k_int,
            CAST(props->>'$.k' AS BIGINT) AS k_struct,
            json_extract_string(props, '$.k') AS k_tuple
            FROM events ORDER BY event_id"""))

  private val qFnArray = Q(
    "q_fn_array",
    (s, dir) => {
      // Array ops + higher-order functions over the float32 embeddings.
      // Elements widened to DOUBLE before emission: float32→float64 is an
      // exact widening, identical in both engines.
      // Array/HOF results are emitted as flat scalar columns (slice/sort
      // element extracts), never list-typed cells: the driver compare sorts
      // columns in pandas, where an ndarray cell is unhashable and aborts
      // the whole check (CORRECTNESS_r01). float32→float64 widening is
      // exact and identical in both engines.
      Tables(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("n_elems"),
          element_at(col("embedding"), 1).cast("double").as("first_elem"),
          expr("CAST(element_at(embedding, 2) AS DOUBLE)").as("h2"),
          expr("CAST(element_at(embedding, 3) AS DOUBLE)").as("h3"),
          size(expr("filter(embedding, x -> x > 0)")).cast("long").as("n_pos"),
          expr("CAST(element_at(sort_array(embedding), 1) AS DOUBLE)").as("min1"),
          expr("CAST(element_at(sort_array(embedding), 2) AS DOUBLE)").as("min2"),
          size(array_distinct(col("embedding"))).cast("long").as("n_dist"),
          expr("array_contains(embedding, CAST(0.0 AS FLOAT))").as("has_zero"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id,
            CAST(len(embedding) AS BIGINT) AS n_elems,
            CAST(embedding[1] AS DOUBLE) AS first_elem,
            CAST(embedding[2] AS DOUBLE) AS h2,
            CAST(embedding[3] AS DOUBLE) AS h3,
            CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
            CAST(list_sort(embedding)[1] AS DOUBLE) AS min1,
            CAST(list_sort(embedding)[2] AS DOUBLE) AS min2,
            CAST(len(list_distinct(embedding)) AS BIGINT) AS n_dist,
            list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero
            FROM embeddings ORDER BY vec_id"""))

  private val qFnMap = Q(
    "q_fn_map",
    (s, dir) => {
      // JSON → MAP<STRING,STRING>; emit exploded key/value pairs (flat
      // columns — DuckDB has no MAP physical type in its parquet writer).
      val m = from_json(col("props"), MapType(StringType, StringType))
      Tables.spread(s, dir, "events", "event_id")
        .select(col("event_id"), size(m).cast("long").as("n_keys"),
          explode(m).as(Seq("key", "value")))
        .orderBy("event_id", "key")
    },
    Some("""SELECT event_id,
            CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
            k AS key,
            json_extract_string(props, '$.' || k) AS value
            FROM events, unnest(json_keys(props)) AS t(k)
            ORDER BY event_id, key"""))

  private val qFnCast = Q(
    "q_fn_cast",
    (s, dir) => {
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"),
          col("o_orderkey").cast("string").cast("long").as("roundtrip_int"),
          col("o_orderkey").cast("double").as("as_dbl"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("dec_round"),
          col("o_orderdate").cast("date").as("d"),
          col("o_orderdate").cast("date").cast("string").as("dstr"),
          expr("try_cast(o_orderpriority AS INT)").cast("long").as("bad_cast"),
          expr("try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)").as("prio_num"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
            CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS roundtrip_int,
            CAST(o_orderkey AS DOUBLE) AS as_dbl,
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS dec_round,
            CAST(o_orderdate AS DATE) AS d,
            CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS dstr,
            CAST(TRY_CAST(o_orderpriority AS INT) AS BIGINT) AS bad_cast,
            TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_num
            FROM orders ORDER BY o_orderkey"""))

  private val qFnBits = Q(
    "q_fn_bits",
    (s, dir) => {
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          expr("l_orderkey & 255").as("b_and"),
          expr("l_orderkey | 4096").as("b_or"),
          expr("CAST(l_orderkey ^ l_partkey AS BIGINT)").as("b_xor"),
          expr("shiftleft(l_orderkey, 2)").as("b_shl"),
          expr("shiftright(l_orderkey, 3)").as("b_shr"),
          expr("CAST(bit_count(l_orderkey) AS BIGINT)").as("b_pop"))
        .orderBy("l_orderkey", "l_linenumber", "b_xor")
    },
    Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
            l_orderkey & 255 AS b_and,
            l_orderkey | 4096 AS b_or,
            CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS b_xor,
            l_orderkey << 2 AS b_shl,
            l_orderkey >> 3 AS b_shr,
            CAST(bit_count(l_orderkey) AS BIGINT) AS b_pop
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, b_xor"""))

  /** Generator / table-function role (SURVEY §2.12): positional explode —
    * each document's first 5 tokens with their 1-based positions. The
    * ordinal comes from the generator itself (`posexplode`), not a window,
    * so the expansion is map-side with no shuffle before the output sort.
    * DuckDB has no WITH ORDINALITY (probed, 1.0.0): the oracle unnests
    * pre-built (ord, tok) structs instead.
    */
  private val qFnPosexplode = Q(
    "q_fn_posexplode",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .filter(col("pos") < 5)
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("tok"))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            x AS (SELECT doc_id,
                         unnest(list_transform(generate_series(1, len(tk)),
                                i -> struct_pack(ord := i, tok := tk[i]))) AS u
                  FROM t)
            SELECT doc_id, CAST(u.ord AS BIGINT) AS pos, u.tok AS tok
            FROM x WHERE u.ord <= 5 ORDER BY doc_id, pos"""))

  /** URL parsing + canonicalization — the web-corpus preprocessing
    * family (host/domain extraction feeds per-domain caps, tracking-
    * param stripping feeds URL dedup). The fixtures carry no URLs, so
    * one is synthesized deterministically from (source, doc_id) and
    * then parsed back with engine-portable character-class regexes
    * (identical semantics under Java regex and RE2 — no escapes, no
    * lookaround): scheme, host, registered domain, path depth, and a
    * canonical URL with utm_* tracking params stripped and the
    * dangling separator cleaned up. Purely row-wise — map-only at any
    * scale.
    */
  private val qFnUrl = Q(
    "q_fn_url",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("url", expr(
          "concat('https://', source, '.example.com/docs/', " +
            "CAST(doc_id % 7 AS STRING), '/', CAST(doc_id AS STRING), " +
            "'?utm_source=feed&id=', CAST(doc_id AS STRING), '&utm_campaign=x')"))
        .withColumn("scheme", regexp_extract(col("url"), "^([a-z]+)://", 1))
        .withColumn("host", regexp_extract(col("url"), "://([^/]+)", 1))
        .withColumn("domain", regexp_extract(col("host"), "([a-z0-9-]+[.][a-z]+)$", 1))
        .withColumn("path", regexp_extract(col("url"), "://[^/]+([^?]*)", 1))
        .withColumn("path_depth", expr(
          "CAST(length(path) - length(replace(path, '/', '')) AS BIGINT)"))
        .withColumn("q0", regexp_extract(col("url"), "[?](.*)$", 1))
        .withColumn("q1", expr(
          "regexp_replace(regexp_replace(q0, 'utm_[a-z]+=[^&]*[&]?', ''), '[&]$', '')"))
        .withColumn("clean_url", expr(
          "CASE WHEN q1 = '' THEN concat(scheme, '://', host, path) " +
            "ELSE concat(scheme, '://', host, path, '?', q1) END"))
        .select("doc_id", "scheme", "host", "domain", "path_depth", "clean_url")
        .orderBy("doc_id"),
    Some("""WITH u AS (SELECT doc_id,
              'https://' || source || '.example.com/docs/' ||
                CAST(doc_id % 7 AS VARCHAR) || '/' || CAST(doc_id AS VARCHAR) ||
                '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) ||
                '&utm_campaign=x' AS url
             FROM documents),
            x AS (SELECT doc_id, url,
                   regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                   regexp_extract(url, '://([^/]+)', 1) AS host,
                   regexp_extract(url, '://[^/]+([^?]*)', 1) AS path,
                   regexp_extract(url, '[?](.*)$', 1) AS q0
                  FROM u),
            y AS (SELECT *,
                   regexp_extract(host, '([a-z0-9-]+[.][a-z]+)$', 1) AS domain,
                   CAST(length(path) - length(replace(path, '/', '')) AS BIGINT)
                     AS path_depth,
                   regexp_replace(regexp_replace(q0, 'utm_[a-z]+=[^&]*[&]?', '', 'g'),
                     '[&]$', '') AS q1
                  FROM x)
            SELECT doc_id, scheme, host, domain, path_depth,
             CASE WHEN q1 = '' THEN scheme || '://' || host || path
                  ELSE scheme || '://' || host || path || '?' || q1 END AS clean_url
            FROM y ORDER BY doc_id"""))

  val all: Seq[Q] = Seq(
    qFnPosexplode,
    qFnString, qFnDate, qFnMath, qFnCond, qFnJson, qFnArray, qFnMap, qFnCast,
    qFnBits, qFnUrl)
}
