package graft.ops

import graft.{Artifacts, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (SURVEY §2.15):
  * fixed-iteration PageRank over the customer–supplier transaction graph.
  *
  * The engine-portability trick is INTEGER mass: ranks live in micro-units
  * (BIGINT), per-edge contributions are integer divisions, and the damping
  * factor is applied as (85 · m) DIV 100 — so every aggregation is a sum
  * of integers, which is exact and ORDER-INDEPENDENT. Float PageRank
  * cannot be oracled cell-exactly across engines (double sums drift with
  * partial-aggregation order); integer PageRank can, with rounding loss
  * (mass leakage to the floor) that is itself deterministic and identical
  * in both engines.
  */
object Graph {

  /** Lloyd-style fixed superstep count — like `q_vec_kmeans_refine` and
    * `q_text_bpe_iterate`, enough iterations to exercise the loop shape
    * (and let ranks separate from the uniform start) while keeping the
    * oracle a finite CTE chain.
    */
  private val PrIters = 3

  /** Initial rank per node, in micro-units (1.0 = 10⁶; 10⁹ keeps three
    * iterations of DIV-by-degree well above integer-floor noise).
    *
    * Scale bound, explicit: total mass is n·PrInit and a single hub's
    * rank is bounded by it, so the BIGINT rank column is exact while
    * n·10⁹ < 2⁶³ — n ≲ 9e9 nodes. Beyond that the KNOB moves, not the
    * plan: drop PrInit a decade per decade of n (the precision floor is
    * iterations·log₂(maxdeg) bits, ~60 of 63 available at that point).
    * Same bound class governs the HITS integer masses (a₂ ≤ Σdeg², h₂ ≤
    * deg·a₂ — exact to |E|·maxdeg² < 2⁶³, then rescale the all-ones
    * start). The ADVICE-r10 DECIMAL widening is deliberately NOT applied
    * here: the declared OUTPUT is the raw integer mass itself, so past
    * the bound the schema saturates regardless — the honest fix is the
    * unit choice, documented, not a silent 128-bit intermediate.
    */
  private val PrInit = 1000000000L

  /** PageRank with damping 0.85 over the UNDIRECTED bipartite graph
    * customer —(ordered from)— supplier, distilled from orders ⋈ lineitem
    * (distinct pairs; both directions materialized, so every node has
    * out-degree ≥ 1 and there is no dangling mass). Nodes carry disjoint
    * integer ids (customer 2k, supplier 2k+1); output is the top-20 nodes
    * by final rank with the id split back into (node_type, node_key) —
    * all-integer (D1), fully deterministic tie-break.
    *
    * Scale shape: per superstep, contributions are one equi-join of the
    * skinny rank frame onto the degree-annotated edge list (both hash-
    * partitioned on src — a production run would co-bucket them once)
    * followed by one map-combinable integer sum keyed dst, then a
    * node-keyed LEFT join folds teleport back in. The rank frame is
    * re-materialized per superstep (localCheckpoint — the
    * ConnectedComponents pattern) so superstep t never replays 1..t−1;
    * the driver sees no data at all, only the loop counter. At 100 TB
    * this is textbook Pregel-on-shuffle: cost per iteration is one
    * shuffle of |E| skinny rows + one of |V|.
    */
  /** The degree-annotated bipartite edge list (src, dst, deg) PERSISTED
    * once per corpus ([[Artifacts.persisted]], fingerprint over BOTH
    * source tables): graph construction — the orders ⋈ lineitem join +
    * distinct — is loop-invariant AND corpus-invariant, and a production
    * deployment distills the transaction graph once then ranks it many
    * times. The ranking loop below remains the work the
    * query's name claims.
    */
  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(s, dir, "prgraph", "orders.parquet", "lineitem.parquet") {
      val pairs = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
        .distinct()
      val edges = pairs.select((col("c") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
        .unionByName(pairs.select((col("sk") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      edges.join(deg, "src")
    }

  private val qGraphPagerank = Q(
    "q_graph_pagerank",
    (s, dir) => {
      // degree-annotated edges read from the per-corpus artifact; the
      // parquet read replays cheaply per superstep, no checkpoint needed
      val edgesDeg = bipartiteEdges(s, dir)
      val nodes = edgesDeg.select(col("src").as("id")).distinct()
      var ranks = nodes.select(col("id"), lit(PrInit).as("r"))
      // no per-superstep localCheckpoint: rank_t references rank_{t-1}
      // exactly ONCE, so with the FIXED PrIters=3 the un-truncated plan
      // is a linear 7-exchange chain — AQE materializes each exchange as
      // a reusable query stage anyway, and dropping the three blocking
      // checkpoint jobs measured 1.94 -> 1.23 s at sf0.1. (The converged
      // loops — CC, label-prop, k-core, BFS — keep their checkpoints:
      // they reference the previous frame 2-3x per round, where an
      // un-truncated plan grows exponentially.)
      for (_ <- 1 to PrIters) {
        val contrib = edgesDeg
          .join(ranks.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), expr("r DIV deg").as("m"))
          .groupBy("id").agg(sum("m").as("m"))
        // no per-superstep left join back onto `nodes`: the edge artifact
        // materializes BOTH directions of every pair, so every node has an
        // in-edge and `contrib` covers the node set exactly — coalesce(m,0)
        // could never fire (the oracle keeps its LEFT JOIN spelling; the
        // result is row-identical, proven by the DuckDB sweep)
        ranks = contrib
          .select(col("id"),
            expr(s"${PrInit * 15 / 100}L + (85 * m) DIV 100").as("r"))
      }
      ranks
        .select(
          expr("CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END").as("node_type"),
          expr("id DIV 2").as("node_key"),
          col("r").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("node_type"), col("node_key"))
        .limit(20)
    },
    Some(s"""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             edges AS (SELECT c * 2 AS src, sk * 2 + 1 AS dst FROM pairs
                       UNION ALL
                       SELECT sk * 2 + 1 AS src, c * 2 AS dst FROM pairs),
             deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM edges GROUP BY src),
             nodes AS (SELECT DISTINCT src AS id FROM edges),
             r0 AS MATERIALIZED (SELECT id, CAST($PrInit AS BIGINT) AS r FROM nodes),
             c1 AS (SELECT e.dst AS id, CAST(SUM(r0.r // d.deg) AS BIGINT) AS m
                    FROM edges e JOIN r0 ON e.src = r0.id JOIN deg d ON e.src = d.src
                    GROUP BY e.dst),
             r1 AS MATERIALIZED (SELECT n.id,
                     CAST(${PrInit * 15 / 100} + (85 * COALESCE(c1.m, 0)) // 100 AS BIGINT) AS r
                    FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
             c2 AS (SELECT e.dst AS id, CAST(SUM(r1.r // d.deg) AS BIGINT) AS m
                    FROM edges e JOIN r1 ON e.src = r1.id JOIN deg d ON e.src = d.src
                    GROUP BY e.dst),
             r2 AS MATERIALIZED (SELECT n.id,
                     CAST(${PrInit * 15 / 100} + (85 * COALESCE(c2.m, 0)) // 100 AS BIGINT) AS r
                    FROM nodes n LEFT JOIN c2 ON n.id = c2.id),
             c3 AS (SELECT e.dst AS id, CAST(SUM(r2.r // d.deg) AS BIGINT) AS m
                    FROM edges e JOIN r2 ON e.src = r2.id JOIN deg d ON e.src = d.src
                    GROUP BY e.dst),
             r3 AS MATERIALIZED (SELECT n.id,
                     CAST(${PrInit * 15 / 100} + (85 * COALESCE(c3.m, 0)) // 100 AS BIGINT) AS r
                    FROM nodes n LEFT JOIN c3 ON n.id = c3.id)
             SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
                    id // 2 AS node_key, r AS rank_micro
             FROM r3
             ORDER BY rank_micro DESC, node_type, node_key LIMIT 20"""))

  /** HITS hubs-and-authorities, two full rounds (Kleinberg JACM'99 /
    * SODA'98) over the same persisted customer–supplier bipartite graph
    * PageRank ranks — the OTHER canonical link-analysis fixpoint, and on
    * a bipartite transaction graph the more natural one: hub scores land
    * on buyers, authority scores on suppliers, mutually reinforcing
    * ("good buyers buy from good suppliers"). Declared as exactly two
    * rounds from the all-ones start (fixed-step-oracle discipline):
    * a₁ = in-degree, h₁ = Σ_nbr a₁, a₂ = Σ_in h₁, h₂ = Σ_out a₂ —
    * pure integer sums, no normalization inside the loop (HITS'
    * eigenvector direction is scale-free; the reported raw integers
    * are exact in both engines where the float 2-norm rescale could
    * never hash-match). Top-20 by authority, deterministic tie-break.
    *
    * Scale shape: each half-round is ONE equi-join of the skinny score
    * frame onto the persisted edge list + ONE map-combinable integer
    * sum — the PageRank superstep shape exactly; the driver holds only
    * the round counter.
    */
  private val qGraphHits = Q(
    "q_graph_hits",
    (s, dir) => {
      val edges = bipartiteEdges(s, dir)
      // a1 = in-degree: on the symmetric edge artifact that is deg(src)
      val a1 = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("a"))
      // h1 has exactly one consumer (a2's join) — a checkpoint here bought
      // no reuse, only a blocking materialization job per run
      val h1 = edges.join(a1.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum("a").as("h"))
      val a2 = edges.join(h1.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum("h").as("a"))
        .localCheckpoint(true) // A/B sf0.1: 1.29 s with, 1.60 s without
      val h2 = edges.join(a2.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum("a").as("h"))
      a2.join(h2, "id")
        .select(
          expr("CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END").as("node_type"),
          expr("id DIV 2").as("node_key"),
          col("a").as("auth2"), col("h").as("hub2"))
        .orderBy(col("auth2").desc, col("node_type"), col("node_key"))
        .limit(20)
    },
    Some("""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
            edges AS (SELECT c * 2 AS src, sk * 2 + 1 AS dst FROM pairs
                      UNION ALL
                      SELECT sk * 2 + 1 AS src, c * 2 AS dst FROM pairs),
            a1 AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS a
                   FROM edges GROUP BY dst),
            h1 AS (SELECT e.src AS id, CAST(SUM(a1.a) AS BIGINT) AS h
                   FROM edges e JOIN a1 ON e.dst = a1.id GROUP BY e.src),
            a2 AS (SELECT e.dst AS id, CAST(SUM(h1.h) AS BIGINT) AS a
                   FROM edges e JOIN h1 ON e.src = h1.id GROUP BY e.dst),
            h2 AS (SELECT e.src AS id, CAST(SUM(a2.a) AS BIGINT) AS h
                   FROM edges e JOIN a2 ON e.dst = a2.id GROUP BY e.src)
            SELECT CASE WHEN a2.id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
             a2.id // 2 AS node_key, a2.a AS auth2, h2.h AS hub2
            FROM a2 JOIN h2 ON a2.id = h2.id
            ORDER BY auth2 DESC, node_type, node_key LIMIT 20"""))

  /** Degree-class MIXING matrix — Newman's assortativity analysis
    * (Newman, PRL 2002 "Assortative mixing in networks" / PRE 2003
    * "Mixing patterns in networks") over the persisted transaction
    * graph: who connects to whom BY DEGREE CLASS. The full Pearson
    * assortativity coefficient needs a sqrt (not engine-exact) and its
    * raw integer moments overflow BIGINT at sf1.0 (|E|·deg² ≈ 1e20), so
    * the declared output is the paper's underlying object instead — the
    * e_jk matrix over exact log2-degree classes (`length(bin(deg))`,
    * the `q_graph_degree_dist` bucket spelling), each cell with its
    * edge count and share in basis points, plus per-cell endpoint
    * degree means. Hub-to-leaf structure (disassortative bipartite
    * mixing) is read directly off the off-diagonal mass; InvariantsSpec
    * computes the assortativity SIGN from the bounded matrix in exact
    * arithmetic.
    *
    * Scale shape: one degree census off the persisted edge artifact
    * (already degree-annotated), one equi-join to annotate dst degrees,
    * ONE map-combinable (jb, kb) census — ≤ 64² cells at any scale.
    */
  private val qGraphMixing = Q(
    "q_graph_mixing",
    (s, dir) => {
      val e = bipartiteEdges(s, dir) // (src, dst, deg) with deg = deg(src)
      val dd = e.select(col("src").as("dst"), col("deg").as("ddeg")).distinct()
      val cells = e.join(dd, "dst")
        .select(expr("CAST(length(bin(deg)) AS BIGINT)").as("jb"),
          expr("CAST(length(bin(ddeg)) AS BIGINT)").as("kb"),
          col("deg"), col("ddeg"))
        .groupBy("jb", "kb")
        .agg(count(lit(1)).as("n_edges"),
          expr("sum(deg) div count(1)").as("mean_src_deg"),
          expr("sum(ddeg) div count(1)").as("mean_dst_deg"))
      val tot = cells.agg(sum("n_edges").as("te"))
      cells.crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("n_edges * 10000L div te"))
        .select(col("jb"), col("kb"), col("n_edges"), col("share_bp"),
          col("mean_src_deg"), col("mean_dst_deg"))
        .orderBy("jb", "kb")
    },
    Some("""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
            edges AS (SELECT c * 2 AS src, sk * 2 + 1 AS dst FROM pairs
                      UNION ALL
                      SELECT sk * 2 + 1 AS src, c * 2 AS dst FROM pairs),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM edges GROUP BY src),
            an AS (SELECT e.src, e.dst, d1.deg AS deg, d2.deg AS ddeg
                   FROM edges e JOIN deg d1 ON e.src = d1.src
                   JOIN deg d2 ON e.dst = d2.src),
            cl AS (SELECT CAST(length(bin(deg)) AS BIGINT) AS jb,
                    CAST(length(bin(ddeg)) AS BIGINT) AS kb,
                    CAST(COUNT(*) AS BIGINT) AS n_edges,
                    CAST(SUM(deg) // COUNT(*) AS BIGINT) AS mean_src_deg,
                    CAST(SUM(ddeg) // COUNT(*) AS BIGINT) AS mean_dst_deg
                   FROM an GROUP BY 1, 2),
            tt AS (SELECT CAST(SUM(n_edges) AS BIGINT) AS te FROM cl)
            SELECT jb, kb, n_edges,
             CAST(n_edges * 10000 // te AS BIGINT) AS share_bp,
             mean_src_deg, mean_dst_deg
            FROM cl CROSS JOIN tt ORDER BY jb, kb"""))

  /** EXACT Pearson degree assortativity (r11 — completes what
    * [[qGraphMixing]] deliberately substituted): on a SYMMETRIZED edge
    * list (both orientations present, as `bipartiteEdges` stores it) the
    * source- and destination-degree marginals are identical, so Newman's
    * r = cov(j,k)/(σ_j·σ_k) collapses to NUM/DEN with
    * NUM = M·Σjk − (Σj)² and DEN = M·Σj² − (Σj)² — NO sqrt anywhere,
    * which is exactly the obstruction that forced the r10 mixing-matrix
    * substitution (SURVEY §2.15: "the Pearson coefficient needs a sqrt").
    * The second obstruction (raw moments overflow BIGINT at sf1.0,
    * |E|·deg² ≈ 1e20) falls to the ADVICE-r10 widening discipline: every
    * moment is accumulated in DECIMAL(38,0)/HUGEINT BEFORE the multiply.
    * Output keeps sign and magnitude separate (r_sign, r_abs_bp) so both
    * integer divisions run on non-negative operands (DEN ≥ 0 by
    * Cauchy–Schwarz). Both engines in the shipped pair truncate toward
    * zero (duckdb 1.0.0: -7 // 2 = -3, same as Spark div), so this is
    * defensive style — the result stays hash-stable even under an
    * engine whose `//` floors (ARCHITECTURE §10 rule 4).
    *
    * Scale shape: ONE dst-degree equi-join on the persisted artifact +
    * ONE map-combinable 5-moment agg; final frame is a single row.
    */
  private val qGraphAssortativity = Q(
    "q_graph_assortativity",
    (s, dir) => {
      val e = bipartiteEdges(s, dir) // (src, dst, deg) with deg = deg(src)
      val dd = e.select(col("src").as("dst"), col("deg").as("ddeg")).distinct()
      e.join(dd, "dst")
        .agg(count(lit(1)).as("m_d"),
          sum(expr("CAST(deg AS DECIMAL(38, 0))")).as("sj"),
          sum(expr("CAST(deg AS DECIMAL(38, 0)) * deg")).as("sjj"),
          sum(expr("CAST(deg AS DECIMAL(38, 0)) * ddeg")).as("sjk"),
          max("deg").as("max_deg"))
        .withColumn("num", expr("CAST(m_d AS DECIMAL(38, 0)) * sjk - sj * sj"))
        .withColumn("den", expr("CAST(m_d AS DECIMAL(38, 0)) * sjj - sj * sj"))
        .select(
          col("m_d").as("n_edges"),
          col("max_deg"),
          expr("(sj * 1000L) div m_d").as("mean_deg_milli"),
          expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)")
            .as("r_sign"),
          expr("CASE WHEN den = 0 THEN 0L ELSE (abs(num) * 10000L) div den END")
            .as("r_abs_bp"))
    },
    Some("""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
            edges AS (SELECT c * 2 AS src, sk * 2 + 1 AS dst FROM pairs
                      UNION ALL
                      SELECT sk * 2 + 1 AS src, c * 2 AS dst FROM pairs),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM edges GROUP BY src),
            an AS (SELECT d1.deg AS deg, d2.deg AS ddeg
                   FROM edges e JOIN deg d1 ON e.src = d1.src
                   JOIN deg d2 ON e.dst = d2.src),
            mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_d,
                     SUM(CAST(deg AS HUGEINT)) AS sj,
                     SUM(CAST(deg AS HUGEINT) * deg) AS sjj,
                     SUM(CAST(deg AS HUGEINT) * ddeg) AS sjk,
                     MAX(deg) AS max_deg
                    FROM an),
            rd AS (SELECT m_d, max_deg, sj,
                    m_d * sjk - sj * sj AS num,
                    m_d * sjj - sj * sj AS den
                   FROM mom)
            SELECT m_d AS n_edges, max_deg,
             CAST(sj * 1000 // m_d AS BIGINT) AS mean_deg_milli,
             CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
                  AS BIGINT) AS r_sign,
             CAST(CASE WHEN den = 0 THEN 0
                       ELSE abs(num) * 10000 // den END AS BIGINT) AS r_abs_bp
            FROM rd"""))

  /** Per-node out-edge budget for the k-NN sparsification below. Each node
    * KEEPS ≤ TriKnn edges, so |E| ≤ n·TriKnn and average degree ≤ 2·TriKnn
    * (OR-survival means a popular node's IN-degree is not individually
    * bounded — many peers may keep edges into a hub — but degree
    * orientation below bounds the wedge work by out-degree ≤ O(√|E|)
    * regardless). This is the knob that makes triangle counting
    * corpus-linear in |E|.
    */
  private val TriKnn = 16

  /** Triangle counting over the part co-purchase graph (parts appearing in
    * the same order), with the two disciplines that make the op survive a
    * dense or skewed graph at 100 TB:
    *
    *  1. k-NN SPARSIFICATION — co-occurrence weights are computed per pair
    *     (bounded self-join: each order contributes C(#parts-in-order, 2)
    *     pairs, ~6 for TPC-H-shaped orders), then each node keeps only its
    *     TriKnn strongest edges (weight desc, partner asc — deterministic).
    *     An edge survives if EITHER endpoint kept it, so |E| ≤ n·TriKnn and
    *     the AVERAGE degree is ≤ 2·TriKnn (a hub's in-degree from peers
    *     that kept it is not individually bounded, but the edge COUNT is —
    *     which is what the join volumes below depend on). This is the
    *     standard similarity-graph construction for clustering /
    *     community detection at scale — without it the co-purchase graph of
    *     a dense catalog approaches a clique and triangle counting is Θ(n³).
    *  2. DEGREE ORIENTATION — every surviving edge is directed from the
    *     (degree, id)-lexicographically-smaller endpoint to the larger
    *     (compared as the PAIR (deg, id), never packed into one integer —
    *     a packed key silently collides once ids outgrow the base, and at
    *     the 100 TB scale this op targets, ids do). Each triangle
    *     {x ≺ y ≺ z} is then found EXACTLY once, as wedge (x→y, x→z)
    *     closed by edge y→z, and the wedge fan-out per pivot is bounded by
    *     the out-degree under degree orientation, O(√|E|) — the
    *     compact-forward algorithm that keeps hub nodes from exploding
    *     the join.
    *
    * Output: top-20 parts by triangle participation (each triangle credits
    * all three corners) — the clustering-coefficient numerator, all-integer
    * (D1), tie-broken by part id. Shape at scale: three hash joins on
    * skinny integer frames + one window capped at TriKnn rows per node; no
    * driver-side state.
    */
  /** The TriKnn-sparsified part co-purchase graph as a canonical
    * undirected edge set (a < b by id), shared by every §2.15 analytics
    * query — one similarity-graph construction, four analytics.
    *
    * PERSISTED once per corpus and reused ([[Artifacts.persisted]],
    * keyed on lineitem.parquet): the co-occurrence pair join + per-node
    * top-k cap is by far the dominant cost of every graph query (~4-5 s
    * of each at sf0.1), and a production deployment builds the graph
    * once then runs MANY analytics over it — the persisted edge table is
    * what makes the per-query bench measure the ANALYTIC its name
    * claims, not four rebuilds of the same graph.
    */
  private[graft] def sparseEdges(s: SparkSession, dir: String): DataFrame =
    Artifacts.persisted(s, dir, "graph", "lineitem.parquet")(buildSparseEdges(s, dir))

  private def buildSparseEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val co = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    // pair co-occurrence weights; a.p < b.p canonicalizes the pair
    val w = co.as("a").join(co.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("w"))
    // per-node strongest TriKnn edges, either direction
    val half = w.select(col("pa").as("node"), col("pb").as("peer"), col("w"))
      .unionByName(w.select(col("pb").as("node"), col("pa").as("peer"), col("w")))
    val kept = half
      .withColumn("rn", row_number().over(
        Window.partitionBy("node").orderBy(col("w").desc, col("peer"))))
      .filter(col("rn") <= TriKnn)
    kept.select(least(col("node"), col("peer")).as("a"),
        greatest(col("node"), col("peer")).as("b"))
      .distinct()
  }

  /** The same construction as DuckDB CTEs (`co`/`w`/`half`/`kept`/`edges`),
    * interpolated into both graph oracles so the two engines cannot drift.
    */
  private def sparseEdgesSql: String =
    s"""co AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
             w AS MATERIALIZED (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w
                   FROM co a JOIN co b ON a.ok = b.ok AND a.p < b.p
                   GROUP BY a.p, b.p),
             half AS (SELECT pa AS node, pb AS peer, w FROM w
                      UNION ALL
                      SELECT pb AS node, pa AS peer, w FROM w),
             kept AS (SELECT node, peer FROM (
                        SELECT node, peer,
                               ROW_NUMBER() OVER (PARTITION BY node
                                 ORDER BY w DESC, peer) AS rn
                        FROM half) WHERE rn <= $TriKnn),
             edges AS MATERIALIZED (SELECT DISTINCT LEAST(node, peer) AS a,
                              GREATEST(node, peer) AS b FROM kept)"""

  /** Per-node triangle-participation census (node, tri_cnt) over the
    * shared sparsified co-purchase graph — the degree-oriented wedge
    * machinery, factored out (r13) so `q_graph_triangles` (the ranking)
    * and `q_graph_clustering` (the tri/(deg choose 2) ratio) share ONE
    * spelling in both engines. Each triangle is found exactly once as a
    * wedge at its (deg, id)-lexicographic min corner closed by an
    * oriented edge; fan-out O(√|E|) per pivot.
    */
  private def triCounts(s: SparkSession, dir: String): DataFrame = {
    val edges = sparseEdges(s, dir)
    val deg = edges.select(col("a").as("n")).unionByName(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // degree-oriented edges: src ≺ dst under the lexicographic pair
    // (deg, id) — compared two-level, never packed into one BIGINT
    val ann = edges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aLtB = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // NOT repartitioned: a repartition(src) was tried (r14) and reverted — it
    // forces the wedge join and the closing semi-join onto co-partitioned
    // SMJs, shuffling and sorting the full wedge stream that the planner
    // otherwise handles with broadcast joins over the small ori frame
    // (measured: q_graph_triangles 1.68 -> 2.23 s, task time 2 s -> 30 s).
    val ori = ann.select(
        when(aLtB, col("a")).otherwise(col("b")).as("src"),
        when(aLtB, col("b")).otherwise(col("a")).as("dst"),
        when(aLtB, col("db")).otherwise(col("da")).as("ddst"))
    // wedges at the ≺-min corner, closed by the oriented (y,z) edge;
    // the two out-neighbors are ordered by the same (deg, id) pair
    val wedgeLt = col("e1.ddst") < col("e2.ddst") ||
      (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))
    val tri = ori.as("e1").join(ori.as("e2"),
        col("e1.src") === col("e2.src") && wedgeLt)
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
      .join(ori.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"), "left_semi")
    tri.select(col("x").as("node"))
      .unionByName(tri.select(col("y").as("node")))
      .unionByName(tri.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  /** The deg/ori/tri/corners/tcnt CTE chain of the same census, shared by
    * the `q_graph_triangles` and `q_graph_clustering` oracles (tcnt is
    * MATERIALIZED — the `q_graph_kcore` lesson: DuckDB's default inlining
    * re-expands a multiply-consumed CTE). Expects `edges` in scope.
    */
  private def triCensusSql: String =
    s"""deg AS MATERIALIZED (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                       SELECT a AS n FROM edges UNION ALL SELECT b AS n FROM edges)
                     GROUP BY n),
             ori AS MATERIALIZED (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                                 THEN e.a ELSE e.b END AS src,
                            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                                 THEN e.b ELSE e.a END AS dst,
                            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                                 THEN db.deg ELSE da.deg END AS ddst
                     FROM edges e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
             tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                     FROM ori e1 JOIN ori e2
                       ON e1.src = e2.src
                      AND (e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
                     WHERE EXISTS (SELECT 1 FROM ori e3
                                   WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
             corners AS (SELECT x AS node FROM tri
                         UNION ALL SELECT y FROM tri
                         UNION ALL SELECT z FROM tri),
             tcnt AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt
                     FROM corners GROUP BY node)"""

  private val qGraphTriangles = Q(
    "q_graph_triangles",
    (s, dir) =>
      triCounts(s, dir)
        .orderBy(col("tri_cnt").desc, col("node"))
        .limit(20)
        .select(col("node").as("p_partkey"), col("tri_cnt")),
    Some(s"""WITH $sparseEdgesSql,
             $triCensusSql
             SELECT node AS p_partkey, tri_cnt FROM tcnt
             ORDER BY tri_cnt DESC, node LIMIT 20"""))

  /** LOCAL CLUSTERING COEFFICIENT (r13 — Watts & Strogatz, Nature 1998:
    * the per-node "how close is my neighborhood to a clique" ratio
    * cc = 2·tri / (deg·(deg−1)) — the standard completion of the
    * triangle census, and the per-item tightness score a curation
    * pipeline reads to separate clique-like co-purchase neighborhoods
    * (bundles, accessory sets) from hub-like ones (bestsellers that
    * co-occur with everything). Shares [[triCounts]]/[[triCensusSql]]
    * with `q_graph_triangles` so the numerator cannot drift between the
    * two keys. D1: the ratio is floor-bp integer arithmetic
    * (2·tri·10⁴ div (deg·(deg−1)) — both engines truncate non-negative
    * division identically); deg ≥ 2 filter keeps the denominator
    * positive (deg-1 nodes have no defined coefficient). Output: top-20
    * by (cc_bp, tri_cnt, node) — all-integer, deterministic tie-break.
    *
    * Scale shape: rides the persisted sparsified edge artifact; ONE
    * extra map-combinable deg agg + ONE node-keyed equi-join on top of
    * the shared wedge census. Overflow bound, explicit (the hub hazard
    * `q_graph_degree_dist` documents — OR-survival bounds |E|, NOT a
    * hub's in-degree): a node's tri_cnt is at most the edge count among
    * its neighbors, so tri_cnt ≤ |E| ≤ n·TriKnn, and 2·10⁴·tri_cnt
    * stays BIGINT-exact to |E| < 4.6·10¹⁴ — n ≲ 2.9·10¹³ parts.
    */
  private val qGraphClustering = Q(
    "q_graph_clustering",
    (s, dir) => {
      val edges = sparseEdges(s, dir)
      val deg = edges.select(col("a").as("n")).unionByName(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      triCounts(s, dir)
        .join(deg.select(col("n").as("node"), col("deg")), "node")
        .filter(col("deg") >= 2)
        .withColumn("cc_bp", expr("tri_cnt * 2L * 10000L div (deg * (deg - 1L))"))
        .orderBy(col("cc_bp").desc, col("tri_cnt").desc, col("node"))
        .limit(20)
        .select(col("node").as("p_partkey"), col("deg"), col("tri_cnt"), col("cc_bp"))
    },
    Some(s"""WITH $sparseEdgesSql,
             $triCensusSql
             SELECT t.node AS p_partkey, d.deg, t.tri_cnt,
                    CAST(t.tri_cnt * 2 * 10000 // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_bp
             FROM tcnt t JOIN deg d ON t.node = d.n
             WHERE d.deg >= 2
             ORDER BY cc_bp DESC, t.tri_cnt DESC, t.node LIMIT 20"""))

  /** Fixed superstep count for seeded label propagation — labels reach
    * everything within LpIters hops of a seed while the oracle stays a
    * finite CTE chain (the q_graph_pagerank discipline).
    */
  private val LpIters = 3

  /** 1-in-LpSeedMod nodes are hash-elected community seeds ("lps_" salt,
    * independent of every other selection stream per the §2.14 rule).
    */
  private val LpSeedMod = 32

  /** SEEDED label propagation over the shared TriKnn-sparsified
    * co-purchase graph: a hash-elected 1-in-[[LpSeedMod]] of nodes start
    * as seeds carrying their own id; each superstep an UNLABELED node
    * adopts the minimum label among its labeled neighbors, and a labeled
    * node keeps its label (first-arrival-wins). After [[LpIters]] rounds
    * every node holds the min-id seed at minimal hop distance ≤ LpIters —
    * a hop-space Voronoi assignment ("which cluster seed does this item
    * belong to"), the deterministic form of community assignment a
    * curation pipeline actually uses (plain unseeded min-flood is NOT it:
    * on this small-diameter similarity graph the global min id floods
    * everything in 3 hops and the answer degenerates to one community —
    * measured at sf0.01 before this design). Output: top-20 communities
    * by size (community = seed id, n_members, member id checksum) plus
    * the `-1` row counting still-unreached nodes — all-integer (D1),
    * deterministic order.
    *
    * Scale shape: adjacency materialized ONCE (2·|E| skinny integer
    * rows); each superstep is ONE equi-join of the label frame onto it,
    * ONE map-combinable MIN agg, and ONE node-keyed LEFT join folding
    * kept labels back — the q_graph_pagerank Pregel-on-shuffle cost
    * model, localCheckpoint truncating lineage per round, driver sees
    * only the loop counter. The fixed round count (vs ConnectedComponents'
    * convergence loop) is what keeps the result DuckDB-expressible.
    */
  /** The label-prop assignment after [[LpIters]] rounds — (n, lab with
    * NULL = unreached), shared by `q_graph_label_prop` and
    * `q_graph_modularity` (one spelling of the propagation). */
  private[graft] def lpLabels(s: SparkSession, dir: String): DataFrame = {
    val edges = sparseEdges(s, dir)
    val nodes = edges.select(col("a").as("n"))
      .unionByName(edges.select(col("b").as("n")))
      .distinct()
    val adj = edges.select(col("a").as("n"), col("b").as("nbr"))
      .unionByName(edges.select(col("b").as("n"), col("a").as("nbr")))
      .localCheckpoint(true) // read by every superstep's job
    val seedHash = Llm.md5Hex32Spark("concat('lps_', CAST(n AS STRING))")
    var lab = nodes.select(col("n"),
        expr(s"CASE WHEN pmod($seedHash, $LpSeedMod) = 0 THEN n END").as("lab"))
      .localCheckpoint(true) // iteration: lab is reassigned per superstep
    // The BFS-style union + single-min fold was tried here (r14) and
    // reverted: first-arrival-wins needs a priority STRUCT min (the
    // existing label must beat a smaller neighbor label), and the
    // struct-typed aggregate measurably lost to the plain join + long-MIN
    // spelling (1.42 -> 2.25 s at sf0.1). BFS keeps the union fold —
    // its relaxation is a plain long MIN.
    for (_ <- 1 to LpIters) {
      val nbrMin = adj
        .join(lab.select(col("n").as("nbr"), col("lab").as("nl")), "nbr")
        .filter(col("nl").isNotNull)
        .groupBy("n").agg(min("nl").as("nm"))
      lab = lab.join(nbrMin, Seq("n"), "left")
        .select(col("n"), coalesce(col("lab"), col("nm")).as("lab"))
        .localCheckpoint(true) // iteration: lab is reassigned per superstep
    }
    lab
  }

  /** The l0..l3 CTE chain of the same propagation, shared by both graph
    * oracles so the engine twins cannot drift. Expects `nodes`/`adj` in
    * scope; leaves the final frame as `l$LpIters`. */
  private def lpLabelsSql: String =
    s"""l0 AS MATERIALIZED (SELECT n, CASE WHEN ${Llm.md5Hex32Sql("'lps_' || CAST(n AS VARCHAR)")} % $LpSeedMod = 0
                         THEN n END AS lab FROM nodes),
        l1 AS MATERIALIZED (SELECT l.n, COALESCE(l.lab, m.nm) AS lab FROM l0 l
               LEFT JOIN (SELECT adj.n, MIN(l0.lab) AS nm FROM adj
                          JOIN l0 ON adj.nbr = l0.n GROUP BY adj.n) m
                 ON l.n = m.n),
        l2 AS MATERIALIZED (SELECT l.n, COALESCE(l.lab, m.nm) AS lab FROM l1 l
               LEFT JOIN (SELECT adj.n, MIN(l1.lab) AS nm FROM adj
                          JOIN l1 ON adj.nbr = l1.n GROUP BY adj.n) m
                 ON l.n = m.n),
        l3 AS MATERIALIZED (SELECT l.n, COALESCE(l.lab, m.nm) AS lab FROM l2 l
               LEFT JOIN (SELECT adj.n, MIN(l2.lab) AS nm FROM adj
                          JOIN l2 ON adj.nbr = l2.n GROUP BY adj.n) m
                 ON l.n = m.n)"""

  private val qGraphLabelProp = Q(
    "q_graph_label_prop",
    (s, dir) => {
      lpLabels(s, dir).groupBy(coalesce(col("lab"), lit(-1L)).as("community"))
        .agg(count(lit(1)).as("n_members"), sum("n").as("id_sum"))
        .orderBy(col("n_members").desc, col("community"))
        .limit(20)
    },
    Some(s"""WITH $sparseEdgesSql,
             nodes AS (SELECT DISTINCT n FROM (
                         SELECT a AS n FROM edges
                         UNION ALL SELECT b AS n FROM edges) u),
             adj AS MATERIALIZED (SELECT a AS n, b AS nbr FROM edges
                     UNION ALL SELECT b AS n, a AS nbr FROM edges),
             $lpLabelsSql
             SELECT COALESCE(lab, -1) AS community,
                    CAST(COUNT(*) AS BIGINT) AS n_members,
                    CAST(SUM(n) AS BIGINT) AS id_sum
             FROM l3 GROUP BY COALESCE(lab, -1)
             ORDER BY n_members DESC, community LIMIT 20"""))

  /** Neighborhood-Jaccard edge scoring over the sparsified co-purchase
    * graph — the link-prediction / graph-near-dup primitive ("how much do
    * this edge's endpoints share their neighborhoods"): for every kept
    * edge (a, b), common = |N(a) ∩ N(b)| and jac_bp = ⌊10⁴·common /
    * (deg_a + deg_b − common)⌋ all-integer (D1; denominator ≥ 2 because
    * a and b are in each other's union by edge existence). Top-20 edges
    * by similarity, (a, b) tie-break.
    *
    * Scale shape: common(a, b) is EXACTLY the number of triangles
    * through edge (a, b), so the counts ride the same degree-ORIENTED
    * wedge enumeration as `q_graph_triangles` — fan-out bounded by
    * out-degree under orientation, O(√|E|) — with each found triangle
    * exploded onto its three canonical edges and counted per edge. The
    * naive alternative (probe adjacency from one endpoint, equi-join on
    * the shared neighbor) pays Σ_edges deg(endpoint), which a hub's
    * UNBOUNDED in-degree blows up — measured 29 s vs ~6 s for the
    * oriented form on the same fixture, and the gap widens with skew.
    */
  private val qGraphJaccardNbr = Q(
    "q_graph_jaccard_nbr",
    (s, dir) => {
      val edges = sparseEdges(s, dir)
      val deg = edges.select(col("a").as("n")).unionByName(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val ann = edges
        .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      val aLtB = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      // not repartitioned — see triCounts' ori note (that regressed the
      // wedge machinery by forcing SMJs over the wedge stream)
      val ori = ann.select(
          when(aLtB, col("a")).otherwise(col("b")).as("src"),
          when(aLtB, col("b")).otherwise(col("a")).as("dst"),
          when(aLtB, col("db")).otherwise(col("da")).as("ddst"))
      val wedgeLt = col("e1.ddst") < col("e2.ddst") ||
        (col("e1.ddst") === col("e2.ddst") && col("e1.dst") < col("e2.dst"))
      val tri = ori.as("e1").join(ori.as("e2"),
          col("e1.src") === col("e2.src") && wedgeLt)
        .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
        .join(ori.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"), "left_semi")
      val common = tri.select(explode(array(
          struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b")),
          struct(least(col("x"), col("z")).as("a"), greatest(col("x"), col("z")).as("b")),
          struct(least(col("y"), col("z")).as("a"), greatest(col("y"), col("z")).as("b"))))
          .as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("common"))
      edges.join(common, Seq("a", "b"), "left")
        .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"),
          coalesce(col("common"), lit(0L)).as("common"), col("da"), col("db"),
          expr("coalesce(common, CAST(0 AS BIGINT)) * 10000 div " +
            "(da + db - coalesce(common, CAST(0 AS BIGINT)))").as("jac_bp"))
        .orderBy(col("jac_bp").desc, col("a"), col("b"))
        .limit(20)
    },
    Some(s"""WITH $sparseEdgesSql,
             deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                       SELECT a AS n FROM edges UNION ALL SELECT b AS n FROM edges)
                     GROUP BY n),
             ori AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                                 THEN e.a ELSE e.b END AS src,
                            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                                 THEN e.b ELSE e.a END AS dst,
                            CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                                 THEN db.deg ELSE da.deg END AS ddst
                     FROM edges e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
             tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                     FROM ori e1 JOIN ori e2
                       ON e1.src = e2.src
                      AND (e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
                     WHERE EXISTS (SELECT 1 FROM ori e3
                                   WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
             te AS (SELECT LEAST(x, y) AS a, GREATEST(x, y) AS b FROM tri
                    UNION ALL SELECT LEAST(x, z), GREATEST(x, z) FROM tri
                    UNION ALL SELECT LEAST(y, z), GREATEST(y, z) FROM tri),
             cm AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common
                    FROM te GROUP BY a, b)
            SELECT e.a, e.b, COALESCE(cm.common, 0) AS common,
              d1.deg AS da, d2.deg AS db,
              COALESCE(cm.common, 0) * 10000 //
                (d1.deg + d2.deg - COALESCE(cm.common, 0)) AS jac_bp
            FROM edges e
            LEFT JOIN cm ON e.a = cm.a AND e.b = cm.b
            JOIN deg d1 ON d1.n = e.a
            JOIN deg d2 ON d2.n = e.b
            ORDER BY jac_bp DESC, e.a, e.b LIMIT 20"""))

  /** k-core threshold and peel rounds. K = 6 bites on the TriKnn = 16
    * sparsified graph (every node KEEPS ≤ 16 edges but may hold fewer
    * after mutual-overlap dedup, and hub in-edges concentrate degree);
    * 3 rounds is the declared fixed-superstep budget — production runs
    * the same peel to fixpoint (the ConnectedComponents driver-scalar
    * loop), a fixed count keeps the oracle a finite CTE chain.
    */
  private val KCoreK = 6
  private val KCoreRounds = 3

  /** k-core extraction over the co-purchase graph — the dense-region
    * filter of graph curation (community mining, spam/bridge removal,
    * "keep items with at least K strong co-purchase partners"): rounds
    * of PEELING, each dropping nodes whose CURRENT degree < K and the
    * edges they carry — degree recomputed each round, so peeling
    * cascades (removing a hub can orphan its spokes). Output: top-20
    * surviving nodes by within-core degree after [[KCoreRounds]] rounds
    * (deg desc, id tie-break), all-integer.
    *
    * Scale shape: each round is one map-combinable degree aggregation
    * over the live edge set + two LEFT SEMI hash joins restricting edges
    * to surviving endpoints, checkpointed per round (the q_dedup_cluster
    * superstep discipline — lineage stays flat, the driver sees no data).
    * Cost per round is O(|E| live|); the live set only shrinks.
    */
  private val qGraphKcore = Q(
    "q_graph_kcore",
    (s, dir) => {
      var alive = sparseEdges(s, dir)
      for (_ <- 1 to KCoreRounds) {
        val deg = alive.select(col("a").as("n"))
          .unionByName(alive.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("c"))
        val keep = deg.filter(col("c") >= KCoreK).select("n")
        alive = alive
          .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
          .localCheckpoint(true) // iteration: alive is reassigned per peel round
      }
      alive.select(col("a").as("n"))
        .unionByName(alive.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("core_deg"))
        .orderBy(col("core_deg").desc, col("n"))
        .limit(20)
        .select(col("n").as("node"), col("core_deg"))
    },
    Some {
      // every e$i is referenced 3× by round i+1 (degree union + two IN
      // probes) — MATERIALIZED pins each round to ONE evaluation where
      // DuckDB's default inlining would re-expand the whole chain (3^r
      // evaluations of the co-occurrence join: observed spill-to-disk
      // death at sf0.1)
      def round(i: Int, prev: String) =
        s"""d$i AS MATERIALIZED (SELECT n, COUNT(*) AS c FROM (
                      SELECT a AS n FROM $prev UNION ALL SELECT b AS n FROM $prev) u
                    GROUP BY n),
            k$i AS MATERIALIZED (SELECT n FROM d$i WHERE c >= $KCoreK),
            e$i AS MATERIALIZED (SELECT a, b FROM $prev
                    WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))"""
      s"""WITH $sparseEdgesSql,
          em AS MATERIALIZED (SELECT a, b FROM edges),
          ${round(1, "em")},
          ${round(2, "e1")},
          ${round(3, "e2")}
          SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
            SELECT a AS n FROM e3 UNION ALL SELECT b AS n FROM e3) u
          GROUP BY n ORDER BY core_deg DESC, n LIMIT 20"""
    })

  /** Degree-distribution audit of the shared sparsified graph — the
    * observability for the one hazard every §2.15 comment documents:
    * k-NN OR-survival bounds EDGE COUNT (|E| ≤ n·TriKnn) but not a
    * hub's in-degree, and it is exactly the hub tail that decides
    * whether degree orientation is load-bearing. Buckets are
    * exact-integer log2 ranges via `length(bin(deg))` = ⌊log2 deg⌋ + 1
    * — the binary-representation length, identical in both engines,
    * never a float log near a power-of-two boundary. Per bucket: node
    * count, min/max degree, degree mass (Σ deg — where the wedge work
    * lives). Shape: two map-combinable integer aggs over the persisted
    * edge table; the bucket frame is ≤ 64 rows at any scale.
    */
  private val qGraphDegreeDist = Q(
    "q_graph_degree_dist",
    (s, dir) => {
      val edges = sparseEdges(s, dir)
      val deg = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      deg.groupBy(expr("CAST(length(bin(deg)) AS BIGINT)").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min("deg").as("min_deg"),
          max("deg").as("max_deg"), sum("deg").as("deg_mass"))
        .orderBy("bucket")
    },
    Some(s"""WITH $sparseEdgesSql,
          deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
                    SELECT a AS n FROM edges UNION ALL SELECT b AS n FROM edges) u
                  GROUP BY n)
          SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 MIN(deg) AS min_deg, MAX(deg) AS max_deg,
                 CAST(SUM(deg) AS BIGINT) AS deg_mass
          FROM deg GROUP BY 1 ORDER BY bucket"""))

  /** 1-in-BfsSeedMod nodes are hash-elected BFS sources ("bfs_" salt —
    * independent of the label-prop seed election, shared-seed rule). */
  private val BfsSeedMod = 64

  /** Hop bound for the declared BFS census (and the CTE unroll depth —
    * the oracle-finiteness rule every superstep loop here follows). */
  private val BfsHops = 3

  /** MULTI-SOURCE BFS hop-distance census over the sparsified
    * co-purchase graph — the reachability/expansion probe (how fast a
    * frontier grows decides whether a propagation pass is worth running
    * and is the standard diameter estimate, cf. HADI/HyperANF
    * (Kang et al. ICDM'08, Boldi et al. WWW'11) which run EXACTLY this
    * frontier expansion with sketched frontiers): a hash-elected
    * 1-in-[[BfsSeedMod]] seed set starts at distance 0 and each
    * superstep relaxes d(n) ← min(d(n), min_nbr d(nbr) + 1) —
    * Bellman-Ford on unit weights, converging to exact hop distance ≤
    * [[BfsHops]]. Output: per-distance census (nodes, id checksum)
    * with the unreached bucket at −1 — the frontier-growth curve.
    *
    * Scale shape: identical to `q_graph_label_prop` (one equi-join +
    * map-combinable MIN + node-keyed LEFT join per superstep over the
    * persisted sparsified adjacency, localCheckpoint between rounds);
    * the census is ≤ [[BfsHops]]+2 rows at any scale. Production runs
    * the same relaxation to fixpoint behind the CC driver-scalar
    * convergence loop; fixed hops keep the oracle a finite CTE chain.
    */
  private val qGraphBfs = Q(
    "q_graph_bfs",
    (s, dir) => {
      val edges = sparseEdges(s, dir)
      val nodes = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
        .distinct()
      val adj = edges.select(col("a").as("n"), col("b").as("nbr"))
        .unionByName(edges.select(col("b").as("n"), col("a").as("nbr")))
        .localCheckpoint(true) // read by every superstep's job
      val seedHash = Llm.md5Hex32Spark("concat('bfs_', CAST(n AS STRING))")
      var dist = nodes.select(col("n"),
          expr(s"CASE WHEN pmod($seedHash, $BfsSeedMod) = 0 THEN 0L END").as("d"))
        .localCheckpoint(true) // iteration: dist is reassigned per superstep
      // Each superstep folds the relaxation in ONE aggregation: the
      // neighbor contributions (nd + 1) are unioned with the current
      // distance rows and min-reduced per node — min(d, min_nbr(nd)+1)
      // exactly, with null distances ignored by MIN and preserved when
      // no row of the group carries a value (the unreached case). The
      // previous spelling shuffled the same bytes through a groupBy AND
      // a node-keyed LEFT join (two exchanges + a join per superstep);
      // the union needs only the groupBy. Every dist row appears in the
      // union, so the node set is preserved round over round.
      for (_ <- 1 to BfsHops) {
        val contrib = adj
          .join(dist.select(col("n").as("nbr"), col("d").as("nd")), "nbr")
          .filter(col("nd").isNotNull)
          .select(col("n"), (col("nd") + 1L).as("d"))
        dist = dist.unionByName(contrib)
          .groupBy("n").agg(min("d").as("d"))
          .localCheckpoint(true) // iteration: dist is reassigned per superstep
      }
      dist.groupBy(coalesce(col("d"), lit(-1L)).as("dist"))
        .agg(count(lit(1)).as("n_nodes"), sum("n").as("id_sum"))
        .orderBy("dist")
    },
    Some(s"""WITH $sparseEdgesSql,
             nodes AS (SELECT DISTINCT n FROM (
                         SELECT a AS n FROM edges
                         UNION ALL SELECT b AS n FROM edges) u),
             adj AS MATERIALIZED (SELECT a AS n, b AS nbr FROM edges
                     UNION ALL SELECT b AS n, a AS nbr FROM edges),
             d0 AS MATERIALIZED (SELECT n, CASE WHEN ${Llm.md5Hex32Sql("'bfs_' || CAST(n AS VARCHAR)")} % $BfsSeedMod = 0
                              THEN CAST(0 AS BIGINT) END AS d FROM nodes),
             d1 AS MATERIALIZED (SELECT x.n, least(x.d, m.cand) AS d FROM d0 x
                    LEFT JOIN (SELECT adj.n, MIN(d0.d) + 1 AS cand FROM adj
                               JOIN d0 ON adj.nbr = d0.n
                               WHERE d0.d IS NOT NULL GROUP BY adj.n) m
                      ON x.n = m.n),
             d2 AS MATERIALIZED (SELECT x.n, least(x.d, m.cand) AS d FROM d1 x
                    LEFT JOIN (SELECT adj.n, MIN(d1.d) + 1 AS cand FROM adj
                               JOIN d1 ON adj.nbr = d1.n
                               WHERE d1.d IS NOT NULL GROUP BY adj.n) m
                      ON x.n = m.n),
             d3 AS MATERIALIZED (SELECT x.n, least(x.d, m.cand) AS d FROM d2 x
                    LEFT JOIN (SELECT adj.n, MIN(d2.d) + 1 AS cand FROM adj
                               JOIN d2 ON adj.nbr = d2.n
                               WHERE d2.d IS NOT NULL GROUP BY adj.n) m
                      ON x.n = m.n)
             SELECT COALESCE(d, -1) AS dist,
                    CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM(n) AS BIGINT) AS id_sum
             FROM d3 GROUP BY COALESCE(d, -1) ORDER BY dist"""))

  /** NEWMAN MODULARITY of the label-prop partition — the single number
    * that says whether a community assignment beats chance (Newman &
    * Girvan 2004; Newman PNAS 2006): Q = Σ_c [e_c/m − (d_c/2m)²] with
    * m = |E|, e_c = intra-community edges, d_c = degree mass of c —
    * the quality gate a pipeline checks BEFORE acting on
    * `q_graph_label_prop`'s assignment (Q ≈ 0 means the "communities"
    * are no better than a random cut; the audit `q_graph_mixing` reads
    * classes, this reads the partition itself). Unreached nodes count
    * as singleton communities (a partition must cover every node —
    * dropping them would inflate Q). D1: Q is computed EXACTLY as the
    * integer numerator Σ_c (4·m·e_c − d_c²) over the implied 4·m²
    * denominator, reported in floor basis points; all joins/censuses
    * integer. Output: one summary row (communities, nodes, edges,
    * intra-edge total, q_bp, largest community).
    *
    * Scale shape: rides the shared [[lpLabels]] supersteps; then ONE
    * node-keyed degree join, ONE edge-keyed double label equi-join for
    * the intra census, map-combinable community aggs, and a 1-row
    * total broadcast for the final arithmetic — no new corpus-sized
    * shuffle beyond what label-prop already pays.
    */
  private val qGraphModularity = Q(
    "q_graph_modularity",
    (s, dir) => {
      val edges = sparseEdges(s, dir)
      val lab = lpLabels(s, dir)
        .select(col("n"), coalesce(col("lab"), col("n")).as("c"))
      val deg = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val dc = lab.join(deg, "n").groupBy("c")
        .agg(sum("deg").as("d_c"), count(lit(1)).as("sz"))
      val intra = edges
        .join(lab.select(col("n").as("a"), col("c").as("ca")), "a")
        .join(lab.select(col("n").as("b"), col("c").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
      val per = dc.join(intra, Seq("c"), "left")
        .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
      val m = edges.agg(count(lit(1)).as("m"))
      per.crossJoin(broadcast(m))
        .agg(count(lit(1)).as("n_comms"),
          sum("sz").as("n_nodes"),
          max("m").as("n_edges"),
          sum("e_c").as("intra_edges"),
          // summand widened BEFORE the multiply: 4·m·e_c is E²-scale,
          // so a 64-bit product wraps silently past |E| ≈ 1.5e9 in Spark
          // where DuckDB errors (the ADVICE r10 overflow class)
          sum(expr(
            "CAST(4L * m AS DECIMAL(38, 0)) * e_c - CAST(d_c AS DECIMAL(38, 0)) * d_c"))
            .as("q_num"),
          max("sz").as("top_comm_size"))
        .select(col("n_comms"), col("n_nodes"), col("n_edges"),
          col("intra_edges"),
          expr("(q_num * 10000L) div (CAST(4L * n_edges AS DECIMAL(38, 0)) * n_edges)")
            .as("q_bp"),
          col("top_comm_size"))
    },
    Some(s"""WITH $sparseEdgesSql,
             nodes AS (SELECT DISTINCT n FROM (
                         SELECT a AS n FROM edges
                         UNION ALL SELECT b AS n FROM edges) u),
             adj AS MATERIALIZED (SELECT a AS n, b AS nbr FROM edges
                     UNION ALL SELECT b AS n, a AS nbr FROM edges),
             $lpLabelsSql,
             lb AS (SELECT n, COALESCE(lab, n) AS c FROM l3),
             deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY n),
             dc AS (SELECT c, CAST(SUM(deg) AS BIGINT) AS d_c,
                     CAST(COUNT(*) AS BIGINT) AS sz
                    FROM lb JOIN deg USING (n) GROUP BY c),
             intra AS (SELECT la.c, CAST(COUNT(*) AS BIGINT) AS e_c
                       FROM edges e
                       JOIN lb la ON e.a = la.n
                       JOIN lb lcb ON e.b = lcb.n
                       WHERE la.c = lcb.c GROUP BY la.c),
             per AS (SELECT dc.c, dc.d_c, dc.sz, COALESCE(intra.e_c, 0) AS e_c
                     FROM dc LEFT JOIN intra USING (c)),
             mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges)
             SELECT CAST(COUNT(*) AS BIGINT) AS n_comms,
              CAST(SUM(sz) AS BIGINT) AS n_nodes,
              MAX(m) AS n_edges,
              CAST(SUM(e_c) AS BIGINT) AS intra_edges,
              CAST(SUM(4 * CAST(m AS HUGEINT) * e_c - CAST(d_c AS HUGEINT) * d_c)
                   * 10000
                   // (4 * CAST(MAX(m) AS HUGEINT) * MAX(m)) AS BIGINT) AS q_bp,
              MAX(sz) AS top_comm_size
             FROM per CROSS JOIN mm"""))

  val all: Seq[Q] = Seq(qGraphPagerank, qGraphHits, qGraphMixing, qGraphAssortativity,
    qGraphTriangles, qGraphClustering, qGraphLabelProp,
    qGraphJaccardNbr, qGraphKcore, qGraphDegreeDist, qGraphBfs, qGraphModularity)
}
