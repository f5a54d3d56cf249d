package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.14 — training-set ASSEMBLY operators: the steps that run
  * AFTER cleaning/dedup (§2.11) and turn a curated document pool into an
  * actual training mixture — benchmark decontamination, language-mixture
  * rebalancing, deterministic train/val/test splitting, GPT-style sequence
  * packing, per-source document caps, and incremental
  * (against-an-existing-corpus) dedup.
  *
  * Everything selection-shaped here derives from ONE engine-portable
  * pseudo-random primitive: [[Llm.md5Hex32Spark]] of a salted doc_id,
  * scaled to a uniform in [0, 2³²). Each operator salts differently
  * ("dec_" / "mix_" / "split_" / "pack_" / "cap_" / "inc_"), so the
  * benchmark membership, the mixture sample, the split assignment, the
  * pack order and the source-cap election are mutually independent —
  * reusing one hash would correlate
  * the benchmark set with the validation split, the classic
  * leakage-by-shared-seed bug. Selection-by-hash (not by rand()) is
  * what makes every operator re-runnable and its oracle expressible:
  * membership is a pure function of the row key.
  */
object Curation {

  /** Engine-portable uniform in [0, 2³²) from a salted doc_id. */
  private def u32Spark(salt: String): String =
    Llm.md5Hex32Spark(s"concat('${salt}_', CAST(doc_id AS STRING))")

  private def u32Sql(salt: String): String =
    Llm.md5Hex32Sql(s"'${salt}_' || CAST(doc_id AS VARCHAR)")

  /** The same, scaled to [0, 1) ([[Llm.md5U01Spark]] — the single home of
    * the 2³² divisor).
    */
  private def u01Spark(salt: String): String =
    Llm.md5U01Spark(s"concat('${salt}_', CAST(doc_id AS STRING))")

  private def u01Sql(salt: String): String =
    Llm.md5U01Sql(s"'${salt}_' || CAST(doc_id AS VARCHAR)")

  // ------------------------------------------------------ decontamination

  /** 1-in-DecontBenchMod docs play the held-out benchmark. */
  private[graft] val DecontBenchMod = 20

  /** Flag threshold: ≥ this many shingles shared with the benchmark. */
  private val DecontMinHits = 2

  /** Benchmark decontamination (the Lee/Brown-style n-gram overlap check
    * every serious pretraining corpus runs): a pseudo-random 1-in-20 of
    * documents stands in for the held-out benchmark suite; every OTHER
    * (training) document is scored by how many of its distinct 3-token
    * shingles also occur anywhere in the benchmark, and documents with
    * ≥ [[DecontMinHits]] overlapping shingles are reported for removal.
    *
    * Scale shape: the shingle universe is df-capped first
    * ([[Llm.ShingleDfCap]] — a boilerplate shingle in m docs would emit
    * m·|bench| join rows), the benchmark shingle SET is distinct-ed
    * before the join (its size is the benchmark's vocabulary, not its
    * corpus share), and the train×bench join is a shingle-keyed equi-join
    * whose output is aggregated map-side per doc. No step is quadratic
    * in corpus size or in any single key's frequency.
    *
    * HONEST LIMITATION (the df-cap trade, same as the §2.11 occupancy
    * caps): a shingle in more than [[Llm.ShingleDfCap]] docs is dropped
    * from the universe, so contamination carried ONLY by corpus-wide
    * boilerplate is invisible here — by design: such text also carries
    * ~zero benchmark-specific signal, and mass-duplicated content is
    * exact/chunk dedup's job before decontamination runs. A doc whose
    * every shingle is over-cap boilerplate scores no hits
    * (CurationSpec pins this contract).
    */
  private[graft] def decontaminateFrom(docs: DataFrame): DataFrame = {
    val sh = Llm.dropHotKeys(
      Llm.shinglesRawFrom(docs).distinct(), Seq("sh"), Llm.ShingleDfCap)
      .withColumn("is_bench", expr(s"pmod(${u32Spark("dec")}, $DecontBenchMod) = 0"))
    val benchSet = sh.filter(col("is_bench")).select("sh").distinct()
    val train = sh.filter(!col("is_bench")).select("doc_id", "sh")
    val cnt = train.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    train.join(benchSet, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") >= DecontMinHits)
      .join(cnt, "doc_id")
      .withColumn("hit_frac", expr("floor(n_hit / CAST(n_sh AS DOUBLE) * 10000) / 10000"))
      .select("doc_id", "n_sh", "n_hit", "hit_frac")
      .orderBy("doc_id")
  }

  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, dir) => decontaminateFrom(Tables.spread(s, dir, "documents", "doc_id")),
    Some(s"""WITH ${Llm.shinglesSql},
            shc AS (SELECT doc_id, s FROM (
                      SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh)
                    WHERE df <= ${Llm.ShingleDfCap}),
            f AS (SELECT doc_id, s,
                   (${u32Sql("dec")}) % $DecontBenchMod = 0 AS is_bench
                  FROM shc),
            b AS (SELECT DISTINCT s FROM f WHERE is_bench),
            t AS (SELECT doc_id, s FROM f WHERE NOT is_bench),
            cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
                    FROM t GROUP BY doc_id),
            hit AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
                    FROM t JOIN b USING (s) GROUP BY doc_id)
            SELECT hit.doc_id, n_sh, n_hit,
             floor(n_hit / CAST(n_sh AS DOUBLE) * 10000) / 10000 AS hit_frac
            FROM hit JOIN cnt ON hit.doc_id = cnt.doc_id
            WHERE n_hit >= $DecontMinHits
            ORDER BY hit.doc_id"""))

  // --------------------------------------------------- mixture resampling

  /** Inverse-√ rebalancing constant: a language with c docs keeps
    * ~[[MixK]]·√c of them, so head languages are downsampled toward the
    * tail (the standard temperature-style mixture flattening; √ is
    * exactly temperature α = 0.5 applied via a per-language keep
    * probability instead of a cross-language weight vector — which would
    * need a cross-group float SUM whose addition order, and hence
    * low-bit rounding, differs between engines).
    */
  private val MixK = 4

  /** Language-mixture rebalancing: per-language keep probability
    * p = min(1, K/√c), membership decided per doc by the salted-hash
    * uniform. Output is the per-language audit row: corpus count, kept
    * count, realized rate, and a kept-id checksum pinning the exact
    * membership (not just its size).
    *
    * Scale shape: the language census is a tiny agg broadcast back onto
    * the corpus; keep/drop is then map-only. One wide shuffle total (the
    * final per-lang agg, map-side combinable).
    */
  private[graft] def mixtureFrom(docs: DataFrame): DataFrame = {
    val lc = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    docs.select("doc_id", "lang").join(broadcast(lc), "lang")
      .withColumn("u", expr(u01Spark("mix")))
      .withColumn("p_keep", expr(
        s"least(CAST(1.0 AS DOUBLE), CAST($MixK AS DOUBLE) / sqrt(CAST(n_docs AS DOUBLE)))"))
      .withColumn("keep", col("u") < col("p_keep"))
      .groupBy("lang")
      .agg(
        min("n_docs").as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_sum"))
      .withColumn("keep_rate", expr("floor(n_kept / CAST(n_docs AS DOUBLE) * 10000) / 10000"))
      .orderBy("lang")
  }

  private val qSampleMixture = Q(
    "q_sample_mixture",
    (s, dir) => mixtureFrom(Tables(s, dir, "documents")),
    Some(s"""WITH lc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                        FROM documents GROUP BY lang),
            d AS (SELECT doc_id, d0.lang, n_docs,
                   ${u01Sql("mix")} AS u,
                   least(CAST(1.0 AS DOUBLE),
                         CAST($MixK AS DOUBLE) / sqrt(CAST(n_docs AS DOUBLE))) AS p_keep
                  FROM documents d0 JOIN lc ON d0.lang = lc.lang)
            SELECT lang, MIN(n_docs) AS n_docs,
             CAST(SUM(CASE WHEN u < p_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN u < p_keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
             floor(SUM(CASE WHEN u < p_keep THEN 1 ELSE 0 END)
                   / CAST(MIN(n_docs) AS DOUBLE) * 10000) / 10000 AS keep_rate
            FROM d GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------- token-budget fill

  /** Per-language token budget as a fraction of the language's own token
    * mass: budget = ceil(lang_tokens / MixTbDiv) — a 20% "temperature
    * cut" formulated per language so no cross-language float enters.
    */
  private val MixTbDiv = 5

  /** Token-budget-capped mixture assembly — the step that turns "train on
    * a 100 B-token mix" into a concrete document set: documents are laid
    * out in salted-hash order (the seedless pseudo-shuffle every selection
    * op here uses, salt "mixtb"), and each language keeps documents while
    * the running token total BEFORE the document is under the language's
    * budget — so the last kept document may overshoot by part of itself,
    * greedy-fill semantics, and membership is a pure function of the
    * corpus. Output is the per-language audit row (budget, docs kept,
    * tokens kept, kept-id checksum), the contract a mixture manifest pins.
    *
    * Scale shape: the running total is the SAME two-phase sharded prefix
    * sum as q_pack_sequences, keyed per language — within-(lang, shard)
    * window + broadcast per-shard offsets (one row per (lang, shard),
    * never a per-language global sort); budgets come from a tiny census
    * broadcast back. Token counting is the whitespace spelling shared
    * with q_text_quality. One wide shuffle (the window) + map-combinable
    * final agg.
    */
  private[graft] def tokenBudgetFrom(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"))
      .withColumn("u", expr(u32Spark("mixtb")))
      .withColumn("shard", expr(s"u DIV $HashShardDiv"))
    val budgets = t.groupBy("lang").agg(sum("n_tok").as("tot"))
      .withColumn("budget", expr(s"(tot + ${MixTbDiv - 1}) DIV $MixTbDiv"))
      .select("lang", "budget")
    val wLoc = Window.partitionBy("lang", "shard").orderBy("u", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // offsets frame = one row per (lang, shard); the per-lang window runs
    // over those ~32 rows per language, not the data
    val wOff = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("lang", "shard").agg(sum("n_tok").as("_st"))
      .withColumn("off", coalesce(sum("_st").over(wOff), lit(0L)))
      .select("lang", "shard", "off")
    t.join(broadcast(offsets), Seq("lang", "shard"))
      .withColumn("before", col("off") + coalesce(sum("n_tok").over(wLoc), lit(0L)))
      .join(broadcast(budgets), "lang")
      .filter(col("before") < col("budget"))
      .groupBy("lang", "budget")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("doc_id").as("id_sum"))
      .select("lang", "budget", "n_docs", "n_tokens", "id_sum")
      .orderBy("lang")
  }

  private val qMixTokenBudget = Q(
    "q_mix_token_budget",
    (s, dir) => tokenBudgetFrom(Tables(s, dir, "documents")),
    Some(s"""WITH t AS (SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   ${u32Sql("mixtb")} AS u
                  FROM documents),
            b AS (SELECT lang,
                   CAST((SUM(n_tok) + ${MixTbDiv - 1}) // $MixTbDiv AS BIGINT) AS budget
                  FROM t GROUP BY lang),
            p AS (SELECT doc_id, lang, n_tok,
                   COALESCE(SUM(n_tok) OVER (PARTITION BY lang
                     ORDER BY u, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
                  FROM t)
            SELECT p.lang, b.budget, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM p JOIN b ON p.lang = b.lang
            WHERE p.pre < b.budget
            GROUP BY p.lang, b.budget ORDER BY p.lang"""))

  // -------------------------------------------------------- train/val/test

  /** Deterministic stratified train/val/test split (80/10/10 by salted
    * doc_id hash — independent of the mixture and benchmark hashes by
    * salt). Reported per (lang, split) with a doc-id checksum so the
    * oracle pins the exact assignment, not just the counts. Map-only +
    * one tiny agg; the assignment function runs identically on any
    * number of executors.
    */
  private[graft] def splitFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("u", expr(u01Spark("split")))
      .withColumn("split", expr(
        "CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train' " +
          "WHEN u < CAST(0.9 AS DOUBLE) THEN 'val' ELSE 'test' END"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")

  private val qSplitTrain = Q(
    "q_split_train",
    (s, dir) => splitFrom(Tables(s, dir, "documents")),
    Some(s"""WITH d AS (SELECT doc_id, lang,
                   ${u01Sql("split")} AS u
                  FROM documents),
            a AS (SELECT doc_id, lang,
                   CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
                        WHEN u < CAST(0.9 AS DOUBLE) THEN 'val'
                        ELSE 'test' END AS split
                  FROM d)
            SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM a GROUP BY lang, split ORDER BY lang, split"""))

  // ------------------------------------------------------ sequence packing

  /** Training-sequence length in tokens (the packing window). */
  private[graft] val SeqLen = 128L

  /** Hash-space width of one shard for two-phase numbering/ranking over
    * salted-hash order: 2³² / 2²⁷ = 32 shards. Shared by sequence
    * packing (prefix-sum shards) AND the source cap (phase-1 rank
    * shards) — widening it for one widens the other's candidate bound
    * (shards · cap) and plan shape too; split the constant if they ever
    * need to diverge.
    */
  private val HashShardDiv = 134217728L // 1 << 27

  /** GPT-style sequence packing: pseudo-shuffle documents (salted-hash
    * order — exactly how a training pipeline randomizes document order
    * without a seed server), concatenate their 32-token chunks, and cut
    * the token stream every [[SeqLen]] tokens. Output is the per-sequence
    * audit row: chunks begun, tokens contributed, distinct docs packed,
    * and how many chunks straddle a cut (get split across sequences).
    *
    * Scale shape: the global running token offset uses the same
    * two-phase numbering as the ETL batcher — the pack-order hash's top
    * bits are the shard (shard order IS hash order, so within-shard rank
    * + a broadcast per-shard prefix offset equals the global rank
    * exactly), giving one window task per 2²⁷ hash slice instead of one
    * global sort. The offsets table has one row per shard — 32 today,
    * and at 100 TB you widen the shard count, not the algorithm.
    */
  private[graft] def packFrom(ch: DataFrame): DataFrame = {
    // the offsets aggregation below and the main numbering join both
    // read this frame; no cut: an A/B at sf0.1 timed it the same without
    val o = ch.select("doc_id", "chunk_id", "n_tok_chunk")
      .withColumn("u", expr(u32Spark("pack")))
      .withColumn("shard", expr(s"u DIV $HashShardDiv"))
    val wLoc = Window.partitionBy("shard").orderBy("u", "doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // offsets frame = one row per shard; the unpartitioned window runs
    // over those ~32 rows, not the data
    val wOff = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = o.groupBy("shard").agg(sum("n_tok_chunk").as("_st"))
      .withColumn("off", coalesce(sum("_st").over(wOff), lit(0L)))
      .select("shard", "off")
    o.join(broadcast(offsets), "shard")
      .withColumn("offset", col("off") + coalesce(sum("n_tok_chunk").over(wLoc), lit(0L)))
      .withColumn("seq_id", expr(s"offset DIV $SeqLen"))
      .withColumn("strad", expr(
        s"CASE WHEN offset + n_tok_chunk > (offset DIV $SeqLen + 1) * $SeqLen THEN 1 ELSE 0 END"))
      .groupBy("seq_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tok_chunk").as("n_tokens"),
        countDistinct("doc_id").as("n_docs"),
        sum("strad").as("n_split"))
      .orderBy("seq_id")
  }

  private val qPackSequences = Q(
    "q_pack_sequences",
    (s, dir) => packFrom(Llm.chunked(s, dir)),
    Some(s"""WITH ${Llm.chunkedSql},
            o AS (SELECT doc_id, chunk_id, n_tok_chunk,
                   ${u32Sql("pack")} AS u
                  FROM ch),
            p AS (SELECT doc_id, chunk_id, n_tok_chunk,
                   COALESCE(SUM(n_tok_chunk) OVER (
                     ORDER BY u, doc_id, chunk_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
                  FROM o),
            q AS (SELECT doc_id, n_tok_chunk,
                   CAST(off // $SeqLen AS BIGINT) AS seq_id,
                   CASE WHEN off + n_tok_chunk > (off // $SeqLen + 1) * $SeqLen
                        THEN 1 ELSE 0 END AS strad
                  FROM p)
            SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(n_tok_chunk) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(SUM(strad) AS BIGINT) AS n_split
            FROM q GROUP BY seq_id ORDER BY seq_id"""))

  // -------------------------------------------------------- per-source cap

  /** Max documents kept per source (the "domain cap" constant). */
  private val SourceCap = 15

  /** Per-source document cap (the C4/RefinedWeb "no domain may dominate
    * the corpus" rule): keep at most [[SourceCap]] docs per source,
    * chosen by salted-hash order (deterministic — re-running ingestion
    * keeps the SAME docs, unlike a rand() sample), reported as a
    * per-source audit row with a kept-id checksum.
    *
    * Scale shape: exact top-N per key without a single-task window on
    * the hottest key. Phase 1 ranks within (source, hash-shard) — any
    * doc in a source's global top-N by (u, doc_id) order is necessarily
    * in its shard's top-N, so filtering rank ≤ N per shard keeps every
    * global survivor while bounding each window task to one shard of
    * one source. Phase 2 re-ranks the ≤ shards·N candidates per source
    * — a relation whose size is independent of how mega the mega-source
    * is. A one-phase per-source window would funnel a 10 TB domain
    * through one sorting task; this never does.
    */
  private[graft] def sourceCapFrom(docs: DataFrame): DataFrame = {
    val d = docs.select("doc_id", "source")
      .withColumn("u", expr(u32Spark("cap")))
      .withColumn("shard", expr(s"u DIV $HashShardDiv"))
    val w1 = Window.partitionBy("source", "shard").orderBy("u", "doc_id")
    val w2 = Window.partitionBy("source").orderBy("u", "doc_id")
    val kept = d
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= SourceCap)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= SourceCap)
    val census = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    census.join(
        kept.groupBy("source").agg(
          count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum")),
        Seq("source"))
      .select("source", "n_docs", "n_kept", "kept_id_sum")
      .orderBy("source")
  }

  private val qSourceCap = Q(
    "q_source_cap",
    (s, dir) => sourceCapFrom(Tables(s, dir, "documents")),
    Some(s"""WITH d AS (SELECT doc_id, source, ${u32Sql("cap")} AS u
                  FROM documents),
            r AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rk
                  FROM d),
            k AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
                  FROM r WHERE rk <= $SourceCap GROUP BY source),
            c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                  FROM documents GROUP BY source)
            SELECT c.source, n_docs, n_kept, kept_id_sum
            FROM c JOIN k ON c.source = k.source
            ORDER BY c.source"""))

  // --------------------------------------------------- incremental dedup

  /** Incremental corpus dedup — the ingestion-time variant of the
    * CANONICAL-FORM dedup family (q_text_normalize / q_pipeline_filter;
    * NOT raw-text q_dedup_exact, which hashes `text` unnormalized): a
    * pseudo-random half of the corpus plays the already-ingested base
    * snapshot; the other half is the incoming batch. A batch doc
    * survives iff its canonical form ([[Llm.normCol]], the same rule
    * those batch operators use) is absent from the base,
    * and one representative (min doc_id) is elected per surviving form —
    * so re-running ingestion, or ingesting the same batch twice, adds
    * nothing (the idempotence property incremental pipelines live on).
    *
    * Scale shape: base forms are distinct-ed (one row per form, however
    * many copies the base holds), then a hash-partitioned LEFT ANTI join
    * on the 128-bit form key — both sides shuffle on the key once, no
    * broadcast assumption about the base's size — followed by one
    * map-side-combinable agg for the representative election.
    */
  private[graft] def incrementalFrom(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("h", md5(Llm.normCol.cast("binary")))
      .withColumn("is_base", expr(s"pmod(${u32Spark("inc")}, 2) = 0"))
    val baseForms = d.filter(col("is_base")).select("h").distinct()
    d.filter(!col("is_base"))
      .join(baseForms, Seq("h"), "left_anti")
      .groupBy("h")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "h", "n_copies")
      .orderBy("doc_id")
  }

  private val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, dir) => incrementalFrom(Tables(s, dir, "documents")),
    Some(s"""WITH d AS (SELECT doc_id, md5(${Llm.normSql}) AS h,
                   (${u32Sql("inc")}) % 2 = 0 AS is_base
                  FROM documents),
            n AS (SELECT doc_id, h FROM d
                  WHERE NOT is_base AND NOT EXISTS (
                    SELECT 1 FROM d b WHERE b.is_base AND b.h = d.h))
            SELECT MIN(doc_id) AS doc_id, h, CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM n GROUP BY h ORDER BY doc_id"""))

  /** Deterministic negative sampling for contrastive training (the
    * in-batch-negatives / triplet-mining prep step): for every anchor
    * document, [[NegK]] pseudo-random candidate ids drawn hash-uniformly
    * over the dense doc_id space ("neg_" salt — independent of every
    * other selection stream per the module's shared-seed rule), self
    * excluded, then CROSS-SOURCE rejection: a candidate from the
    * anchor's own source is dropped (same-domain pairs are usually
    * near-positives — C4-style source granularity). Rejection leaves a
    * variable ≤ K negatives per anchor; membership stays a pure function
    * of (doc_id, j), so the sample is re-runnable and the count audit is
    * oracle-exact.
    *
    * Scale shape: candidate generation is MAP-ONLY (explode of K slots ×
    * one pmod over the broadcast corpus size — no shuffle, no rand());
    * resolving each candidate's source is ONE hash equi-join on the
    * uniform neg_id key (no hot keys by construction); the id space is
    * assumed dense 0..N−1 (the fixture's contract; a sparse corpus would
    * first mint dense ids with `q_pack_sequences`' sharded numbering).
    */
  private val NegK = 4
  private val qSampleNegatives = Q(
    "q_sample_negatives",
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val tot = docs.agg(count(lit(1)).as("n"))
      val cand = docs
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("source"),
          explode(expr(s"sequence(1, $NegK)")).as("j"), col("n"))
        .withColumn("neg_id", expr(
          s"pmod(${Llm.md5Hex32Spark("concat('neg_', CAST(doc_id AS STRING), '_', CAST(j AS STRING))")}, n)"))
        .filter(col("neg_id") =!= col("doc_id"))
      cand
        .join(docs.select(col("doc_id").as("neg_id"),
          col("source").as("neg_source")), Seq("neg_id"))
        .filter(col("source") =!= col("neg_source"))
        // j explodes as INT; the oracle's range() yields BIGINT (D6)
        .select(col("doc_id"), col("j").cast("long").as("j"),
          col("neg_id"), col("neg_source"))
        .orderBy("doc_id", "j")
    },
    Some(s"""WITH tot AS (SELECT COUNT(*) AS n FROM documents),
             c AS (SELECT d.doc_id, d.source, u.j,
                    CAST((${Llm.md5Hex32Sql("'neg_' || CAST(d.doc_id AS VARCHAR) || '_' || CAST(u.j AS VARCHAR)")}) % n AS BIGINT) AS neg_id
                   FROM documents d CROSS JOIN tot, unnest(range(1, $NegK + 1)) u(j))
             SELECT c.doc_id, CAST(c.j AS BIGINT) AS j, c.neg_id, nd.source AS neg_source
             FROM c JOIN documents nd ON c.neg_id = nd.doc_id
             WHERE c.neg_id <> c.doc_id AND c.source <> nd.source
             ORDER BY c.doc_id, c.j"""))

  /** Per-source dataset card (the C4/RefinedWeb-style corpus scorecard
    * every curation run publishes): document count, exact-duplicate
    * rate, average length, and dominant language per source — the
    * report that decides which sources get capped, cleaned, or dropped
    * before mixing. All-integer outputs (D1): the dup rate is per-mille
    * via integer division (no float ratio to drift), avg chars is an
    * integer DIV, and the dominant language is the deterministic mode
    * (count desc, lang asc).
    *
    * Scale shape: one map-combinable agg keyed (source, md5) collapses
    * duplicates, then per-source integer sums; the language mode is the
    * q_agg_mode pattern (count per (source, lang) → rank-limit window —
    * WindowGroupLimit trims each map task to one candidate per source
    * before the shuffle); everything joins on the low-cardinality
    * source key, each side pre-aggregated to one row per source.
    */
  /** Curriculum mixture schedule — the multi-PHASE extension of
    * `q_sample_mixture`: modern pretraining anneals its data mix over
    * training (warmup on clean web, mid-train uniform, cooldown
    * domain-heavy — the "mixture schedule" knob every large run tunes),
    * so the sampling weight is a function of (phase, source), not source
    * alone. Weights are a closed-form integer ramp over the source index
    * (phase 1: 9000 − 400·i bp floored at 500 — low-index-heavy;
    * phase 2: uniform 5000; phase 3: the mirror ramp capped at 9000),
    * membership is the usual salted-hash threshold with an independent
    * salt PER PHASE (`cur_<p>_` — a document can land in any subset of
    * phases, which is exactly epoch-resampling semantics; one shared
    * draw would force nested phases). Declared output: the per-(phase,
    * source) manifest — docs kept, kept-id checksum, chars kept — the
    * audit a mixture schedule is pinned by. Scale shape: one scan,
    * ×3 in-row phase explode, map-only hash + integer CASE, one
    * 3·|sources|-key map-combinable agg; no joins, no windows.
    */
  private val qMixCurriculum = Q(
    "q_mix_curriculum",
    (s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          explode(expr("array(1L, 2L, 3L)")).as("phase"))
        .withColumn("si", expr("CAST(substring(source, 4) AS BIGINT)"))
        .withColumn("w", expr(
          """CASE WHEN phase = 1 THEN greatest(500L, 9000L - 400L * si)
                  WHEN phase = 2 THEN 5000L
                  ELSE least(9000L, 500L + 400L * si) END"""))
        .withColumn("u", expr(Llm.md5Hex32Spark(
          "concat('cur_', CAST(phase AS STRING), '_', CAST(doc_id AS STRING))")))
        .filter(expr("pmod(u, 10000) < w"))
        .groupBy("phase", "source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_idsum"),
          sum("n_chars").as("chars_kept"))
        .orderBy("phase", "source")
    },
    Some(s"""WITH ph AS (SELECT doc_id, source, n_chars, u.phase AS phase,
                      CAST(substr(source, 4) AS BIGINT) AS si
                    FROM documents, unnest([CAST(1 AS BIGINT), 2, 3]) u(phase)),
             wt AS (SELECT *,
                     CASE WHEN phase = 1 THEN GREATEST(500, 9000 - 400 * si)
                          WHEN phase = 2 THEN 5000
                          ELSE LEAST(9000, 500 + 400 * si) END AS w,
                     (${Llm.md5Hex32Sql("'cur_' || CAST(phase AS VARCHAR) || '_' || CAST(doc_id AS VARCHAR)")}) % 10000 AS u
                   FROM ph)
             SELECT phase, source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                    CAST(SUM(doc_id) AS BIGINT) AS kept_idsum,
                    CAST(SUM(n_chars) AS BIGINT) AS chars_kept
             FROM wt WHERE u < w GROUP BY phase, source
             ORDER BY phase, source"""))

  private val qSourceScorecard = Q(
    "q_source_scorecard",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val perDup = docs
        .groupBy(col("source"), md5(col("text").cast("binary")).as("h"))
        .agg(count(lit(1)).as("c"), sum("n_chars").as("ch"))
      val base = perDup.groupBy("source")
        .agg(sum("c").as("n_docs"), count(lit(1)).as("n_uniq"),
          sum("ch").as("chars"))
        .select(col("source"), col("n_docs"), col("n_uniq"),
          expr("(n_docs - n_uniq) * 1000 DIV n_docs").as("dup_pm"),
          expr("chars DIV n_docs").as("avg_chars"))
      val wl = Window.partitionBy("source")
        .orderBy(col("lc").desc, col("lang").asc)
      val topLang = docs.groupBy("source", "lang")
        .agg(count(lit(1)).as("lc"))
        .withColumn("rn", row_number().over(wl))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      base.join(topLang, Seq("source")).orderBy("source")
    },
    Some("""WITH d AS (SELECT source, md5(text) AS h, COUNT(*) AS c,
                   CAST(SUM(n_chars) AS BIGINT) AS ch
                  FROM documents GROUP BY source, md5(text)),
            b AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_uniq,
                   CAST(SUM(ch) AS BIGINT) AS chars
                  FROM d GROUP BY source),
            l AS (SELECT source, lang, COUNT(*) AS lc FROM documents
                  GROUP BY source, lang),
            t AS (SELECT source, lang AS top_lang,
                   row_number() OVER (PARTITION BY source
                     ORDER BY lc DESC, lang) AS rn FROM l)
            SELECT b.source, n_docs, n_uniq,
                   CAST((n_docs - n_uniq) * 1000 // n_docs AS BIGINT) AS dup_pm,
                   CAST(chars // n_docs AS BIGINT) AS avg_chars,
                   t.top_lang
            FROM b JOIN t ON b.source = t.source AND t.rn = 1
            ORDER BY b.source"""))

  /** The hard-negative cosine band: candidates below [[HardHi]] are not
    * positives/near-duplicates (the embedding-dedup territory starts
    * above it), candidates at or above [[HardLo]] are similar enough to
    * be informative. Top-[[HardK]] per anchor within the band.
    */
  private val HardLo = 0.3
  private val HardHi = 0.85
  private val HardK = 2

  /** ANN-DRIVEN hard-negative mining — the contrastive-training
    * complement of [[qSampleNegatives]]'s hash-uniform draw: for each
    * anchor vector, the top-[[HardK]] most-similar candidates whose
    * rounded cosine falls in the [[HardLo]], [[HardHi]]) band — similar
    * enough to be informative gradients, below the near-duplicate
    * territory that would make them false negatives. This is the miner
    * an embedding-model pipeline (DPR/SimCSE-style) runs against its own
    * index between epochs.
    *
    * Scale shape: candidate generation IS the shared `q_sim_ivf` probe
    * spelling (occupancy quantizer + routed election, cell equi-join —
    * never all-pairs), and the band filter runs BEFORE the
    * per-anchor window, so only in-band skinny (q_id, n_id, cos) rows
    * reach the top-k shuffle. Anchors whose probed cells hold no in-band
    * candidate simply emit nothing — exactly the production behavior
    * (re-mine after the next index build).
    */
  private val qSampleHardNegatives = Q(
    "q_sample_hard_negatives",
    (s, dir) => {
      val probed = Llm.ivfOccProbed(s, dir)
      val idx = probed.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"), expr("element_at(pc, 1).c_id").as("cell"))
      val qry = probed.select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(expr("transform(pc, p -> p.c_id)")).as("cell"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      qry.join(idx, Seq("cell")).filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(
          graft.functions.graft_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4))
        .filter(col("cos") >= HardLo && col("cos") < HardHi)
        .select("q_id", "n_id", "cos")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= HardK)
        .select(col("q_id"), col("rnk"), col("n_id").as("neg_id"), col("cos"))
        .orderBy("q_id", "rnk")
    },
    Some(s"""WITH ${Llm.vecsSql},
             ${Llm.ivfOccCentSql},
             ${Llm.routedAsgSql(Llm.EmbRouteSalt)},
             idx AS (SELECT vec_id AS n_id, v AS nv, nrm AS nn, c_id AS cell
                     FROM asg WHERE arn = 1),
             qry AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id AS cell
                     FROM asg WHERE arn <= ${Llm.IvfProbes}),
             p AS (SELECT q_id, n_id,
                    ROUND(list_dot_product(qv, nv) / (qn * nn), 4) AS cos
                   FROM qry JOIN idx USING (cell) WHERE q_id <> n_id),
             b AS (SELECT * FROM p WHERE cos >= $HardLo AND cos < $HardHi),
             r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY cos DESC, n_id) AS BIGINT) AS rnk FROM b)
             SELECT q_id, rnk, n_id AS neg_id, cos FROM r
             WHERE rnk <= $HardK ORDER BY q_id, rnk"""))

  /** Importance-sampling weight ceiling: a doc of [[ImpCapChars]]+ chars
    * carries full weight (10000 bp); shorter docs keep with probability
    * n_chars/[[ImpCapChars]] — longer-is-better as a stand-in for the
    * model-scored quality weight a production pipeline plugs in here.
    */
  private val ImpCapChars = 2000L

  /** Quality-WEIGHTED document sampling — the per-ROW continuous-weight
    * member of the selection family (q_sample_mixture reweights per
    * GROUP; this reweights per DOCUMENT, the DCLM/FineWeb-style
    * "sample proportional to quality score" primitive): each doc keeps
    * with probability w ∈ [0, 1] = min(n_chars, cap)/cap, decided by the
    * salted hash u < w — deterministic, re-runnable, oracle-expressible,
    * and independent of every other selection salt (shared-seed leakage
    * rule). Output is the per-source audit: docs, weight mass (= expected
    * keeps, in bp), actual keeps, kept-id checksum — actual tracks
    * expectation within binomial noise, which InvariantsSpec-style
    * consumers (and the oracle) can check exactly since both engines
    * make identical keep decisions.
    *
    * Scale shape: map-only keep decision (one hash compare per row, no
    * weight normalization pass because w is per-row closed-form) + one
    * map-combinable skinny aggregation; nothing shuffles but the
    * ≤ |sources| audit rows.
    */
  private val qSampleImportance = Q(
    "q_sample_importance",
    (s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("w_bp", expr(s"least(n_chars, $ImpCapChars) * 10000L div $ImpCapChars"))
        .withColumn("kept", expr(s"CASE WHEN pmod(${u32Spark("imp")}, 10000) < w_bp " +
          "THEN 1L ELSE 0L END"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("w_bp").as("weight_mass_bp"),
          sum("kept").as("n_kept"),
          sum(expr("kept * doc_id")).as("kept_id_sum"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT doc_id, source,
                   LEAST(n_chars, $ImpCapChars) * 10000 // $ImpCapChars AS w_bp
                  FROM documents),
            k AS (SELECT doc_id, source, w_bp,
                   CASE WHEN (${u32Sql("imp")}) % 10000 < w_bp
                     THEN 1 ELSE 0 END AS kept
                  FROM d)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(w_bp) AS BIGINT) AS weight_mass_bp,
                   CAST(SUM(kept) AS BIGINT) AS n_kept,
                   CAST(SUM(kept * doc_id) AS BIGINT) AS kept_id_sum
            FROM k GROUP BY source ORDER BY source"""))

  // ------------------------------------------------- temperature mixture

  /** Temperature-scaled SOURCE mixture — the multilingual-pretraining
    * sampling law (q_i ∝ p_i^(1/τ), here τ = 2 so the exponent is the
    * IEEE-exact `sqrt`): small sources are UP-sampled relative to their
    * proportional share, hub sources down-weighted, then a global doc
    * budget (half the corpus) is split by the renormalized shares.
    * Distinct from its three siblings: `q_sample_mixture` applies a
    * per-LANG √-law cap to each group independently (no renormalization,
    * no budget), `q_mix_token_budget` budgets TOKENS proportionally, and
    * `q_mix_curriculum` varies weights by training phase. This is the
    * one that reallocates a fixed budget ACROSS sources by a tempered
    * share — the XLM-R/mT5 recipe.
    *
    * Determinism (D1): the only floating-point step is one `sqrt` per
    * SOURCE (IEEE-754 correctly rounded in both engines), immediately
    * rounded to integer micro-units; shares, targets, keep thresholds,
    * and membership are integer arithmetic + the salted hash from there.
    * Scale shape: source census (partial+final, |sources| rows) → 1-row
    * total broadcast → per-doc keep decision map-side under a broadcast
    * rate table → map-combinable audit agg. Two corpus scans, zero
    * corpus-sized shuffles.
    */
  private val qMixTemperature = Q(
    "q_mix_temperature",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val src = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          expr("CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
      val tot = src.agg(sum("n_docs").as("tot_docs"), sum("w").as("tot_w"))
      val rates = src.crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("n_docs * 10000L div tot_docs"))
        .withColumn("temp_share_bp", expr("w * 10000L div tot_w"))
        .withColumn("target_docs", expr("(tot_docs div 2) * w div tot_w"))
        .withColumn("kp_bp",
          expr("least(10000L, target_docs * 10000L div n_docs)"))
        .select("source", "n_docs", "share_bp", "temp_share_bp",
          "target_docs", "kp_bp")
      docs.join(broadcast(rates), "source")
        .withColumn("kept", expr(
          s"CASE WHEN pmod(${u32Spark("mixt")}, 10000) < kp_bp THEN 1L ELSE 0L END"))
        .groupBy("source", "n_docs", "share_bp", "temp_share_bp", "target_docs")
        .agg(sum("kept").as("n_kept"),
          sum(expr("doc_id * kept")).as("kept_checksum"))
        .orderBy("source")
    },
    Some(s"""WITH sc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(ROUND(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS w
                  FROM documents GROUP BY source),
            tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
                     CAST(SUM(w) AS BIGINT) AS tot_w FROM sc),
            r AS (SELECT source, n_docs,
                   n_docs * 10000 // tot_docs AS share_bp,
                   w * 10000 // tot_w AS temp_share_bp,
                   (tot_docs // 2) * w // tot_w AS target_docs,
                   LEAST(10000, ((tot_docs // 2) * w // tot_w) * 10000 // n_docs) AS kp_bp
                  FROM sc CROSS JOIN tot)
            SELECT r.source, r.n_docs, r.share_bp, r.temp_share_bp, r.target_docs,
                   CAST(SUM(CASE WHEN (${u32Sql("mixt")}) % 10000 < kp_bp
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN (${u32Sql("mixt")}) % 10000 < kp_bp
                     THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
            FROM documents d JOIN r ON d.source = r.source
            GROUP BY 1, 2, 3, 4, 5 ORDER BY r.source"""))

  // ----------------------------------------------- DSIR-style selection

  /** Hashed-feature dimensionality for the DSIR scorer: 1024 buckets is
    * the fixed-size model the method's point is — the two "LMs" are 1024
    * integers each, broadcastable anywhere, independent of corpus size.
    */
  private[graft] val DsirF = 1024

  /** The target domain the raw pool is scored against. */
  private[graft] val DsirTarget = "src0"

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    * score every raw-pool document by how much more it looks like a
    * TARGET domain than like the raw pool, under two hashed-unigram
    * bag-of-words models — the importance-resampling primitive behind
    * domain-targeted pretraining mixes. Feature = md5-hashed word →
    * 1024 buckets (fixed-size models however big the corpus); both
    * models are add-one-smoothed frequency tables.
    *
    * D1 substitution (the `q_text_lm_score` precedent): the paper's
    * per-feature weight is the log-ratio ln(p_t(f)/p_r(f)), but a float
    * log can't cross-engine hash-match, so the shipped weight is the
    * SMOOTHED FREQUENCY DIFFERENCE in fixed-point 1e-7 units —
    * dw_f = (cnt_t+1)·10⁷ div (tot_t+F) − (cnt_r+1)·10⁷ div (tot_r+F) —
    * same sign, same "which domain is this feature evidence for"
    * signal, exact integer. A production deployment swaps the log-ratio
    * back in at this one expression. Score_d = Σ_tokens dw_f(token);
    * output = top-20 raw docs by score (the selection head) — target
    * docs are excluded from scoring, they ARE the target model.
    *
    * Scale shape: token explode → ONE map-combinable (f, is_target)
    * count agg (≤ F rows out of each task), 1-row totals broadcast onto
    * the F-row weight table, then the corpus-sized path is a map-side
    * BroadcastHashJoin [f] (the 1024-row model IS the broadcast) + one
    * doc-keyed map-combinable agg + TakeOrderedAndProject(20). Nothing
    * pairwise; model size constant in corpus size.
    */
  private val qSampleDsir = Q(
    "q_sample_dsir",
    (s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .withColumn("f",
          expr(s"pmod(${Llm.md5Hex32Spark("concat('dsir_', w)")}, $DsirF)"))
        .localCheckpoint(true) // A/B sf0.1: 0.80 s with, 0.99 s without
      val ft = tok.groupBy("f").agg(
        sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("cnt_t"),
        sum(when(col("source") =!= DsirTarget, 1L).otherwise(0L)).as("cnt_r"))
      val tot = ft.agg(sum("cnt_t").as("tot_t"), sum("cnt_r").as("tot_r"))
      val wf = ft.crossJoin(broadcast(tot))
        .select(col("f"),
          (expr(s"(cnt_t + 1L) * 10000000L div (tot_t + $DsirF)") -
            expr(s"(cnt_r + 1L) * 10000000L div (tot_r + $DsirF)")).as("dw"))
      tok.filter(col("source") =!= DsirTarget)
        .join(broadcast(wf), "f")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_tok"), sum("dw").as("score_dfreq"))
        .orderBy(col("score_dfreq").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH tok AS (SELECT doc_id, source,
                   (${Llm.md5Hex32Sql("'dsir_' || u.tok")}) % $DsirF AS f
                  FROM documents, unnest(string_split(text, ' ')) u(tok)
                  WHERE length(u.tok) >= 1),
            ft AS (SELECT f,
                   CAST(SUM(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
                   CAST(SUM(CASE WHEN source <> '$DsirTarget' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_r
                  FROM tok GROUP BY f),
            tot AS (SELECT CAST(SUM(cnt_t) AS BIGINT) AS tot_t,
                     CAST(SUM(cnt_r) AS BIGINT) AS tot_r FROM ft),
            wf AS (SELECT f,
                    (cnt_t + 1) * 10000000 // (tot_t + $DsirF)
                    - (cnt_r + 1) * 10000000 // (tot_r + $DsirF) AS dw
                   FROM ft CROSS JOIN tot)
            SELECT tok.doc_id, tok.source,
                   CAST(COUNT(*) AS BIGINT) AS n_tok,
                   CAST(SUM(dw) AS BIGINT) AS score_dfreq
            FROM tok JOIN wf ON tok.f = wf.f
            WHERE tok.source <> '$DsirTarget'
            GROUP BY 1, 2
            ORDER BY score_dfreq DESC, doc_id LIMIT 20"""))

  /** Hashed-feature dimensionality for the trainable quality classifier:
    * like [[DsirF]], the fixed model size is the point — the weight
    * vector is 256 rows broadcast however big the corpus.
    */
  private[graft] val LrF = 256

  /** Fixed-point scale: labels, hard-sigmoid outputs, and weights all
    * live in micro-units (1e6 = 1.0), so every training quantity is an
    * exact BIGINT in both engines.
    */
  private val LrMicro = 1000000L

  /** Learning-rate denominator K: w ← w − grad div (n·K). With ~40-token
    * docs and F = 256 buckets this puts step-1 weights at ~10³ micro
    * (0.001 real) — 2 steps move σ̂ a few percent off ½, a sane batch-GD
    * trajectory, while the integer division stays exact (Spark `div`
    * and DuckDB `//` both truncate toward zero, including negatives —
    * verified, so no sign-splitting spelling is needed).
    */
  private val LrRate = 100L

  /** Label: docs from the first ten sources are the positive class —
    * the q_text_drift generation split, giving a stable ~balanced
    * binary target on every fixture. try_cast: a malformed suffix is
    * NULL → class 0 on BOTH engines.
    */
  private val lrLabelSpark =
    s"CASE WHEN try_cast(substring(source, 4) AS BIGINT) < 10 THEN ${LrMicro}L ELSE 0L END"
  private val lrLabelSql =
    s"CASE WHEN TRY_CAST(substring(source, 4) AS BIGINT) < 10 THEN $LrMicro ELSE 0 END"

  /** The (doc, feature) count matrix + per-doc label, the shared input
    * of the declared 2-step query and the [[lrTrain]] library loop (one
    * spelling, so the two cannot drift). x is corpus-bounded: ≤
    * min(doc_len, [[LrF]]) rows per doc.
    */
  private def lrInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables(s, dir, "documents")
    val x = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .withColumn("f",
        expr(s"pmod(${Llm.md5Hex32Spark("concat('lr_', w)")}, $LrF)"))
      .groupBy("doc_id", "f").agg(count(lit(1)).as("x"))
    val y = docs.select(col("doc_id"), expr(lrLabelSpark).as("y"))
    (x, y)
  }

  /** One batch-gradient step: score every doc under the current weights
    * (broadcast join on the F-row model), hard-sigmoid in micro-units
    * (σ̂ = clamp(½ + z/4, 0, 1) — the piecewise-linear sigmoid of
    * binarized-net training, exact in integer arithmetic where the
    * transcendental σ is not engine-portable: the repo's D1 rule),
    * then one map-combinable (f)-keyed gradient agg and the integer
    * update. `w` may be null-weighted (step 1 from w = 0 passes null).
    */
  private def lrStep(x: DataFrame, y: DataFrame,
      w: Option[DataFrame]): DataFrame = {
    val err = w match {
      case None =>
        // w = 0 ⇒ z = 0 ⇒ σ̂ = ½ exactly for every doc
        y.select(col("doc_id"), (lit(LrMicro / 2) - col("y")).as("err"))
      case Some(wf) =>
        x.join(broadcast(wf.select(col("f"), col("w"))), "f")
          .groupBy("doc_id").agg(sum(col("w") * col("x")).as("z"))
          .join(y, "doc_id")
          .select(col("doc_id"),
            (expr(s"greatest(0L, least(${LrMicro}L, ${LrMicro / 2}L + z div 4))")
              - col("y")).as("err"))
    }
    x.join(err, "doc_id")
      .groupBy("f").agg(sum(col("x") * col("err")).as("g"))
  }

  /** Train the classifier for `steps` batch-gradient rounds and return
    * the F-row weight frame — the production-depth library twin of the
    * declared 2-step query (the kmeans_step / bpe_iterate pattern:
    * fixed-step oracle, driver-loop library). Each round is two
    * map-combinable shuffles (doc-keyed scoring agg, f-keyed gradient
    * agg) with the F-row model broadcast both ways; the driver holds
    * only the loop counter and the frame handle, never rows.
    */
  private[graft] def lrTrain(s: SparkSession, dir: String, steps: Int): DataFrame = {
    val (x0, y) = lrInputs(s, dir)
    val x = x0.localCheckpoint(true) // read by every gradient step's job
    val nDocs = Tables(s, dir, "documents").count()
    var w: Option[DataFrame] = None
    for (_ <- 1 to steps) {
      val g = lrStep(x, y, w)
      val next = w match {
        case None =>
          g.select(col("f"),
            (lit(0L) - expr(s"g div (${nDocs}L * ${LrRate}L)")).as("w"))
        case Some(wf) =>
          wf.join(g, Seq("f"), "full_outer")
            .select(col("f"),
              (coalesce(col("w"), lit(0L)) -
                coalesce(expr(s"g div (${nDocs}L * ${LrRate}L)"), lit(0L))).as("w"))
      }
      w = Some(next.localCheckpoint(true)) // iteration: w is reassigned per gradient step
    }
    w.get
  }

  /** Score every document under a weight frame: (doc_id, y, sig) with
    * sig = the micro-unit hard-sigmoid. The InvariantsSpec accuracy
    * audit uses this to prove the trained model separates the classes
    * better than the majority baseline — docs with no in-vocabulary
    * tokens score z = 0 ⇒ sig = ½ (the left join's coalesce).
    */
  private[graft] def lrScore(s: SparkSession, dir: String, w: DataFrame): DataFrame = {
    val (x, y) = lrInputs(s, dir)
    val z = x.join(broadcast(w.select(col("f"), col("w"))), "f")
      .groupBy("doc_id").agg(sum(col("w") * col("x")).as("z"))
    y.join(z, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        expr(s"greatest(0L, least(${LrMicro}L, " +
          s"${LrMicro / 2}L + coalesce(z, 0L) div 4))").as("sig"))
  }

  /** Trainable QUALITY-CLASSIFIER step — the model-based curation filter
    * of the CCNet / GPT-3 / LLaMA pipelines (Wenzek et al. 2020: a
    * linear classifier over hashed text features separates "looks like
    * the reference corpus" from the rest; docs are then kept by score).
    * Where `q_sample_dsir` scores with two FIXED bag models, this one
    * LEARNS the separating weights by batch gradient descent — the
    * §2.14 family's one trainable member, declared as exactly TWO
    * fixed-point gradient steps so the oracle stays a finite CTE chain
    * (the `q_vec_kmeans_step` / `q_text_bpe_step` discipline;
    * [[lrTrain]] is the to-depth library twin, InvariantsSpec pins its
    * step-2 agreement with this query and the trained model's
    * training-set accuracy over the majority baseline).
    *
    * All arithmetic is exact BIGINT micro-units (D1): labels ∈
    * {0, 10⁶}, hard-sigmoid σ̂ = clamp(½ + z/4, 0, 1) instead of the
    * non-portable transcendental σ, updates w ← w − g div (n·K).
    * Output: the 20 largest-|w| features after step 2 with both steps'
    * weights — the vocabulary the classifier actually learned to
    * weigh, flat and deterministically ordered.
    *
    * Scale shape: token explode → ONE (doc, f) count agg (map-
    * combinable, ≤ min(len, F) rows/doc); per step ONE broadcast join
    * of the F = 256-row model + doc-keyed agg + f-keyed gradient agg —
    * nothing wider than F rows ever sits on the driver side of a
    * broadcast, and no step's shuffle exceeds the (doc, f) frame. At
    * 100 TB the same two aggs pipeline per step; steps are few and
    * fixed (quality filters converge in single-digit epochs).
    */
  /** The declared two-step training trajectory, shared by the step query
    * (which REPORTS the weights) and the filter query (which APPLIES
    * them) — one spelling, so the reported model and the applied model
    * cannot drift. Returns (x, w2): the checkpointed (doc, f) count
    * matrix and the F-row weight frame carrying both steps' weights.
    */
  private def lrTwoStep(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (x, y) = lrInputs(s, dir)
    val cnt = Tables(s, dir, "documents").agg(count(lit(1)).as("n"))
    // step 1 from w = 0: σ̂ = ½ exactly, err = ½ − y
    val g1 = x.join(y.select(col("doc_id"),
        (lit(LrMicro / 2) - col("y")).as("err")), "doc_id")
      .groupBy("f").agg(sum(col("x") * col("err")).as("g1"))
    val w1 = g1.crossJoin(broadcast(cnt))
      .select(col("f"), expr(s"0L - g1 div (n * ${LrRate}L)").as("w1"))
    // step 2: score under w1, hard-sigmoid, second gradient
    val err2 = x.join(broadcast(w1), "f")
      .groupBy("doc_id").agg(sum(col("w1") * col("x")).as("z"))
      .join(y, "doc_id")
      .select(col("doc_id"),
        (expr(s"greatest(0L, least(${LrMicro}L, ${LrMicro / 2}L + z div 4))")
          - col("y")).as("err"))
    val w2 = x.join(err2, "doc_id")
      .groupBy("f").agg(sum(col("x") * col("err")).as("g2"))
      .join(w1, "f")
      .crossJoin(broadcast(cnt))
      .select(col("f"), col("w1"),
        expr(s"w1 - g2 div (n * ${LrRate}L)").as("w2"))
    (x, w2)
  }

  /** The oracle CTE chain of the two-step training — through `w2 (f,
    * w1, w2)` — shared verbatim by both lr oracles (the SQL twin of
    * [[lrTwoStep]]).
    */
  private val lrOracleCtes =
    s"""xt AS (SELECT doc_id,
                   CAST((${Llm.md5Hex32Sql("'lr_' || u.tok")}) % $LrF AS BIGINT) AS f
                  FROM documents, unnest(string_split(text, ' ')) u(tok)
                  WHERE length(u.tok) >= 1),
            x AS (SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS x
                  FROM xt GROUP BY doc_id, f),
            y AS (SELECT doc_id, CAST($lrLabelSql AS BIGINT) AS y FROM documents),
            cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
            g1 AS (SELECT f, CAST(SUM(x.x * (${LrMicro / 2} - y.y)) AS BIGINT) AS g1
                   FROM x JOIN y USING (doc_id) GROUP BY f),
            w1 AS (SELECT f, CAST(0 - g1 // (n * $LrRate) AS BIGINT) AS w1
                   FROM g1 CROSS JOIN cnt),
            z AS (SELECT doc_id, CAST(SUM(w1.w1 * x.x) AS BIGINT) AS z
                  FROM x JOIN w1 USING (f) GROUP BY doc_id),
            e2 AS (SELECT z.doc_id,
                    greatest(0, least($LrMicro, ${LrMicro / 2} + z // 4)) - y.y AS err
                   FROM z JOIN y USING (doc_id)),
            g2 AS (SELECT f, CAST(SUM(x.x * e2.err) AS BIGINT) AS g2
                   FROM x JOIN e2 USING (doc_id) GROUP BY f),
            w2 AS (SELECT f, w1.w1,
                    CAST(w1.w1 - g2.g2 // (n * $LrRate) AS BIGINT) AS w2
                   FROM g2 JOIN w1 USING (f) CROSS JOIN cnt)"""

  private val qCurateLrStep = Q(
    "q_curate_lr_step",
    (s, dir) => {
      val (_, w2) = lrTwoStep(s, dir)
      w2.orderBy(abs(col("w2")).desc, col("f")).limit(20)
    },
    Some(s"""WITH $lrOracleCtes
            SELECT f, w1, w2 FROM w2
            ORDER BY abs(w2) DESC, f LIMIT 20"""))

  /** Classifier-filter APPLICATION — the keep decision the trained
    * quality model exists for (GPT-3's documented corpus filter, Brown
    * et al. 2020 Appendix A: documents are kept STOCHASTICALLY with
    * probability driven by the classifier score, not by a hard
    * threshold — soft keeping preserves a tail of low-scoring docs and
    * avoids a cliff at the decision boundary; CCNet/LLaMA apply the
    * same family of model-based filters). Trains the declared 2-step
    * model ([[lrTwoStep]] — the exact weights `q_curate_lr_step`
    * reports), scores every document (hard-sigmoid micro-units; docs
    * with no in-vocabulary token score exactly ½), then keeps each doc
    * iff salted-hash u < σ̂ — P(keep) = the learned score, decided
    * deterministically per row (independent "lrf" salt; shared-seed
    * leakage rule). Output is the per-source audit of
    * `q_sample_importance`'s shape — docs, score mass (= expected
    * keeps, micro), actual keeps, kept-id checksum — so the two keys
    * are directly comparable: importance keeps by a HEURISTIC per-row
    * weight, this keeps by the LEARNED one.
    *
    * Scale shape: the training CTE's aggregates (nothing wider than the
    * (doc, f) frame shuffles, F = 256-row model broadcast), then ONE
    * more broadcast model join + doc-keyed agg for scoring, a map-side
    * hash-compare keep, and a map-combinable ≤ |sources|-row audit agg.
    * No new corpus-sized shuffle beyond the training passes.
    */
  private val qCurateLrFilter = Q(
    "q_curate_lr_filter",
    (s, dir) => {
      val (x, w2) = lrTwoStep(s, dir)
      val z2 = x.join(broadcast(w2.select(col("f"), col("w2"))), "f")
        .groupBy("doc_id").agg(sum(col("w2") * col("x")).as("z"))
      Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(z2, Seq("doc_id"), "left")
        .withColumn("sig", expr(s"greatest(0L, least(${LrMicro}L, " +
          s"${LrMicro / 2}L + coalesce(z, 0L) div 4))"))
        .withColumn("kept", expr(s"CASE WHEN pmod(${u32Spark("lrf")}, ${LrMicro}L) " +
          "< sig THEN 1L ELSE 0L END"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("sig").as("sig_mass"),
          sum("kept").as("n_kept"),
          sum(expr("kept * doc_id")).as("kept_id_sum"))
        .orderBy("source")
    },
    Some(s"""WITH $lrOracleCtes,
            z2 AS (SELECT doc_id, CAST(SUM(w2.w2 * x.x) AS BIGINT) AS z
                   FROM x JOIN w2 USING (f) GROUP BY doc_id),
            sc AS (SELECT doc_id, source,
                    greatest(0, least($LrMicro, ${LrMicro / 2} + COALESCE(z2.z, 0) // 4)) AS sig
                   FROM documents LEFT JOIN z2 USING (doc_id)),
            k AS (SELECT doc_id, source, sig,
                   CASE WHEN (${u32Sql("lrf")}) % $LrMicro < sig
                     THEN 1 ELSE 0 END AS kept
                  FROM sc)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(sig) AS BIGINT) AS sig_mass,
                   CAST(SUM(kept) AS BIGINT) AS n_kept,
                   CAST(SUM(kept * doc_id) AS BIGINT) AS kept_id_sum
            FROM k GROUP BY source ORDER BY source"""))

  /** Corpus CONCENTRATION audit — Gini coefficient + Herfindahl index of
    * the per-source token mass (r10 — the one-row screen a mixing recipe
    * reads before trusting per-source weights: a corpus whose mass is
    * one mega-source in disguise makes every `q_mix_*` share table
    * cosmetic; HHI is the antitrust concentration measure, Gini the
    * inequality one — both standard in data-governance reports).
    * All-integer: shares in bp, HHI = Σshare²/1e4 (uniform over k →
    * 1e4/k), Gini via the sorted-index formula G = (2Σi·mᵢ −
    * (n+1)Σm)·1e4 div (n·Σm) over the ≤|sources| frame — the one
    * ordered window runs on a bounded census, never the corpus.
    *
    * Scale shape: one token-count census (map-combinable) → ≤|sources|
    * rows; sort window + two 1-row aggregates on that frame. Output is
    * ONE row.
    */
  private val qMixConcentration = Q(
    "q_mix_concentration",
    (s, dir) => {
      val m = Tables(s, dir, "documents")
        .select(col("source"),
          expr("CAST(size(filter(split(text, ' '), x -> length(x) >= 1)) AS BIGINT)").as("ntok"))
        .groupBy("source").agg(sum("ntok").as("m"))
      val w = Window.orderBy(col("m").asc, col("source"))
      m.withColumn("i", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_sources"), sum("m").as("total_tokens"),
          max("m").as("max_mass"), sum(expr("i * m")).as("im"))
        .select(col("n_sources"), col("total_tokens"),
          expr("max_mass * 10000L div total_tokens").as("max_share_bp"),
          // numerator widened: im is (|sources|·total_tokens)-scale, so
          // the ·10⁴ product wraps past ~10¹⁵ total tokens in BIGINT
          // (the ADVICE r10 overflow class)
          expr("""(CAST(2L * im AS DECIMAL(38, 0))
                   - CAST(n_sources + 1L AS DECIMAL(38, 0)) * total_tokens) * 10000L
                  div (CAST(n_sources AS DECIMAL(38, 0)) * total_tokens)""")
            .as("gini_bp"))
        .crossJoin(broadcast(
          m.crossJoin(broadcast(m.agg(sum("m").as("tt"))))
            .select(expr("m * 10000L div tt").as("sh"))
            .agg(expr("sum(sh * sh) div 10000L").as("hhi_bp"))))
        .select(col("n_sources"), col("total_tokens"), col("max_share_bp"),
          col("hhi_bp"), col("gini_bp"))
    },
    Some("""WITH m AS (SELECT source,
                   CAST(SUM(len(list_filter(string_split(text, ' '), x -> length(x) >= 1))) AS BIGINT) AS m
                  FROM documents GROUP BY source),
            r AS (SELECT m, CAST(row_number() OVER (ORDER BY m ASC, source) AS BIGINT) AS i
                  FROM m),
            g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
                   CAST(SUM(m) AS BIGINT) AS total_tokens,
                   CAST(MAX(m) AS BIGINT) AS max_mass,
                   CAST(SUM(i * m) AS BIGINT) AS im
                  FROM r),
            tt AS (SELECT CAST(SUM(m) AS BIGINT) AS tt FROM m),
            h AS (SELECT CAST(SUM((m * 10000 // tt) * (m * 10000 // tt)) // 10000 AS BIGINT) AS hhi_bp
                  FROM m CROSS JOIN tt)
            SELECT n_sources, total_tokens,
             CAST(max_mass * 10000 // total_tokens AS BIGINT) AS max_share_bp,
             hhi_bp,
             CAST((2 * CAST(im AS HUGEINT)
                   - CAST(n_sources + 1 AS HUGEINT) * total_tokens) * 10000
                  // (CAST(n_sources AS HUGEINT) * total_tokens) AS BIGINT) AS gini_bp
            FROM g CROSS JOIN h"""))

  /** Per-source keep budget for the RHO-style learnability selection. */
  private val RhoK = 16L

  /** RHO-loss-style LEARNABILITY selection (r10 — Mindermann et al.
    * ICML'22, "Prioritized Training on Points that are Learnable, Worth
    * Learning, and Not Yet Learnt": rank points by the EXCESS of the
    * training model's loss over a reference model's loss; points the
    * reference finds easy but the proxy finds hard are the learnable,
    * worth-learning ones). Declared unigram surrogates, the
    * `q_text_commonness` inverse scale: proxy loss ↔ GLOBAL corpus
    * commonness, reference loss ↔ IN-DOMAIN (own-source) commonness —
    * excess per token = c_sw·1e6 div T_s − c_w·1e6 div T, a doc's score
    * its token mean. High scorers are domain-distinctive yet globally
    * rare — exactly the mass `q_sample_dsir` upweights stochastically;
    * this is the deterministic top-[[RhoK]]-per-source RANKED variant
    * (the two selection policies real pipelines A/B). All integer (D1).
    *
    * Scale shape: token explode → ONE (source, w) map-combinable census
    * (the vocab-sized global census is its source-marginal — one
    * aggregate, reused) → census-keyed joins back onto the token stream
    * → doc-keyed mean agg → per-source top-K window over the DOC frame
    * (corpus-sublinear, |sources| partitions) → ≤|sources| audit rows.
    */
  private val qSampleRho = Q(
    "q_sample_rho",
    (s, dir) => {
      val tk = Tables.spread(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val sw = tk.groupBy("source", "w").agg(count(lit(1)).as("csw"))
      val gw = sw.groupBy("w").agg(sum("csw").as("cw"))
      val ts = sw.groupBy("source").agg(sum("csw").as("tsrc"))
      val tot = gw.agg(sum("cw").as("tt"))
      val doc = tk.join(sw, Seq("source", "w"))
        .join(gw, "w")
        .join(broadcast(ts), "source")
        .crossJoin(broadcast(tot))
        .withColumn("diff_u", expr("csw * 1000000L div tsrc - cw * 1000000L div tt"))
        .groupBy("doc_id", "source")
        .agg(expr("sum(diff_u) div count(1)").as("score_u"))
      val w = Window.partitionBy("source")
        .orderBy(col("score_u").desc, col("doc_id"))
      doc.withColumn("rk", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr(s"CASE WHEN rk <= $RhoK THEN 1L ELSE 0L END")).as("n_kept"),
          sum(expr(s"CASE WHEN rk <= $RhoK THEN doc_id ELSE 0L END")).as("kept_idsum"),
          expr(s"sum(CASE WHEN rk <= $RhoK THEN score_u ELSE 0L END) div " +
            s"greatest(1L, sum(CASE WHEN rk <= $RhoK THEN 1L ELSE 0L END))")
            .as("mean_excess_kept"),
          expr("sum(score_u) div count(1)").as("mean_excess_all"))
        .orderBy("source")
    },
    Some(s"""WITH tk AS (SELECT doc_id, source, u.t AS w
                  FROM documents, unnest(string_split(text, ' ')) u(t)
                  WHERE length(u.t) >= 1),
            sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS csw
                   FROM tk GROUP BY source, w),
            gw AS (SELECT w, CAST(SUM(csw) AS BIGINT) AS cw FROM sw GROUP BY w),
            ts AS (SELECT source, CAST(SUM(csw) AS BIGINT) AS tsrc
                   FROM sw GROUP BY source),
            tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS tt FROM gw),
            doc AS (SELECT doc_id, tk.source,
                     CAST(SUM(csw * 1000000 // tsrc - cw * 1000000 // tt)
                          // COUNT(*) AS BIGINT) AS score_u
                    FROM tk JOIN sw USING (source, w) JOIN gw USING (w)
                    JOIN ts ON tk.source = ts.source CROSS JOIN tot
                    GROUP BY doc_id, tk.source),
            rk AS (SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY score_u DESC, doc_id) AS rk FROM doc)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rk <= $RhoK THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN rk <= $RhoK THEN doc_id ELSE 0 END) AS BIGINT) AS kept_idsum,
             CAST(SUM(CASE WHEN rk <= $RhoK THEN score_u ELSE 0 END) //
                  greatest(1, SUM(CASE WHEN rk <= $RhoK THEN 1 ELSE 0 END)) AS BIGINT) AS mean_excess_kept,
             CAST(SUM(score_u) // COUNT(*) AS BIGINT) AS mean_excess_all
            FROM rk GROUP BY source ORDER BY source"""))

  /** Calibration bin count for the classifier reliability table: ten
    * bins is the standard reliability-diagram resolution (Guo et al.
    * ICML'17 use 15; ECE is conventionally reported at 10).
    */
  private val CalBins = 10L

  /** Classifier CALIBRATION audit — the reliability table read before
    * trusting a quality filter's scores as probabilities (Guo et al.
    * ICML'17, "On Calibration of Modern Neural Networks": per score
    * bin, mean predicted confidence vs empirical accuracy; the gap
    * column is the per-bin term of ECE). `q_curate_lr_step` trains the
    * model, `q_curate_lr_filter` keeps docs with P(keep) = σ̂ — that
    * stochastic keep is only meaningful if σ̂ is CALIBRATED, which is
    * exactly what this table measures. Scores come from the SAME
    * declared 2-step trajectory ([[lrTwoStep]] — one spelling, so the
    * audited model and the applied model cannot drift).
    *
    * Bins are equal-WIDTH over the observed score range (min/max from a
    * 1-row aggregate broadcast): the trained hard-sigmoid scores
    * concentrate near ½ (2 integer steps move σ̂ a few percent), so
    * fixed [0,1] deciles would collapse into one bin; range-adaptive
    * bins resolve the learned ordering at any training depth. The
    * equal-MASS alternative (ntile over a global score sort) is
    * rejected: it plans a partition-less window over the corpus. All
    * arithmetic BIGINT (D1): bin = (sig−mn)·B div (mx−mn+1), means as
    * floor divisions, gap = |mean predicted − empirical positive rate|
    * in micro-units.
    *
    * Scale shape: the training CTE's aggregates, ONE more broadcast
    * model join + doc-keyed scoring agg, a 1-row (mn, mx) broadcast,
    * then a map-combinable ≤ [[CalBins]]-row census — no new
    * corpus-sized shuffle and no window anywhere.
    */
  private val qCurateCalibration = Q(
    "q_curate_calibration",
    (s, dir) => {
      val (x, w2) = lrTwoStep(s, dir)
      val z2 = x.join(broadcast(w2.select(col("f"), col("w2"))), "f")
        .groupBy("doc_id").agg(sum(col("w2") * col("x")).as("z"))
      val sc = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(z2, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"greatest(0L, least(${LrMicro}L, " +
            s"${LrMicro / 2}L + coalesce(z, 0L) div 4))").as("sig"),
          expr(lrLabelSpark).as("y"))
      val rng = sc.agg(min("sig").as("mn"), max("sig").as("mx"))
      sc.crossJoin(broadcast(rng))
        .withColumn("bin", expr(s"(sig - mn) * ${CalBins}L div (mx - mn + 1L)"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(sig) div count(1)").as("mean_pred_micro"),
          expr("sum(y) div count(1)").as("pos_rate_micro"),
          expr("abs(sum(sig) div count(1) - sum(y) div count(1))").as("gap_micro"))
        .orderBy("bin")
    },
    Some(s"""WITH $lrOracleCtes,
            z2 AS (SELECT doc_id, CAST(SUM(w2.w2 * x.x) AS BIGINT) AS z
                   FROM x JOIN w2 USING (f) GROUP BY doc_id),
            sc AS (SELECT doc_id,
                    greatest(0, least($LrMicro, ${LrMicro / 2} + COALESCE(z2.z, 0) // 4)) AS sig,
                    CAST($lrLabelSql AS BIGINT) AS y
                   FROM documents LEFT JOIN z2 USING (doc_id)),
            rng AS (SELECT CAST(MIN(sig) AS BIGINT) AS mn,
                     CAST(MAX(sig) AS BIGINT) AS mx FROM sc),
            b AS (SELECT (sig - mn) * $CalBins // (mx - mn + 1) AS bin, sig, y
                  FROM sc CROSS JOIN rng)
            SELECT CAST(bin AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(sig) // COUNT(*) AS BIGINT) AS mean_pred_micro,
             CAST(SUM(y) // COUNT(*) AS BIGINT) AS pos_rate_micro,
             CAST(abs(SUM(sig) // COUNT(*) - SUM(y) // COUNT(*)) AS BIGINT) AS gap_micro
            FROM b GROUP BY bin ORDER BY bin"""))

  /** Per-source acquisition budget for margin sampling. */
  private val MarginK = 16L

  /** Active-learning MARGIN (uncertainty) sampling — the labeling-
    * acquisition policy (Lewis & Gale SIGIR'94; Settles' survey): the
    * docs most worth a human label are the ones the trained filter is
    * LEAST SURE about, |σ̂ − ½| smallest. Completes the classifier
    * family's loop: `q_curate_lr_step` trains, `q_curate_lr_filter`
    * applies, `q_curate_calibration` audits, and this picks the next
    * labeling batch that improves the model fastest. Scores come from
    * the SAME declared 2-step trajectory ([[lrTwoStep]]); margin is
    * exact integer micro: m = |σ̂ − 500000|. Deterministic top-[[MarginK]]
    * per source by (margin asc, doc_id) — a third selection POLICY next
    * to `q_sample_rho`'s top-excess and the filter's stochastic keep.
    *
    * Scale shape: the training aggregates + ONE broadcast model join +
    * doc-keyed scoring agg; the acquisition window runs per source over
    * the corpus-sublinear doc frame; ≤|sources| audit rows out.
    */
  private val qSampleMargin = Q(
    "q_sample_margin",
    (s, dir) => {
      val (x, w2) = lrTwoStep(s, dir)
      val z2 = x.join(broadcast(w2.select(col("f"), col("w2"))), "f")
        .groupBy("doc_id").agg(sum(col("w2") * col("x")).as("z"))
      val sc = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(z2, Seq("doc_id"), "left")
        .withColumn("sig", expr(s"greatest(0L, least(${LrMicro}L, " +
          s"${LrMicro / 2}L + coalesce(z, 0L) div 4))"))
        .withColumn("margin", expr(s"abs(sig - ${LrMicro / 2}L)"))
      val w = Window.partitionBy("source")
        .orderBy(col("margin").asc, col("doc_id"))
      sc.withColumn("rk", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr(s"CASE WHEN rk <= $MarginK THEN 1L ELSE 0L END")).as("n_picked"),
          sum(expr(s"CASE WHEN rk <= $MarginK THEN doc_id ELSE 0L END")).as("picked_idsum"),
          expr(s"sum(CASE WHEN rk <= $MarginK THEN margin ELSE 0L END) div " +
            s"greatest(1L, sum(CASE WHEN rk <= $MarginK THEN 1L ELSE 0L END))")
            .as("mean_margin_picked"),
          expr("sum(margin) div count(1)").as("mean_margin_all"))
        .orderBy("source")
    },
    Some(s"""WITH $lrOracleCtes,
            z2 AS (SELECT doc_id, CAST(SUM(w2.w2 * x.x) AS BIGINT) AS z
                   FROM x JOIN w2 USING (f) GROUP BY doc_id),
            sc AS (SELECT doc_id, source,
                    abs(greatest(0, least($LrMicro, ${LrMicro / 2} + COALESCE(z2.z, 0) // 4))
                        - ${LrMicro / 2}) AS margin
                   FROM documents LEFT JOIN z2 USING (doc_id)),
            rk AS (SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY margin ASC, doc_id) AS rk FROM sc)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN rk <= $MarginK THEN 1 ELSE 0 END) AS BIGINT) AS n_picked,
             CAST(SUM(CASE WHEN rk <= $MarginK THEN doc_id ELSE 0 END) AS BIGINT) AS picked_idsum,
             CAST(SUM(CASE WHEN rk <= $MarginK THEN margin ELSE 0 END) //
                  greatest(1, SUM(CASE WHEN rk <= $MarginK THEN 1 ELSE 0 END)) AS BIGINT) AS mean_margin_picked,
             CAST(SUM(margin) // COUNT(*) AS BIGINT) AS mean_margin_all
            FROM rk GROUP BY source ORDER BY source"""))

  // ------------------------------------------------- DoReMi reweighting

  /** Exponentiated-gradient amplification η on the relative excess
    * signal (micro-units): dimensionless step size of the one declared
    * EG round. The fixture's near-uniform sources carry only ~0.2%
    * relative drift, so a production-plausible η makes the tilt
    * visible without drowning the baseline share.
    */
  private val EgEta = 200L

  /** Trust region for one EG step: the multiplicative upweight is
    * clipped at 1 + [[EgMultCap]]/1e6 = 4× baseline — the single-step
    * analogue of DoReMi's per-round normalization keeping any one
    * domain from swallowing the budget on a noisy loss estimate.
    */
  private val EgMultCap = 3000000L

  /** DoReMi-style domain reweighting (Xie et al., NeurIPS 2023 —
    * arXiv:2305.10429): domains where the proxy model's loss exceeds
    * the reference's get UP-weighted by exponentiated gradient,
    * q_i ∝ p_i · exp(η · excess_i), then the budget is split by the
    * new shares with uniform smoothing. Distinct from every sibling:
    * `q_mix_temperature` reweights by SIZE (τ-law), this reweights by
    * a measured DIFFICULTY signal — the operator a data-mixing loop
    * runs between training rounds.
    *
    * Engine substitutions, both declared: (1) the excess-loss signal is
    * the unigram-LM surrogate — a domain's token-weighted mean corpus
    * commonness vs the corpus-global mean (`q_text_commonness`'s
    * integer probability machinery; domains whose tokens are rarer
    * than average are exactly the ones a reference-trained LM finds
    * harder), clipped at 0 and expressed RELATIVE in micro-units;
    * (2) D1: exp(η·λ) is linearized to 1 + η·λ (exact integer, the
    * same one-step direction; O(η²λ²) apart for the ≤0.4% drifts the
    * fixture carries) and clipped by the [[EgMultCap]] trust region.
    * Smoothing is DoReMi's uniform mix: final = 0.8·share + 0.2/k.
    *
    * Integer bounds (D1): pm ≤ 1e6, Σ(c·pm) ≤ n_tokens·1e6 — exact in
    * BIGINT through ~1e12 tokens per source; share division is spelled
    * `u div (tu div 1e6)` so the numerator never multiplies past the
    * total's scale. Output per domain: docs, relative excess, raw EG
    * share, smoothed share, and the doc budget under half the corpus.
    *
    * Scale shape: token explode → vocab census (map-combinable) →
    * vocab-sized probability join; per-source means are (source, w)-
    * keyed aggs; everything after is ≤ |sources| rows with 1-row
    * totals broadcast. Two corpus scans, no corpus-sized shuffle
    * beyond the (source, w) census.
    */
  private val qMixDoremi = Q(
    "q_mix_doremi",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val t = docs
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val v = t.groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds two actions: p's cut and the final one
      val n = v.agg(sum("c").as("nt"))
      val p = v.crossJoin(broadcast(n))
        .select(col("w"), expr("c * 1000000L div nt").as("pm"))
        .localCheckpoint(true) // else the adaptive plan varies run to run
      val g = v.join(p, "w").agg(expr("sum(c * pm) div sum(c)").as("mpg"))
      val mp = t.groupBy("source", "w").agg(count(lit(1)).as("c"))
        .join(p, "w").groupBy("source")
        .agg(expr("sum(c * pm) div sum(c)").as("mpi"))
      val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val base = nd.join(mp, "source").crossJoin(broadcast(g))
        .withColumn("excess_micro",
          expr("greatest(0L, mpg - mpi) * 1000000L div mpg"))
        .withColumn("u", expr(s"n_docs * (1000000L + " +
          s"least(${EgMultCap}L, ${EgEta}L * excess_micro))"))
      val tot = base.agg(sum("u").as("tu"), sum("n_docs").as("td"),
        count(lit(1)).as("k"))
      base.crossJoin(broadcast(tot))
        .withColumn("share_micro", expr("u div (tu div 1000000L)"))
        .withColumn("final_micro",
          expr("(8L * share_micro + 2L * (1000000L div k)) div 10L"))
        .withColumn("budget_docs",
          expr("(td div 2L) * final_micro div 1000000L"))
        .select(col("source"), col("n_docs"), col("excess_micro"),
          col("share_micro"), col("final_micro"), col("budget_docs"))
        .orderBy("source")
    },
    Some(s"""WITH t AS (SELECT source, u.tok AS w
                   FROM documents, unnest(string_split(text, ' ')) u(tok)
                   WHERE length(u.tok) >= 1),
            v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY w),
            n AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM v),
            p AS (SELECT w, c * 1000000 // nt AS pm FROM v CROSS JOIN n),
            g AS (SELECT SUM(v.c * p.pm) // SUM(v.c) AS mpg
                  FROM v JOIN p USING (w)),
            mp AS (SELECT source, SUM(st.c * p.pm) // SUM(st.c) AS mpi
                   FROM (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                         FROM t GROUP BY source, w) st
                   JOIN p USING (w) GROUP BY source),
            nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY source),
            b AS (SELECT source, n_docs,
                   greatest(0, mpg - mpi) * 1000000 // mpg AS excess_micro
                  FROM nd JOIN mp USING (source) CROSS JOIN g),
            b2 AS (SELECT *, n_docs * (1000000 +
                    least($EgMultCap, $EgEta * excess_micro)) AS u FROM b),
            tot AS (SELECT CAST(SUM(u) AS BIGINT) AS tu,
                     CAST(SUM(n_docs) AS BIGINT) AS td,
                     CAST(COUNT(*) AS BIGINT) AS k FROM b2),
            f AS (SELECT source, n_docs, excess_micro,
                   u // (tu // 1000000) AS share_micro, td, k
                  FROM b2 CROSS JOIN tot),
            f2 AS (SELECT source, n_docs, excess_micro, share_micro,
                    (8 * share_micro + 2 * (1000000 // k)) // 10 AS final_micro, td
                   FROM f)
            SELECT source, n_docs, CAST(excess_micro AS BIGINT) AS excess_micro,
                   CAST(share_micro AS BIGINT) AS share_micro,
                   CAST(final_micro AS BIGINT) AS final_micro,
                   CAST((td // 2) * final_micro // 1000000 AS BIGINT) AS budget_docs
            FROM f2 ORDER BY source"""))

  // ------------------------------------------------- repeat-epoch budget

  /** Repeat-epoch value decay in micro-units: the k-th epoch over the
    * same domain is worth (3/4)^(k-1) of a fresh one, truncated at each
    * step (successive `v*3 div 4` — BOTH engines spell the table the
    * same way), hard-capped at [[MaxEpochs]]. The 3/4-per-epoch /
    * worthless-past-8 shape is the D1 integer surrogate of the
    * data-constrained scaling fit (Muennighoff et al. NeurIPS'23,
    * arXiv:2305.16264: repeated epochs decay smoothly, ~4 epochs are
    * near-free, >8 add nothing).
    */
  private[graft] val MaxEpochs = 8
  private[graft] val EpochDecayMicro: Seq[Long] = {
    val b = Seq.newBuilder[Long]; var v = 1000000L
    (1 to MaxEpochs).foreach { _ => b += v; v = v * 3 / 4 }
    b.result()
  }

  /** Token budget as a multiple of the unique corpus: 2× forces epoching
    * (the data-constrained regime — budget exceeds unique data).
    */
  private val EpochBudgetMult = 2L

  /** Data-constrained epoch allocation (Muennighoff et al. NeurIPS'23):
    * given a token budget of [[EpochBudgetMult]]× the unique corpus,
    * decide how many REPEAT EPOCHS each domain trains for when value
    * decays per [[EpochDecayMicro]]. Marginal values are exactly
    * decreasing within a domain, so greedy-by-marginal-value is the
    * optimal allocation — all (domain, epoch ≤ 8) candidates are ranked
    * by value v = uniq_tok·decay div 1e6 (total order: v desc, source,
    * epoch — deterministic under truncation ties) and admitted while the
    * running token cost BEFORE the row is under budget (the
    * `q_mix_token_budget` greedy-fill rule, so admitted epochs are a
    * prefix and per-domain contiguous 1..e). Domains priced out entirely
    * report 0 epochs — unlike `q_mix_doremi` there is deliberately no
    * smoothing floor; the starvation behavior IS the allocation's
    * property. Exact in BIGINT through ~9e12 tokens per domain
    * (uniq_tok·1e6 < 2⁶³).
    *
    * Scale shape: one corpus scan → map-combinable per-source token agg;
    * everything after runs on the ≤ 8·|sources| candidate frame
    * (map-only posexplode of the 8-literal decay array — no join), with
    * the 1-row budget broadcast and ONE partition-less cumulative window
    * over that bounded frame (PlanLintSpec registry). Output ≤ |sources|
    * rows.
    */
  private[graft] def mixEpochsFrom(docs: DataFrame): DataFrame = {
    val uq = docs.groupBy("source")
      .agg(expr("CAST(SUM(size(split(text, ' '))) AS BIGINT)").as("uniq_tok"))
    val tot = uq.agg(expr(s"CAST(SUM(uniq_tok) * $EpochBudgetMult AS BIGINT)").as("bud"))
    val cand = uq.select(col("source"), col("uniq_tok"),
        posexplode(array(EpochDecayMicro.map(lit(_)): _*)).as(Seq("i", "decay_micro")))
      .withColumn("epoch", (col("i") + 1).cast("long")).drop("i")
      .withColumn("v_micro", expr("uniq_tok * decay_micro DIV 1000000"))
    val w = Window.orderBy(col("v_micro").desc, col("source"), col("epoch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val per = cand
      .withColumn("pre", coalesce(sum("uniq_tok").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .filter(col("pre") < col("bud"))
      .groupBy("source")
      .agg(count(lit(1)).as("epochs"), sum("uniq_tok").as("alloc_tok"),
        sum("v_micro").as("eff_micro"))
    uq.join(per, Seq("source"), "left")
      .select(col("source"), col("uniq_tok"),
        coalesce(col("epochs"), lit(0L)).as("epochs"),
        coalesce(col("alloc_tok"), lit(0L)).as("alloc_tok"),
        coalesce(col("eff_micro"), lit(0L)).as("eff_micro"))
      .orderBy("source")
  }

  private val qMixEpochs = Q(
    "q_mix_epochs",
    (s, dir) => mixEpochsFrom(Tables(s, dir, "documents")),
    Some(s"""WITH uq AS (SELECT source,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS uniq_tok
                  FROM documents GROUP BY source),
            tot AS (SELECT CAST(SUM(uniq_tok) * $EpochBudgetMult AS BIGINT) AS bud FROM uq),
            dk AS (SELECT * FROM (VALUES ${EpochDecayMicro.zipWithIndex
              .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")})
                   AS t(epoch, decay_micro)),
            cand AS (SELECT source, uniq_tok, CAST(epoch AS BIGINT) AS epoch,
                      uniq_tok * decay_micro // 1000000 AS v_micro
                     FROM uq CROSS JOIN dk),
            adm AS (SELECT *, COALESCE(SUM(uniq_tok) OVER (
                      ORDER BY v_micro DESC, source, epoch
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
                    FROM cand),
            kept AS (SELECT * FROM adm CROSS JOIN tot WHERE pre < bud),
            per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS epochs,
                     CAST(SUM(uniq_tok) AS BIGINT) AS alloc_tok,
                     CAST(SUM(v_micro) AS BIGINT) AS eff_micro
                    FROM kept GROUP BY source)
            SELECT uq.source, uniq_tok,
             CAST(COALESCE(epochs, 0) AS BIGINT) AS epochs,
             CAST(COALESCE(alloc_tok, 0) AS BIGINT) AS alloc_tok,
             CAST(COALESCE(eff_micro, 0) AS BIGINT) AS eff_micro
            FROM uq LEFT JOIN per USING (source) ORDER BY source"""))

  /** Per-source KL DIVERGENCE from the corpus unigram distribution —
    * the domain-shift number a mixture designer reads next to
    * `q_mix_doremi`'s reweighting and `q_sample_dsir`'s importance
    * ratios (Kullback & Leibler 1951; the per-domain "how far is this
    * source from the mix" diagnostic in the DoReMi/DSIR line — Xie et
    * al. 2023 select data BY exactly these log-ratios): KL(p_s ‖ q) =
    * Σ_w p_s(w)·ln(p_s(w)/q(w)) with p_s the source's unigram
    * distribution and q the corpus's. D1: no float ever crosses a
    * shuffle — each vocabulary term contributes
    * ⌊cnt_sw·ln((cnt_sw·N)/(n_s·cnt_w))·10⁶/n_s⌋, floored over the
    * bit-identical double of exact integer counts (the jaccard floor
    * rule), and the per-source KL is a SUM OF INTEGERS (a double sum's
    * partial-merge order would be nondeterministic across engines and
    * runs). Zero-count terms cannot occur (every (source, w) row has
    * cnt ≥ 1; q(w) ≥ p-support by construction). Output per source:
    * token mass, vocab size, kl_micro, and the max single-term
    * contribution (the dominating word, a drill-down scalar).
    *
    * Scale shape: ONE token explode feeding two map-combinable
    * censuses ((source, w) and w — the `q_text_tfidf` frames), a
    * vocab-keyed equi-join (never broadcast — billions of types at
    * corpus scale), 1-row totals broadcast, then a ≤ |sources| agg.
    */
  private val qMixKl = Q(
    "q_mix_kl",
    (s, dir) => {
      val ex = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val sw = ex.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      val ns = sw.groupBy("source").agg(sum("c_sw").as("n_s"))
      val cw = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
      val tot = ns.agg(sum("n_s").as("nn"))
      sw.join(cw, "w").join(ns, "source").crossJoin(broadcast(tot))
        .withColumn("contrib_micro", expr(
          """CAST(floor(c_sw * ln(CAST(c_sw AS DOUBLE) * nn
             / (CAST(n_s AS DOUBLE) * c_w)) * 1000000D
             / CAST(n_s AS DOUBLE)) AS BIGINT)"""))
        .groupBy("source")
        .agg(max("n_s").as("n_tok"),
          count(lit(1)).as("n_vocab"),
          sum("contrib_micro").as("kl_micro"),
          max("contrib_micro").as("top_term_micro"))
        .orderBy("source")
    },
    Some("""WITH ex AS (SELECT source, u.w AS w
                  FROM documents, unnest(string_split(text, ' ')) u(w)),
            sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
                   FROM ex GROUP BY source, w),
            ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
                   FROM sw GROUP BY source),
            cw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w
                   FROM sw GROUP BY w),
            t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nn FROM ns),
            c AS (SELECT sw.source,
                   CAST(FLOOR(c_sw * ln(CAST(c_sw AS DOUBLE) * nn
                     / (CAST(n_s AS DOUBLE) * c_w)) * 1000000
                     / CAST(n_s AS DOUBLE)) AS BIGINT) AS contrib_micro,
                   n_s
                  FROM sw JOIN cw USING (w) JOIN ns USING (source)
                  CROSS JOIN t)
            SELECT source, MAX(n_s) AS n_tok,
             CAST(COUNT(*) AS BIGINT) AS n_vocab,
             CAST(SUM(contrib_micro) AS BIGINT) AS kl_micro,
             MAX(contrib_micro) AS top_term_micro
            FROM c GROUP BY source ORDER BY source"""))

  /** Total sample budget the Neyman allocator distributes. */
  private val NeyBudget = 100L

  /** NEYMAN-ALLOCATION stratified sampling — the survey-statistics
    * optimum (Neyman 1934; Cochran, "Sampling Techniques" §5.5) behind
    * every "sample the variable strata harder" curation pass: under a
    * fixed budget, variance of the estimate is minimized by
    * n_h ∝ N_h·σ_h — proportional allocation ([[qSampleMixture]]'s
    * per-stratum rates) oversamples large UNIFORM strata and starves
    * small heterogeneous ones. D1: the spread term is the exact
    * integer DECILE RANGE y90 − y10 (values at ceil-ranks ⌈n/10⌉ and
    * ⌈9n/10⌉ of the (n_chars, doc_id)-ordered stratum — a population σ
    * would need engine-identical float sqrt of near-2⁶³ sums at scale;
    * the decile range is the robust textbook proxy and stays BIGINT),
    * allocations floor-divided against the weight total, and the
    * realized sample is the first alloc_n docs per stratum in salted-
    * hash order (salt "ney" — independent of every other selection op,
    * see the object scaladoc). Output: per-source audit row
    * (population, deciles, spread, allocated, realized, sampled chars).
    *
    * Scale shape: two source-partitioned windows (decile rank; sample
    * rank) over the skinny (doc_id, source, n_chars) projection, a
    * ≤ |sources| stats frame with a 1-row weight-total broadcast (the
    * `q_agg_activity_dist` exemption class), and a broadcast equi-join
    * of per-source allocations back onto the ranked stream. No global
    * sort, no corpus-sized shuffle beyond the two windows.
    */
  private val qSampleNeyman = Q(
    "q_sample_neyman",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = d
        .withColumn("rv", row_number()
          .over(Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id")))
          .cast("long"))
        .withColumn("n_pop", count(lit(1))
          .over(Window.partitionBy("source")))
      val st = ranked.groupBy("source").agg(
        max("n_pop").cast("long").as("n_pop"),
        min(when(col("rv") === expr("(n_pop + 9L) DIV 10L"), col("n_chars"))).as("y10"),
        min(when(col("rv") === expr("(9L * n_pop + 9L) DIV 10L"), col("n_chars"))).as("y90"))
        .withColumn("spread", col("y90") - col("y10"))
      val tot = st.agg(sum(expr("n_pop * spread")).as("tot"))
      val alloc = st.crossJoin(broadcast(tot))
        .withColumn("alloc_n", expr(
          s"CASE WHEN tot > 0 THEN $NeyBudget * (n_pop * spread) DIV tot ELSE 0L END"))
      val samp = d
        .withColumn("rh", row_number()
          .over(Window.partitionBy("source")
            .orderBy(expr(u32Spark("ney")), col("doc_id")))
          .cast("long"))
        .join(broadcast(alloc.select("source", "alloc_n")), "source")
        .filter(col("rh") <= col("alloc_n"))
        .groupBy("source")
        .agg(count(lit(1)).as("got_n"), sum("n_chars").as("samp_chars"))
      alloc.join(samp, Seq("source"), "left")
        .select(col("source"), col("n_pop"), col("y10"), col("y90"),
          col("spread"), col("alloc_n"),
          coalesce(col("got_n"), lit(0L)).as("got_n"),
          coalesce(col("samp_chars"), lit(0L)).as("samp_chars"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
             r AS (SELECT *,
                    CAST(row_number() OVER (PARTITION BY source
                      ORDER BY n_chars, doc_id) AS BIGINT) AS rv,
                    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_pop
                   FROM d),
             st AS (SELECT source, MAX(n_pop) AS n_pop,
                     MIN(CASE WHEN rv = (n_pop + 9) // 10 THEN n_chars END) AS y10,
                     MIN(CASE WHEN rv = (9 * n_pop + 9) // 10 THEN n_chars END) AS y90
                    FROM r GROUP BY source),
             a AS (SELECT source, n_pop, y10, y90, y90 - y10 AS spread,
                    CASE WHEN t.tot > 0
                         THEN $NeyBudget * (n_pop * (y90 - y10)) // t.tot
                         ELSE 0 END AS alloc_n
                   FROM st CROSS JOIN
                    (SELECT SUM(n_pop * (y90 - y10)) AS tot FROM st) t),
             smp AS (SELECT d.source, n_chars,
                      CAST(row_number() OVER (PARTITION BY d.source
                        ORDER BY ${u32Sql("ney")}, doc_id) AS BIGINT) AS rh
                     FROM d),
             k AS (SELECT smp.source, CAST(COUNT(*) AS BIGINT) AS got_n,
                    CAST(SUM(n_chars) AS BIGINT) AS samp_chars
                   FROM smp JOIN a ON smp.source = a.source
                   WHERE rh <= alloc_n GROUP BY smp.source)
             SELECT a.source, a.n_pop, a.y10, a.y90, a.spread,
              CAST(a.alloc_n AS BIGINT) AS alloc_n,
              COALESCE(k.got_n, 0) AS got_n,
              COALESCE(k.samp_chars, 0) AS samp_chars
             FROM a LEFT JOIN k USING (source) ORDER BY a.source"""))

  /** Number of greedy k-center picks. */
  private val KcK = 8

  /** Integer squared L2 between the int8-quantized vector column `qv`
    * and a literal center array — exact BIGINT arithmetic, the
    * `q_vec_kmeans_step` quantization discipline. */
  private def kcDistSpark(centerLit: String): String =
    s"aggregate(zip_with(qv, $centerLit, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"

  private def kcDistSql(prev: String): String =
    s"""list_sum(list_transform(range(len($prev.qv)),
          i -> ($prev.qv[i + 1] - s.qv[i + 1]) * ($prev.qv[i + 1] - s.qv[i + 1])))"""

  /** GREEDY K-CENTER diversity selection — farthest-first traversal
    * (Gonzalez 1985: a 2-approximation to the NP-hard k-center optimum;
    * Sener & Savarese ICLR'18 run exactly this as the "core-set" active
    * -learning acquisition): starting from the min-id vector, each round
    * picks the point FARTHEST from its nearest already-chosen center —
    * the maximal-coverage complement of [[qSampleMargin]]'s uncertainty
    * policy and `q_sample_coreset`'s importance weights (diversity, not
    * difficulty). D1: distances are exact integer squared L2 over int8-
    * quantized components (the `q_vec_kmeans_step` discipline — a float
    * argmax would tie-break nondeterministically across engines);
    * election order (dmin DESC, vec_id) is total. Output: the K = 8
    * picks with their election radius (the coverage radius just before
    * each pick — the textbook non-increasing curve) plus a final row
    * (sel_i = 8, vec_id = −1) carrying the realized coverage radius.
    *
    * Scale shape: the incremental farthest-first form — each round is
    * ONE map-only distance pass against the single newest center
    * (embedded as a literal array; no n·k blowup, no join) folding into
    * the running per-point dmin, then a TakeOrdered(1) election (the
    * BPE driver-scalar election pattern, K scalars total on the
    * driver); localCheckpoint between rounds truncates lineage. K
    * passes over n rows — the canonical distributed k-center cost.
    */
  private val qSampleKcenter = Q(
    "q_sample_kcenter",
    (s, dir) => {
      import s.implicits._
      val pts = Llm.vecs(s, dir)
        .select(col("vec_id"),
          expr("transform(v, x -> CAST(floor(x * 127) AS BIGINT))").as("qv"))
        .localCheckpoint(true) // read by the driver collect and every round
      def lit64(a: Seq[Long]) = a.mkString("array(", "L,", "L)")
      val first = pts.orderBy("vec_id").limit(1)
        .collect().head
      var picks = List((0L, first.getAs[Long]("vec_id"), 0L))
      var curQv: Seq[Long] = first.getSeq[Long](1)
      var d = pts
        .withColumn("dmin", expr(kcDistSpark(lit64(curQv))))
        .localCheckpoint(true) // iteration: d is reassigned per round
      for (i <- 1 until KcK) {
        val top = d.orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .collect().head
        picks ::= (i.toLong, top.getAs[Long]("vec_id"), top.getAs[Long]("dmin"))
        curQv = top.getSeq[Long](top.fieldIndex("qv"))
        val prev = d
        d = d.withColumn("dmin",
            least(col("dmin"), expr(kcDistSpark(lit64(curQv)))))
          .localCheckpoint(true) // iteration: a driver collect reads each round
        prev.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }.foreach(_.unpersist(false))
      }
      val cov = d.agg(max("dmin")).collect().head.getLong(0)
      (picks.reverse :+ (KcK.toLong, -1L, cov))
        .toDF("sel_i", "vec_id", "radius_sq")
        .orderBy("sel_i")
    },
    Some {
      val steps = (1 until KcK).map { k =>
        s"""s$k AS (SELECT vec_id, qv, d FROM d${k - 1}
                    ORDER BY d DESC, vec_id LIMIT 1),
            d$k AS (SELECT p.vec_id, p.qv,
                     LEAST(p.d, ${kcDistSql("p")}) AS d
                    FROM d${k - 1} p CROSS JOIN s$k s)"""
      }.mkString(",\n")
      val sels = (1 until KcK).map(k =>
        s"UNION ALL SELECT CAST($k AS BIGINT), vec_id, CAST(d AS BIGINT) FROM s$k")
        .mkString("\n")
      s"""WITH ${Llm.vecsSql},
          p AS (SELECT vec_id,
                 list_transform(v, x -> CAST(floor(x * 127) AS BIGINT)) AS qv
                FROM e),
          s0 AS (SELECT vec_id, qv FROM p ORDER BY vec_id LIMIT 1),
          d0 AS (SELECT p.vec_id, p.qv, ${kcDistSql("p")} AS d
                 FROM p CROSS JOIN s0 s),
          $steps
          SELECT CAST(0 AS BIGINT) AS sel_i, vec_id,
           CAST(0 AS BIGINT) AS radius_sq FROM s0
          $sels
          UNION ALL SELECT CAST($KcK AS BIGINT), CAST(-1 AS BIGINT),
           CAST((SELECT MAX(d) FROM d${KcK - 1}) AS BIGINT)
          ORDER BY sel_i"""
    })

  /** TEMPORAL train/test split with an EMBARGO gap (r11 — the
    * time-series counterpart of [[qSplitTrain]]'s hash split: when the
    * eval question is "does the model generalize FORWARD", a hash split
    * leaks the future into training; finance backtesting calls the fix
    * purged/embargoed splitting, de Prado 2018 ch.7). Cut day =
    * min + ⌊0.8·span⌋ of the event calendar; the 3 days before the cut
    * are EMBARGOED (dropped from both sides) so sessions straddling the
    * boundary cannot leak near-duplicate rows across it. The declared
    * audit is the one-row split census plus the residual ENTITY overlap
    * — users active on both sides (legitimately unavoidable for a
    * returning-user product, exactly what the reviewer of a temporal
    * split needs to see quantified): users_both and its share of test
    * users in bp.
    *
    * Scale shape: 1-row calendar-bounds broadcast onto the scan (the
    * q_agg_decay class), map-only split flags, one corpus census + one
    * user-keyed election census — two map-combinable aggs, no join of
    * corpus-sized frames.
    */
  private val qSplitTemporal = Q(
    "q_split_temporal",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_us DIV 86400000000").as("dd"))
      val bounds = ev.agg(min("dd").as("lo"), max("dd").as("hi"))
      val flagged = ev.crossJoin(broadcast(bounds))
        .withColumn("cut", expr("lo + (hi - lo) * 4L div 5L"))
        .withColumn("split", expr(
          """CASE WHEN dd < cut - 3L THEN 'train'
                  WHEN dd < cut THEN 'embargo'
                  ELSE 'test' END"""))
      val rows = flagged.groupBy().agg(
        sum(expr("CAST(split = 'train' AS BIGINT)")).as("n_train"),
        sum(expr("CAST(split = 'embargo' AS BIGINT)")).as("n_embargo"),
        sum(expr("CAST(split = 'test' AS BIGINT)")).as("n_test"))
      val users = flagged.groupBy("user_id").agg(
        max(expr("CAST(split = 'train' AS BIGINT)")).as("in_tr"),
        max(expr("CAST(split = 'test' AS BIGINT)")).as("in_te"))
        .agg(sum("in_tr").as("users_train"), sum("in_te").as("users_test"),
          sum(expr("in_tr * in_te")).as("users_both"))
      rows.crossJoin(users)
        .withColumn("leak_bp", expr(
          "CASE WHEN users_test = 0 THEN 0L ELSE users_both * 10000L div users_test END"))
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS dd
                  FROM events),
            bo AS (SELECT MIN(dd) AS lo, MAX(dd) AS hi FROM ev),
            fl AS (SELECT user_id,
                    CASE WHEN dd < lo + (hi - lo) * 4 // 5 - 3 THEN 'train'
                         WHEN dd < lo + (hi - lo) * 4 // 5 THEN 'embargo'
                         ELSE 'test' END AS split
                   FROM ev CROSS JOIN bo),
            rw AS (SELECT
                    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                    CAST(SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo,
                    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
                   FROM fl),
            uc AS (SELECT user_id,
                    MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
                    MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_te
                   FROM fl GROUP BY user_id),
            us AS (SELECT CAST(SUM(in_tr) AS BIGINT) AS users_train,
                    CAST(SUM(in_te) AS BIGINT) AS users_test,
                    CAST(SUM(in_tr * in_te) AS BIGINT) AS users_both
                   FROM uc)
            SELECT n_train, n_embargo, n_test, users_train, users_test,
             users_both,
             CAST(CASE WHEN users_test = 0 THEN 0
                       ELSE users_both * 10000 // users_test END AS BIGINT) AS leak_bp
            FROM rw CROSS JOIN us"""))

  /** Weight the weighted-sample budget selects. */
  private val EswK = 100L

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT via exponential races (r11 —
    * Efraimidis & Spirakis IPL'06 A-ES, the distributed-reservoir
    * classic: each row draws key u^(1/w), the k largest keys win;
    * equivalently the k SMALLEST exponential arrival times −ln(V)/w —
    * one map-only pass + a global top-k, which is exactly the shape a
    * 1000-executor reservoir needs, no sequential scan, no rejection
    * loop, rerun-stable because the "randomness" is the md5 hash of the
    * key). Weights are the exact order cents; V = 1 − u keeps ln away
    * from 0 (u ∈ [0,1) ⇒ V ∈ (0,1]). Declared result: the winning 100
    * rows with their exact arrival-time nano-score — bigger orders win
    * disproportionately often (the invariant pins the selected-mean ≫
    * corpus-mean separation).
    *
    * D1: score_nano = ⌊−ln(1−u)·10¹⁵ / cents⌋ — the double pipeline is
    * the (ln, ×, ÷, floor) chain both engines evaluate in IEEE order
    * (the q_mix_kl ln precedent); total order (score, key) through ties.
    *
    * Scale shape: map-only score + TakeOrderedAndProject(100) — no
    * shuffle beyond the k-row final gather.
    */
  private val qSampleWeighted = Q(
    "q_sample_weighted",
    (s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr(s"""CAST(floor(-ln(1.0D - ${Llm.md5U01Spark(
            "concat('esw_', CAST(o_orderkey AS STRING))")}) * 1e15D
               / CAST(round(o_totalprice * 100) AS DOUBLE)) AS BIGINT)""")
            .as("score_nano"))
        .orderBy("score_nano", "o_orderkey")
        .limit(EswK.toInt)
    },
    Some(s"""SELECT o_orderkey,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
              CAST(FLOOR(-ln(1.0 - ${Llm.md5U01Sql(
      "'esw_' || CAST(o_orderkey AS VARCHAR)")}) * 1e15
                / CAST(round(o_totalprice * 100) AS DOUBLE)) AS BIGINT) AS score_nano
             FROM orders
             ORDER BY score_nano, o_orderkey LIMIT $EswK"""))

  val all: Seq[Q] = Seq(
    qDecontaminate, qSampleMixture, qMixTokenBudget, qMixCurriculum, qSplitTrain,
    qSplitTemporal, qSampleWeighted,
    qPackSequences, qSourceCap, qDedupIncremental, qSampleNegatives,
    qSampleHardNegatives, qSourceScorecard, qSampleImportance, qMixTemperature,
    qSampleDsir, qSampleRho, qSampleMargin, qMixConcentration, qCurateLrStep, qCurateLrFilter,
    qCurateCalibration, qMixDoremi, qMixEpochs, qSampleNeyman, qSampleKcenter,
    qMixKl)
}
