package graft

import org.apache.spark.sql.functions.col

/** Plan lint over the whole declared inventory: no query may compile to an
  * unexpected O(n²) physical join, or to a single-task window over an
  * input that grows with the corpus. Guards the scale posture (ARCHITECTURE)
  * against regressions — e.g. a refactor that silently turns an equi-join
  * into a nested-loop join would fail here, not at 100 TB. The rules are
  * structural and name no key: a nested loop passes when Catalyst bounds
  * one of its sides, and otherwise when its smaller side does not grow
  * with the corpus; a partition-less window is judged by the rows it
  * reads ([[PlanLintSpec.growing]]).
  */
class PlanLintSpec extends SparkSpec {

  // A join with no equi-join key runs as a nested loop: every row of one
  // side meets every row of the other. It stays linear when Catalyst can
  // bound one side (`maxRows` ≤ [[PlanLintSpec.BoundedSide]]): a global
  // aggregate's 1-row total, a ≤ 64-row top-K frame. A side bounded by the
  // data's design instead (region × nation, the per-language profiles,
  // the hash-sampled recall queries, the calendar's day pairs) is measured.
  SparkEntry.declared.foreach { q =>
    test(s"${q.name}: no unexpected nested-loop/cartesian join") {
      val qe = q.fn(spark, sf).queryExecution
      val loops = PlanLintSpec.nestedLoops(qe.optimizedPlan)
      // every physical nested loop is one of the logical joins judged here
      val physical = PlanLintSpec.physicalNestedLoops(qe.executedPlan)
      assert(physical == loops.size,
        s"${q.name}: $physical physical nested loop(s), ${loops.size} keyless logical join(s)\n${qe.executedPlan}")
      // artifact-BUILD windows behind a persisted read are audited by the
      // artifact's own inline-spelling tests
      lazy val small = q.fn(spark, PlanLintSpec.at(sf, "sf0.01")).queryExecution.optimizedPlan
      lazy val large = q.fn(spark, PlanLintSpec.at(sf, "sf0.1")).queryExecution.optimizedPlan
      val growing = PlanLintSpec.growing(spark, qe.optimizedPlan, small, large)
      assert(growing.isEmpty,
        s"${q.name}: single-task input rows, sf0.01 → sf0.1: " +
          s"${growing.mkString(", ")}\n${qe.optimizedPlan}")
    }
  }

  test("the nested-loop rule flags a join of two unbounded sides, not a bounded fan-out") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, count, lit, row_number}
    def unbounded(df: org.apache.spark.sql.DataFrame): Int =
      PlanLintSpec.nestedLoops(df.queryExecution.optimizedPlan).filterNot(PlanLintSpec.linear).size
    val a = spark.range(1000).toDF("x")
    val b = spark.range(1000).toDF("y")
    assert(unbounded(a.crossJoin(b)) == 1)
    assert(unbounded(a.join(b, col("x") < col("y"))) == 1)
    val total = b.agg(count(lit(1)).as("n"))
    val fanOut = a.crossJoin(broadcast(total))
    assert(unbounded(fanOut) == 0)
    assert(PlanLintSpec.nestedLoops(fanOut.queryExecution.optimizedPlan).size == 1 &&
      PlanLintSpec.physicalNestedLoops(fanOut.queryExecution.executedPlan) == 1)
    // one window read by two consumers of one action counts once
    val w = a.withColumn("r", row_number().over(Window.orderBy("x")))
    val twice = w.filter(col("x") < 10).unionByName(w.filter(col("x") > 990))
    assert(PlanLintSpec.unpartitionedWindows(twice.queryExecution.optimizedPlan).size == 1)
  }

  test("the window rule flags a global window over per-order rows, not one over the per-day census") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, expr, lit, sum}
    def growing(q: String => org.apache.spark.sql.DataFrame) =
      PlanLintSpec.growing(spark, q(sf).queryExecution.optimizedPlan,
        q(PlanLintSpec.at(sf, "sf0.01")).queryExecution.optimizedPlan,
        q(PlanLintSpec.at(sf, "sf0.1")).queryExecution.optimizedPlan)
    val running = sum("n").over(Window.orderBy("k"))
    val orders = (dir: String) => Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), lit(1L).as("n"))
    assert(growing(orders(_).withColumn("cum", running)).map(_._2) == Seq(15000L -> 150000L))
    // documents hold 500 rows at sf0.001 and at sf0.01, 5,000 at sf0.1
    val docs = (dir: String) => Tables(spark, dir, "documents")
      .select(col("doc_id").as("k"), lit(1L).as("n"))
    assert(growing(docs(_).withColumn("cum", running)).map(_._2) == Seq(500L -> 5000L))
    val perDay = (dir: String) => Tables.events(spark, dir)
      .groupBy(expr("ts_us DIV 86400000000").as("k")).agg(count(lit(1)).as("n"))
      .withColumn("cum", running)
    assert(growing(perDay).isEmpty)
    // a Catalyst-bounded input passes uncounted
    assert(growing(orders(_).limit(64).withColumn("cum", running)).isEmpty)
    // a nested loop is judged by its smaller side: orders × region grows
    // only on the orders side, orders × documents on both
    val region = (dir: String) => Tables(spark, dir, "orders").select("o_orderkey")
      .crossJoin(Tables(spark, dir, "region").select("r_regionkey"))
    assert(growing(region).isEmpty)
    val pairs = (dir: String) => Tables(spark, dir, "orders").select("o_orderkey")
      .crossJoin(Tables(spark, dir, "documents").select("doc_id"))
    assert(growing(pairs).map(_._2) == Seq(500L -> 5000L))
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
    // the brute-force baseline arm fans its 1-row block-count census out
    // onto the vectors; its vector pair join must be an equi-join on the
    // modulo block key
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
    Seq("q_agg_activity_dist", "q_text_vocab_prune").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"$name must reuse the shared exchange:\n$plan")
      assert(!plan.contains("ExistingRDD"), s"$name must not read a checkpoint:\n$plan")
    }
    // q_etl_batch_assign's shared frame is the events scan plus the
    // routing projection, with no exchange in it: its only reused exchange
    // was the routing table's broadcast, which routing as a map lookup
    // removed. Each of its three branches (numbering, shard offsets,
    // oversize) re-reads the scan, and none reads a checkpoint.
    val df = SparkEntry.queries("q_etl_batch_assign")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("ExistingRDD"), s"q_etl_batch_assign must not read a checkpoint:\n$plan")
    // counted in the initial plan: at run time AQE drops a branch whose
    // input is empty (no oversized record at a small scale factor)
    val initial = plan.asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec].inputPlan
    val scans = initial.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 3, s"q_etl_batch_assign must read the scan once per branch:\n$initial")
  }

  test("the hop's batch twins plan no routing broadcast and parse each envelope once") {
    // routing is a map lookup in the projection: no broadcast job
    Seq("q_etl_route", "q_etl_dlq").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"$name plans a broadcast:\n$plan")
    }
    // The outer generator gets no inferred size/isnotnull filter that
    // would evaluate the envelope's from_json twice more below it. The
    // hop's shape (a text scan of envelopes, the payload parsed and only
    // some fields kept) is where `explode` got that filter.
    def envelopeParses(df: org.apache.spark.sql.DataFrame): Int =
      PlanLintSpec.aqe.flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs
          if j.schema == graft.streaming.Pipeline.envelopeSchema => j
      })).size
    val envelope = SparkEntry.queries("q_etl_envelope")(spark, sf)
    assert(envelopeParses(envelope) == 1, envelope.queryExecution.executedPlan)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-envelopes").resolve("t").toString
    Seq("""{"Records":[{"eventID":"e1","kinesis":{"partitionKey":"7",""" +
        """"sequenceNumber":"1","data":"eyJldmVudF9pZCI6MSwiZXZlbnRfdHlwZSI6ImNsaWNrIn0="}}]}""")
      .toDF("value").write.text(dir)
    val payload = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, props STRING")
    val hop = graft.streaming.Pipeline.route(
        graft.streaming.Pipeline.ingestEnvelopes(spark.read.text(dir), "value")
          .select(org.apache.spark.sql.functions.from_json(col("payload"), payload).as("e"))
          .select("e.*"))
      .select(col("event_id"), col("route"))
    assert(envelopeParses(hop) == 1, hop.queryExecution.executedPlan)
    assert(hop.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "analytics"))
  }
}

object PlanLintSpec {
  import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

  /** Walks a physical plan through its adaptive wrapper and query stages. */
  val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** The largest side a nested-loop join may have and stay linear. */
  val BoundedSide = 64L

  /** The joins with no equi-join key, subqueries included: each one plans
    * as a `BroadcastNestedLoopJoin` or a `CartesianProduct`.
    */
  def nestedLoops(plan: LogicalPlan): Seq[Join] = plan.collectWithSubqueries {
    case j: Join if ExtractEquiJoinKeys.unapply(j).isEmpty => j
  }

  /** A nested loop is linear in its other side when Catalyst bounds one side. */
  def linear(j: Join): Boolean =
    Seq(j.left, j.right).exists(_.maxRows.exists(_ <= BoundedSide))

  /** Physical nested-loop joins, through AQE stages and subqueries. */
  def physicalNestedLoops(plan: SparkPlan): Int = aqe.collectWithSubqueries(plan) {
    case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) => j
  }.size

  /** Distinct partition-less windows, subqueries included: a window that
    * several consumers of one action read is one node of work, however
    * often the plan repeats it.
    */
  def unpartitionedWindows(plan: LogicalPlan): Seq[Window] = plan.collectWithSubqueries {
    case w: Window if w.partitionSpec.isEmpty => w
  }.distinctBy(_.canonicalized)

  /** `dir` with its scale-factor directory name replaced by `scale`. */
  def at(dir: String, scale: String): String = dir.replaceAll("sf[0-9.]+$", scale)

  /** Single-task work that grows with the corpus. A window with no
    * partition keys reads its whole input in one task; a nested loop
    * meets every row of one side with every row of the other. Each stays
    * cheap only while that input, or the loop's smaller side, does not
    * grow with the corpus. The shapes come from `probe` (the query at
    * sf0.001): a window whose input, or a loop with a side, Catalyst
    * bounds (`maxRows` ≤ [[BoundedSide]]) passes uncounted. The others are
    * counted in `small` (the query at sf0.01) and `large` (at sf0.1),
    * paired by their order in the plans, and pass when the large count is
    * at most max([[BoundedSide]], 2 × the small one). Returns each failing
    * window's name, or `nested loop`, with its (small, large) rows.
    *
    * At that step every fixture table grows 4–10× (documents 500 → 5,000,
    * embeddings 500 → 2,000, orders 15,000 → 150,000); region, nation, the
    * 30 days, the 20 sources and the 5 languages stay flat. sf0.001 would
    * not do as the small side: documents and embeddings hold 500 rows at
    * sf0.001 and at sf0.01, so no window over text or vectors could fail.
    * The input of `commonnessTerciles`' window is one row per distinct
    * score: 346 / 357 / 596 rows at sf0.001 / sf0.01 / sf0.1.
    */
  def growing(spark: SparkSession, probe: LogicalPlan, small: => LogicalPlan,
      large: => LogicalPlan): Seq[(String, (Long, Long))] = {
    def rows(plan: LogicalPlan) = spark.sessionState.executePlan(plan).toRdd.count()
    def bounded(plan: LogicalPlan) = plan.maxRows.exists(_ <= BoundedSide)
    // each shape's inputs: a window's child, or a loop's two sides
    def windows(plan: LogicalPlan) = unpartitionedWindows(plan).map(w => Seq(w.child))
    def loops(plan: LogicalPlan) = nestedLoops(plan).map(j => Seq(j.left, j.right))
    def judged(shapes: LogicalPlan => Seq[Seq[LogicalPlan]], name: Int => String) = {
      val ps = shapes(probe)
      val idx = ps.indices.filterNot(i => ps(i).exists(bounded))
      if (idx.isEmpty) Nil
      else {
        val (s, l) = (shapes(small), shapes(large))
        require(s.size == ps.size && l.size == ps.size,
          s"${ps.size} / ${s.size} / ${l.size} shapes at sf0.001 / sf0.01 / sf0.1")
        idx.map { i =>
          // a loop is as large as its smaller side
          name(i) -> s(i).zip(l(i)).map { case (a, b) => rows(a) -> rows(b) }.minBy(_._2)
        }.filter { case (_, (a, b)) => b > math.max(BoundedSide, 2 * a) }
      }
    }
    judged(windows, i => unpartitionedWindows(probe)(i).windowExpressions.map(_.name).mkString("/")) ++
      judged(loops, _ => "nested loop")
  }
}

