package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star /
  * small-star contraction — the MapReduce-CC pattern of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (ACM SoCC 2014).
  *
  * Why not plain min-label propagation: propagation needs
  * O(graph diameter) rounds, and a chain-shaped dup graph (sliding
  * near-dup windows over a scrolled page) has diameter O(n). The
  * alternating algorithm contracts toward each component's minimum by
  * roughly halving path depth per round, converging in O(log n) rounds
  * on every topology — the difference between 9 rounds and 500 on a
  * 500-node path.
  *
  * Each round is two shuffle-join + hash-agg stages over the EDGE set
  * (which only ever shrinks toward one star edge per non-root node);
  * label data never leaves the executors, and the driver sees only the
  * per-round convergence scalars. `localCheckpoint` truncates lineage
  * between rounds exactly as GraphX materializes between supersteps,
  * and each dead round's blocks are unpersisted immediately.
  */
object ConnectedComponents {

  /** Dataset.unpersist() frees cache-manager entries, not checkpoint
    * blocks — to release a dead round we must unpersist the
    * checkpointed RDD itself (the LogicalRDD leaf of the plan).
    */
  private def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Large-star round: every node u connects each strictly larger
    * neighbor to m = min of u's closed neighborhood. Emitted edges
    * (v, m) always have v > m, so no self-edges survive. NOT
    * deduplicated — each input edge emits exactly one row (only one
    * orientation passes v > u), so the output is |e| rows and a
    * distinct here would spend a shuffle to dedup the few cross-source
    * (v, m) collisions that smallStar's min-agg absorbs for free.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    nbrs.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
  }

  /** Small-star round: orient each edge large→small; every node u
    * connects its smaller neighbors (and itself) to m = min of them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val mins = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(mins, "u").filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .union(mins.select(col("u").as("a"), col("m").as("b")))
      .distinct()
  }

  /** Label every node of the undirected edge list `edges` (columns
    * `a`, `b`; self-loops tolerated, dropped) with its component's
    * minimum node id. Returns ((id, lbl) frame, rounds used). Fails
    * loudly rather than returning garbage if `maxRounds` is hit —
    * with O(log n) convergence that indicates a bug, not a big graph.
    */
  private[graft] def labels(edges: DataFrame, maxRounds: Int = 30): (DataFrame, Int) = {
    var e = edges.select(col("a"), col("b"))
      // counted here, then read by round 1
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var eCount = e.count()
    var rounds = 0
    var done = eCount == 0
    while (!done && rounds < maxRounds) {
      // iteration: e is reassigned per round
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      // exact set-equality convergence: star sets are the fixpoints of
      // both rounds, so "unchanged" means every component is a star
      // centered at its minimum. The previous round's count is carried
      // forward (one count job per round, not two), and the except
      // anti-join only runs when the counts already agree — typically
      // once, at the true fixpoint. Both frames are materialized
      // checkpoints, so these jobs scan blocks, not the join lineage.
      val nextCount = next.count()
      done = nextCount == eCount && next.except(e).isEmpty
      ckptRdd(e).foreach(_.unpersist(blocking = false))
      e = next
      eCount = nextCount
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connected components not converged after $maxRounds alternating rounds")
    val lbl = e.select(col("a").as("id"), col("b").as("lbl"))
      .union(e.select(col("b").as("id"), col("b").as("lbl")).distinct())
    (lbl, rounds)
  }
}
