package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftnative.{DotProduct, GraftNative, Md5Hex32, PqRecon}

/** Column-DSL facade over the engine's native expressions, plus SQL
  * registration (SURVEY §2.12 extension-point ladder: native Expression
  * with codegen, not a UDF). The expressions themselves live in
  * `org.apache.spark.sql.graftnative` — see the note there.
  */
package object functions {

  /** Dot product of two ARRAY<DOUBLE> columns (codegen'd). */
  def graft_dot(a: Column, b: Column): Column = GraftNative.dot(a, b)

  /** Bounded top-k candidate fold (cos desc, nId asc) as a native
    * TypedImperativeAggregate; `distinct = true` presence-dedups on nId.
    * Semantics identical to the typed `graft.udf.TopKCand`/
    * `TopKCandDistinct` Aggregators (equivalence pinned in tests) with
    * the encoder churn removed.
    */
  def graft_topk(score: Column, nId: Column, k: Int, distinct: Boolean): Column =
    GraftNative.topkCand(score, nId, k, distinct)

  /** Register the SQL names a live session lacks (for `spark.sql` use;
    * the Column DSL above needs no registration).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftNative.register(spark)
}

package functions {

  /** Registers the engine's SQL functions; install with
    * `withExtensions(new GraftExtensions)` on a session builder (as
    * `EngineSession.builder` does) or
    * `spark.sql.extensions=graft.functions.GraftExtensions`. The Column
    * facade above works without registration (the expression is injected
    * into the plan directly).
    */
  class GraftExtensions extends (SparkSessionExtensions => Unit) {
    override def apply(ext: SparkSessionExtensions): Unit = {
      ext.injectFunction((
        new FunctionIdentifier("graft_dot"),
        new ExpressionInfo(classOf[DotProduct].getCanonicalName, null, "graft_dot"),
        GraftNative.dotBuilder))
      ext.injectFunction((
        new FunctionIdentifier("graft_md5h32"),
        new ExpressionInfo(classOf[Md5Hex32].getCanonicalName, null, "graft_md5h32"),
        GraftNative.md5h32Builder))
      ext.injectFunction((
        new FunctionIdentifier("graft_md5w32"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.graftnative.Md5Words32].getCanonicalName,
          null, "graft_md5w32"),
        GraftNative.md5w32Builder))
      ext.injectFunction((
        new FunctionIdentifier("graft_pq_recon"),
        new ExpressionInfo(classOf[PqRecon].getCanonicalName, null, "graft_pq_recon"),
        GraftNative.pqReconBuilder))
      ext.injectFunction((
        new FunctionIdentifier("graft_cells"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.graftnative.CellsTopN].getCanonicalName,
          null, "graft_cells"),
        GraftNative.cellsBuilder))
      ext.injectFunction((
        new FunctionIdentifier("graft_sketch"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.graftnative.SignSketch].getCanonicalName,
          null, "graft_sketch"),
        GraftNative.sketchBuilder))
      // whole-plan rewrite (SURVEY §4): bounded explode — see the rule's doc
      ext.injectOptimizerRule(_ => graft.plans.BoundedPosExplode)
    }
  }
}
