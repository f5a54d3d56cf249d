package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.graftnative.GraftNative

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
    * Semantics identical to the typed reference Aggregators that
    * `TopKCandAggSpec` pins it against row for row, without their
    * encoder churn.
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
      GraftNative.sqlFunctions.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
      // whole-plan rewrite (SURVEY §4): bounded explode — see the rule's doc
      ext.injectOptimizerRule(_ => graft.plans.BoundedPosExplode)
    }
  }
}
