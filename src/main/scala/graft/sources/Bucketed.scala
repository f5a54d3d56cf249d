package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bucketed table layout — the production answer to the one genuinely
  * large-large join in the workload (lineitem ⋈ orders on orderkey,
  * ARCHITECTURE §2): persist both sides bucketed + sorted on the join key,
  * and every subsequent join on that key runs shuffle-free (SortMergeJoin
  * directly over the bucketed scans, no Exchange).
  *
  * At 100 TB this is the difference between re-shuffling terabytes per
  * query and a metadata-only co-location guarantee amortized across every
  * query that joins or aggregates on the bucket key.
  */
object Bucketed {

  /** Persist `df` bucketed+sorted on `key` as a managed table, or as an
    * external table at `path` (so callers outside a warehouse-configured
    * session keep their data under an explicit location).
    */
  def write(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
    path.fold(w.saveAsTable(table))(p => w.option("path", p).saveAsTable(table))
  }

  /** Registers the layout [[write]] left at `path` as the external table
    * `table` if the catalog lacks it, with the written `schema` (no
    * inference) and the same bucket spec. A session catalog is in memory,
    * so a new process finds the files but not the table.
    */
  def register(spark: SparkSession, table: String, schema: StructType, key: String,
      buckets: Int, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table (${schema.toDDL}) USING parquet " +
      s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS LOCATION '$path'")

  /** Equi-join two tables previously written with the same bucket spec on
    * their respective keys. The merge hint pins SortMergeJoin: a
    * broadcast pick (which a small side at a small SF invites) would
    * bypass the bucketed layout entirely — the point here IS the
    * co-located large-large join, and at the scale this layout targets
    * neither side broadcasts anyway.
    */
  def join(spark: SparkSession, left: String, right: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(left).hint("merge")
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** True iff the physical plan contains no shuffle exchange — the
    * co-location proof used by the spec and available for ad-hoc audits.
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
}
