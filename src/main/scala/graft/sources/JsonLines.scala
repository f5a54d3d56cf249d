package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSON-Lines source/sink — the reference's native wire format (its
  * Kinesis records carry one JSON object per event), as a first-class
  * table layout next to [[Partitioned]] parquet and [[Bucketed]] tables.
  *
  * The read side encodes the ingestion contract a 100 TB pipeline needs
  * from a text format:
  *  - explicit schema, never inference (an inference pass is a full
  *    extra scan of the corpus, and a drifting inferred type silently
  *    re-types downstream columns);
  *  - PERMISSIVE parse with a `_corrupt_record` capture column: a
  *    malformed line becomes a DLQ row carrying the raw text instead of
  *    failing the job or silently vanishing — the same
  *    quarantine-don't-drop rule as the ETL DLQ operator (`q_etl_dlq`);
  *  - the good/corrupt split is one scan, two filters (no second pass).
  *
  * Parquet remains the at-rest format (columnar pruning, pushdown,
  * statistics); JSONL is the interchange boundary — land it, split the
  * DLQ, convert to parquet, and everything downstream is columnar.
  */
object JsonLines {

  val CorruptCol = "_corrupt_record"

  /** Write one JSON object per line (Spark's json sink). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Read with an explicit data schema; returns (good, dlq): `good` has
    * exactly `schema`'s columns for lines that parsed clean, `dlq` one
    * string column with each malformed line verbatim.
    */
  def read(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(
      schema.fields :+ StructField(CorruptCol, StringType, nullable = true))
    // one scan, materialized once: Spark REFUSES corrupt-column-only
    // queries on the raw file source (QUERY_ONLY_CORRUPT_RECORD_COLUMN —
    // the column exists only while parsing), so the parsed frame is
    // checkpointed and both branches read the same blocks. This is also
    // what makes the good/corrupt split genuinely single-pass.
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)
      .localCheckpoint(true) // the good/corrupt split reads one parse
    val good = raw.filter(col(CorruptCol).isNull).select(schema.fieldNames.map(col): _*)
    val dlq = raw.filter(col(CorruptCol).isNotNull).select(col(CorruptCol).as("raw_line"))
    (good, dlq)
  }
}
