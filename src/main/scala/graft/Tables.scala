package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central table loader for the driver-provided parquet fixtures
  * (TESTDATA.md / FIXTURES.md).
  *
  * Critical environment bridge (SURVEY §2.0 D4): the fixture generation
  * has shipped `events.ts` under TWO physical types across rounds —
  *  - INT64 TIMESTAMP(NANOS), which Spark 4.1.2 refuses to read unless
  *    `spark.sql.legacy.parquet.nanosAsLong=true` (after which `ts` reads
  *    as LongType epoch-nanoseconds), and
  *  - plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark 4
  *    reads as TIMESTAMP_NTZ (round 7's regenerated fixtures — the old
  *    `ts DIV 1000` bridge then fails analysis and took 26 queries down).
  * `events()` therefore dispatches on the RESOLVED Spark type, not on an
  * assumption about the file. We also pin the session timezone to UTC on
  * every read: the cross-engine contract is "naive wall-clock == UTC"
  * (DuckDB `epoch_us(ts)` on a naive timestamp), and an NTZ→LTZ cast uses
  * the session zone, so a non-UTC session would silently shift every
  * derived epoch value.
  */
object Tables {
  /** All driver-provided tables. */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The fixture scan of `name`, memoized per session and fixture
    * fingerprint ([[Artifacts.memo]]). The cache holds ONLY the lazy scan
    * (schema + file index, metadata): every action still reads the
    * parquet data from disk, and the frame is never persisted, so the
    * harness's per-query `EngineSession.release` cannot invalidate it. A
    * fixture regenerated mid-session changes the fingerprint and reads
    * through a fresh file index. A lookup costs one stat of the fixture
    * plus map lookups.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    scan(spark, sfDir, name, fingerprint(sfDir, name))

  private def fingerprint(sfDir: String, name: String): String =
    Artifacts.fingerprint(sfDir, s"$name.parquet")

  private def scan(spark: SparkSession, sfDir: String, name: String, fp: String): DataFrame =
    Artifacts.memo(spark, s"$sfDir/$name", fp)(spark.read.parquet(s"$sfDir/$name.parquet"))

  /** The fixture scan of `name`, spread over the cores by a hash
    * repartition on `key` when it is narrower than them.
    *
    * Every fixture is ONE single-row-group parquet file, and a row group
    * is the unit of a parquet split, so the scan is one task whatever
    * maxPartitionBytes says: CPU-heavy map work over it (explodes, md5
    * digests, sketch and dot products) would run on one core up to the
    * first exchange. The repartition count is explicit,
    * `max(cores, spark.sql.shuffle.partitions)`: a REPARTITION_BY_NUM
    * exchange is exempt from AQE coalescing. Downstream windows and
    * aggregations on `key` reuse its hash distribution. A scan that is
    * already at least core-wide (a production table of many files or
    * row groups) is returned as is.
    *
    * Memoized beside the scan, so the width check (planning the scan's
    * RDD, free for a file scan) runs once per session and fixture
    * fingerprint.
    */
  def spread(spark: SparkSession, sfDir: String, name: String, key: String): DataFrame = {
    val fp = fingerprint(sfDir, name)
    Artifacts.memo(spark, s"$sfDir/$name+spread:$key", fp) {
      val scan0 = scan(spark, sfDir, name, fp)
      val cores = spark.sparkContext.defaultParallelism
      if (scan0.rdd.getNumPartitions >= cores) scan0
      else scan0.repartition(
        math.max(cores, spark.conf.get("spark.sql.shuffle.partitions").toInt), col(key))
    }
  }

  /** Epoch-microseconds bridge for an `events.ts` column of ANY of the
    * physical types the fixtures have shipped with. Canonical value:
    * DuckDB `epoch_us(ts)` equals this exactly at µs precision.
    */
  def tsUsExpr(tsType: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    tsType match {
      case LongType         => expr("ts DIV 1000")           // epoch-ns via nanosAsLong
      case TimestampNTZType => expr("unix_micros(cast(ts AS timestamp))") // session tz pinned UTC
      case TimestampType    => expr("unix_micros(ts)")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — extend Tables.tsUsExpr")
    }
  }

  /** `events` with the ts bridge applied: adds
    *  - `ts_us`  BIGINT epoch microseconds (canonical cross-engine value:
    *             DuckDB `epoch_us(ts)` equals this exactly), and
    *  - `ts_ts`  TimestampType (µs precision) for window()/date functions.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // memoized beside the base scans (same metadata-only rationale): the
    // bridge columns are a pure projection over the cached scan, but
    // re-deriving them re-ran analysis on every one of the many
    // events-consuming queries.
    val fp = fingerprint(sfDir, "events")
    Artifacts.memo(spark, s"$sfDir/events+bridge", fp) {
      val raw = scan(spark, sfDir, "events", fp)
      raw
        .withColumn("ts_us", tsUsExpr(raw.schema("ts").dataType))
        .withColumn("ts_ts", timestamp_micros(col("ts_us")))
    }
  }
}
