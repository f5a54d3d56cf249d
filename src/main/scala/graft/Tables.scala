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

  /** Per-session metadata cache for the fixture tables.
    *
    * `spark.read.parquet` pays file listing + footer schema inference on
    * EVERY call (~65-90 ms each measured on this box) — with ~270 queries
    * × 3 bench passes × 1-5 table reads each, that metadata tax alone was
    * tens of seconds per bench run. Production Spark amortizes it through
    * the session catalog (a registered table resolves schema + file list
    * once); the fixtures are immutable driver inputs, so the same
    * amortization is correct here. The cache holds ONLY the lazy scan
    * DataFrame (schema + file index — metadata): every action still reads
    * the parquet data from disk, nothing row-shaped is memoized, and the
    * frame is never persisted/checkpointed so Bench's per-query
    * clearCache/unpersist hygiene cannot invalidate it.
    *
    * Keying (both ADVICE r13 items): the outer key is the session UUID
    * string, not the session object — a WeakHashMap keyed on the session
    * whose values reference that same session could never evict, so the
    * weak keying was theater. The inner key carries the fixture file
    * FINGERPRINT ((name, length, mtime) — the [[ops.AnnIndex.fingerprint]]
    * rule, a stat call per lookup), so a fixture regenerated mid-session
    * reads through a FRESH file index instead of the stale one; the
    * artifact layer's rebuild-on-regeneration claim stays honest.
    */
  private val metaCache =
    new scala.collection.concurrent.TrieMap[
      String,
      scala.collection.concurrent.TrieMap[(String, String, String), DataFrame]]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val uid = org.apache.spark.sql.graftnative.SessionUid.of(spark)
    val perSession = metaCache.getOrElseUpdate(uid, {
      // first touch of this session: pin the engine-semantics runtime
      // confs once (nanosAsLong BEFORE any events read — see the class
      // doc) instead of per call. Routed through EngineSession so a
      // driver-provided session runs under the same semantics the
      // harness sessions were measured with.
      EngineSession.tune(spark)
      scala.collection.concurrent.TrieMap.empty
    })
    perSession.getOrElseUpdate(
      (sfDir, name, ops.AnnIndex.fingerprint(sfDir, s"$name.parquet")),
      spark.read.parquet(s"$sfDir/$name.parquet"))
  }

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
    val scan = apply(spark, sfDir, name) // also initializes the session map
    val perSession =
      metaCache(org.apache.spark.sql.graftnative.SessionUid.of(spark))
    perSession.getOrElseUpdate(
      (sfDir, s"$name+spread:$key", ops.AnnIndex.fingerprint(sfDir, s"$name.parquet")), {
        val cores = spark.sparkContext.defaultParallelism
        if (scan.rdd.getNumPartitions >= cores) scan
        else scan.repartition(
          math.max(cores, spark.conf.get("spark.sql.shuffle.partitions").toInt), col(key))
      })
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
    val raw = apply(spark, sfDir, "events") // also initializes the session map
    val perSession =
      metaCache(org.apache.spark.sql.graftnative.SessionUid.of(spark))
    perSession.getOrElseUpdate(
      (sfDir, "events+bridge", ops.AnnIndex.fingerprint(sfDir, "events.parquet")),
      raw
        .withColumn("ts_us", tsUsExpr(raw.schema("ts").dataType))
        .withColumn("ts_ts", timestamp_micros(col("ts_us"))))
  }
}
