package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Map-side parallelism for scan-rooted frames. Every fixture table is
  * ONE single-row-group parquet file, so every scan is one task whatever
  * maxPartitionBytes says, and CPU-heavy map work over it (md5 digests,
  * sketch and dot products) runs on one core up to the first exchange.
  * Stages AFTER an exchange need nothing here: [[graft.EngineSession]]'s
  * AQE partition-size floor keeps byte-light exchanges at core width.
  */
private[graft] object Par {

  /** Hash repartition to core width (never below the session's shuffle
    * width), only when the frame is narrower than the core count — a
    * production-scale scan is already wide and is left alone. The
    * explicit count (REPARTITION_BY_NUM) is exempt from AQE coalescing.
    *
    * Contract: `df` must be SCAN-ROOTED (no exchange below it). The width
    * check reads `df.rdd`, which is free over a file scan but, on a frame
    * holding an exchange, runs the upstream query stages as jobs at
    * query-build time.
    */
  def byCores(df: DataFrame, cols: Column*): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else {
      val shuffle = scala.util.Try(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(0)
      df.repartition(math.max(cores, shuffle), cols: _*)
    }
  }
}
