package graft.ops

import graft.SparkSpec
import graft.streaming.{Batcher, Pipeline}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Round-4 ETL scale surface: config-driven routing (batch + streaming)
  * and the full PutRecordBatch byte contract of `batchAssign`, tied to
  * the greedy reference planner [[Batcher]] on the same inputs.
  */
class EtlScaleSpec extends SparkSpec {

  test("withRoute: swapping the routing table re-routes without recompiling") {
    import spark.implicits._
    // behind an exchange, so the routing projection runs in generated code
    // (a projection over a local relation is folded on the driver)
    val events = Seq("click", "view", "error", "refund")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("event_id", "event_type")
      .repartition(2)
    def routes(rules: Seq[(String, String)], fallback: String) =
      Etl.withRoute(events, rules, fallback).select("event_type", "route")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // default table: click/view → analytics, error → errors, unmapped → default
    val def_ = routes(Etl.DefaultRoutes, Etl.DefaultStream)
    assert(def_ == Map("click" -> "analytics", "view" -> "analytics",
      "error" -> "errors", "refund" -> "default"))
    // swapped table: clicks isolated, refunds mapped, new fallback. The
    // table and the fallback are referenced literals in the generated
    // code, so the warm class serves the new table as it is.
    val c0 = compiles
    val custom = routes(Seq("click" -> "clickstream", "refund" -> "finance"), "other")
    assert(custom == Map("click" -> "clickstream", "refund" -> "finance",
      "view" -> "other", "error" -> "other"))
    assert(compiles - c0 == 0, s"the swapped table compiled ${compiles - c0} classes")
  }

  test("withRoute keeps the USING-join column order and rejects duplicate keys") {
    import spark.implicits._
    val df = Seq((1L, "click", 2.0)).toDF("event_id", "event_type", "value")
    assert(Etl.withRoute(df).columns.toSeq == Seq("event_type", "event_id", "value", "route"))
    val e = intercept[IllegalArgumentException](
      Etl.withRoute(df, rules = Seq("click" -> "a", "view" -> "b", "click" -> "c")))
    assert(e.getMessage.contains("duplicate event_type keys: click"))
    // a null event type takes the fallback, as an unmatched left join did
    val nullType = Seq((1L, null: String)).toDF("event_id", "event_type")
    assert(Etl.withRoute(nullType).select("route").as[String].collect().toSeq == Seq("default"))
  }

  test("Pipeline.route applies a custom routing table on a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Pipeline.Event]
    val q = Pipeline.route(mem.toDF(),
        rules = Seq("purchase" -> "finance"), fallback = "other")
      .writeStream.format("memory").queryName("routed_custom")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-route").toString)
      .start()
    mem.addData(
      Pipeline.Event(1L, 0L, 1L, "purchase", 1.0, "{}"),
      Pipeline.Event(2L, 0L, 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val routes = spark.table("routed_custom")
      .select("event_id", "route")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(routes == Map(1L -> "finance", 2L -> "other"))
  }

  // ---- batchAssign: the closed-form PutRecordBatch contract ------------

  /** Run batchAssign over synthetic (id, size) records on one route, with
    * ts spread across hour shards so the two-phase numbering engages.
    */
  private def assign(recs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val df = recs.zipWithIndex.map { case ((id, sz), i) =>
      ("r", i.toLong * 600L * 1000000L, id, sz) // one record per 10 min
    }.toDF("route", "ts_us", "event_id", "nbytes")
    Etl.batchAssign(df)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  test("batchAssign enforces BOTH caps when the byte budget binds") {
    // 10 records of 900 KiB: the 500-record cap never binds, the byte cap
    // must — proof the 4 MiB rule is enforced in-engine, not just never
    // violated by small fixture payloads.
    val recs = (1L to 10L).map(id => (id, 900L * 1024))
    val out = assign(recs)
    val normal = out.filter(_._2 >= 0)
    assert(normal.length > 1, "byte cap must split 9 MB of records into several batches")
    assert(normal.forall(_._4 <= Batcher.MaxBatchBytes),
      s"batch bytes over 4 MiB: $normal")
    assert(normal.map(_._3).sum == 10L)
  }

  test("batchAssign matches Batcher.plan's partition and respects the same caps (property)") {
    // Like BatcherSpec's generator: realistic payloads + oversized outliers.
    val recGen: Gen[(Long, Long)] = for {
      id <- Gen.choose(0L, 1000000L)
      sz <- Gen.frequency(
        6 -> Gen.choose(1L, 64 * 1024L),
        3 -> Gen.choose(256L * 1024, 1100L * 1024),
        1 -> Gen.choose(1100L * 1024, 2048L * 1024))
    } yield (id, sz)
    // few, larger trials: each evaluation is a Spark job
    val p = Prop.forAll(Gen.listOfN(40, recGen)) { recs =>
      val out = assign(recs)
      val normal = out.filter(_._2 >= 0)
      val dead = out.filter(_._2 == -1L)
      val plan = Batcher.plan(recs)(_._2)
      // identical oversize partition
      (dead.map(_._3).sum == plan.oversized.size.toLong) &&
      (normal.map(_._3).sum == plan.batches.map(_.size.toLong).sum) &&
      // same caps as the greedy planner — never violated
      normal.forall(b => b._3 <= Batcher.MaxRecordsPerBatch &&
        b._4 <= Batcher.MaxBatchBytes) &&
      // dense ids 0..m-1
      normal.map(_._2).sorted.sameElements(normal.indices.map(_.toLong))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("ohlc property: struct-extremum bars equal a brute-force reference on random event tables") {
    import spark.implicits._
    // rows deliberately collide on (type, bar) and on ts within a bar so
    // the (ts, event_id) tie-break is exercised; event_id is unique
    val rowGen = for {
      ts <- Gen.choose(0L, 5L * 3600000000L) // ~5 bars
      tpe <- Gen.oneOf("a", "b")
      v <- Gen.choose(-1000, 1000).map(_ / 10.0)
    } yield (ts, tpe, v)
    val p = Prop.forAll(Gen.listOfN(60, rowGen)) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((ts, t, v), i) => (ts, i.toLong, t, v) }
      val df = rows.toDF("ts_us", "event_id", "event_type", "value")
      val got = graft.ops.Aggregates.ohlcFrom(df)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toMap
      val want = rows.groupBy { case (ts, _, t, _) => (t, ts / 3600000000L) }
        .map { case (k, g) =>
          val sorted = g.sortBy { case (ts, id, _, _) => (ts, id) }
          k -> (sorted.head._4, g.map(_._4).max, g.map(_._4).min,
            sorted.last._4, g.size.toLong)
        }
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("streak property: islands election equals a brute-force longest-run scan") {
    import spark.implicits._
    val rowGen = for {
      u <- Gen.choose(1L, 5L)
      d <- Gen.choose(0L, 20L)
    } yield (u, d)
    val p = Prop.forAll(Gen.listOfN(50, rowGen)) { rows0 =>
      val rows = rows0.distinct
      val got = graft.ops.Windows.streakFrom(rows.toDF("user_id", "day"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val want = rows.groupBy(_._1).map { case (u, g) =>
        val ds = g.map(_._2).distinct.sorted
        // split into maximal consecutive runs
        val runs = ds.foldLeft(List.empty[List[Long]]) {
          case (acc @ (h :: t), d) if h.nonEmpty && d == h.head + 1 => (d :: h) :: t
          case (acc, d) => List(d) :: acc
        }.map(_.reverse).reverse
        val best = runs.map(r => (r.length.toLong, r.head))
          .maxBy { case (len, start) => (len, -start) }
        u -> (best._1, best._2, runs.length.toLong)
      }
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("withShardOffsets: the sharded running sum equals one global window") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // shard = v DIV 4: the ties of v = 3 and v = 4 sit on either side of a
    // shard boundary, no v falls in [8, 12) (an empty shard), and the null
    // x count as zero, as the hop's COALESCE'd byte counts do
    val rows = Seq[(String, Long, Long, Option[Long])](
      ("a", 3, 1, Some(5L)), ("a", 3, 2, None), ("a", 4, 3, Some(7L)), ("a", 4, 4, Some(1L)),
      ("a", 0, 5, Some(2L)), ("a", 13, 6, None), ("a", 12, 7, Some(9L)), ("a", 7, 8, Some(4L)),
      ("b", 4, 9, Some(3L)), ("b", 3, 10, Some(6L)), ("b", 14, 11, Some(8L)), ("b", 3, 12, None))
    val df = rows.toDF("g", "v", "id", "x0").repartition(3)
      .withColumn("x", coalesce(col("x0"), lit(0L)))
      .withColumn("shard", expr("v DIV 4"))
    for (keys <- Seq(Seq("g"), Nil); upTo <- Seq(Window.currentRow, -1L)) {
      def frame(by: Seq[String]) = Window.partitionBy(by.map(col): _*).orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, upTo)
      val want = df.select(col("id"), coalesce(sum("x").over(frame(keys)), lit(0L)).as("cum"),
        row_number().over(frame(keys).rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rn"))
      val got = Windows.withShardOffsets(df, keys, "shard",
          "off" -> sum("x").as("_t"), "off_n" -> count(lit(1)).as("_n"))
        .select(col("id"),
          (col("off") + coalesce(sum("x").over(frame(keys :+ "shard")), lit(0L))).as("cum"),
          (col("off_n") + row_number().over(frame(keys :+ "shard")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))).as("rn"))
      def rowsOf(f: org.apache.spark.sql.DataFrame) =
        f.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(rowsOf(got) == rowsOf(want), s"keys $keys, frame end $upTo")
    }
  }
}
