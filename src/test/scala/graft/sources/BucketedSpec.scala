package graft.sources

import graft.{Artifacts, SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BucketedSpec extends SparkSpec {

  test("bucketed fact-fact join runs shuffle-free and matches unbucketed result") {
    Bucketed.write(Tables(spark, sf, "lineitem"), "li_b", "l_orderkey", 4)
    Bucketed.write(Tables(spark, sf, "orders"), "ord_b", "o_orderkey", 4)
    val joined = Bucketed.join(spark, "li_b", "ord_b", "l_orderkey", "o_orderkey")
      .select(col("l_orderkey"), col("o_totalprice"), col("l_extendedprice"))
    assert(Bucketed.isShuffleFree(joined),
      s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan}")
    val expected = {
      val li = Tables(spark, sf, "lineitem")
      val o = Tables(spark, sf, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    }
    assert(joined.count() == expected)
  }

  test("aggregation on the bucket key reuses the bucketing (no exchange)") {
    val agg = spark.table("li_b").groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q"))
    assert(Bucketed.isShuffleFree(agg),
      s"groupBy on bucket key must not shuffle:\n${agg.queryExecution.executedPlan}")
  }

  test("q_join_bucket_colocated re-registers a fresh layout the catalog forgot, without a rewrite") {
    val fp = Artifacts.fingerprint(sf, "lineitem.parquet", "orders.parquet").take(12)
    val sides = Seq("li", "ord")
    def written = sides.map(t =>
      new java.io.File(s"${Artifacts.path(sf, "bucketed")}/$t/_SUCCESS").lastModified)
    val q = SparkEntry.queries("q_join_bucket_colocated")
    val before = q(spark, sf).collect().toSeq
    val stamps = written
    // external tables: dropping them leaves the files, as a new process finds them
    sides.foreach(t => spark.sql(s"DROP TABLE graft_bkt_${t}_$fp"))
    val again = q(spark, sf)
    assert(again.collect().toSeq == before)
    assert(written == stamps, "a fresh layout must not be rewritten")
    val plan = again.queryExecution.executedPlan.toString
    assert("""Exchange hashpartitioning\((l_orderkey|o_orderkey)""".r.findFirstIn(plan).isEmpty &&
      plan.contains("SortMergeJoin"), s"re-registered tables must join shuffle-free:\n$plan")
  }
}
