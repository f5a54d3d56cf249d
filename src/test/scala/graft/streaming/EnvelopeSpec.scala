package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §0.1 steps 1–3: the reference's actual input shape — a Lambda
  * Kinesis event envelope with base64 record payloads — must round-trip
  * through parse/explode/decode losslessly.
  */
class EnvelopeSpec extends SparkSpec {

  test("Lambda Kinesis envelope: build → parse → explode → decode is lossless") {
    // Build envelopes from real events: 1 envelope per 10 events, with the
    // event's props JSON as the base64 `data` — exactly the shape AWS hands
    // a Kinesis-triggered Lambda.
    val events = Tables.events(spark, sf).limit(100)
    val envelopes = events
      .withColumn("shard", pmod(col("event_id"), lit(10L)))
      .groupBy("shard")
      .agg(to_json(struct(collect_list(struct(
        concat(lit("shardId-0:"), col("event_id")).as("eventID"),
        struct(
          col("user_id").cast("string").as("partitionKey"),
          col("event_id").cast("string").as("sequenceNumber"),
          base64(col("props").cast("binary")).as("data")).as("kinesis")))
        .as("Records"))).as("envelope_json"))

    val ingested = Pipeline.ingestEnvelopes(envelopes, "envelope_json")
    assert(ingested.count() == 100)
    // payloads decode back to the exact original props strings
    val got = ingested
      .withColumn("event_id", split(col("record_id"), ":").getItem(1).cast("long"))
      .select("event_id", "payload")
    val orig = events.select(col("event_id"), col("props").as("payload"))
    assert(got.except(orig).isEmpty && orig.except(got).isEmpty,
      "decoded payloads must equal the original records")
    // partition key + sequence number survive
    val pk = ingested.filter(col("partition_key").isNull || col("sequence_number").isNull)
    assert(pk.isEmpty)
  }

  test("ingest feeds the routing stage end-to-end") {
    val events = Tables.events(spark, sf).limit(50)
    val envelopes = events.agg(to_json(struct(collect_list(struct(
      col("event_id").cast("string").as("eventID"),
      struct(
        col("user_id").cast("string").as("partitionKey"),
        col("event_id").cast("string").as("sequenceNumber"),
        base64(col("event_type").cast("binary")).as("data")).as("kinesis")))
      .as("Records"))).as("envelope_json"))
    val routed = graft.ops.Etl.withRoute(
      Pipeline.ingestEnvelopes(envelopes, "envelope_json")
        .withColumn("event_type", col("payload")))
    assert(routed.filter(col("route").isNull).isEmpty)
    assert(routed.count() == 50)
  }

  test("envelope edge cases give explode's rows: none for an empty, null or bad envelope") {
    import spark.implicits._
    def rec(id: String, kinesis: String) = s"""{"eventID":"$id","kinesis":$kinesis}"""
    def kin(pk: String, seq: String, data: String) =
      s"""{"partitionKey":"$pk","sequenceNumber":"$seq","data":"$data"}"""
    val lines = Seq(
      """{"Records":[]}""",
      """{"Records":null}""",
      "{}",
      "not json",
      null,
      """{"Records":[null]}""",
      s"""{"Records":[${rec("e1", "null")}]}""",
      // no base64 character at all: decodes to an empty payload
      s"""{"Records":[${rec("e2", kin("p", "7", "%%%"))}]}""",
      s"""{"Records":[${rec("e3", kin("p", "8", "aGVsbG8="))},${rec("e4", kin("q", "9", "d29ybGQ="))}]}""")
    def rows(ls: Seq[String]) =
      Pipeline.ingestEnvelopes(ls.toDF("line").repartition(3), "line")
        .collect().map(r => (0 until 4).map(i => Option(r.getString(i)))).toSet
    assert(rows(lines) == Set(
      Seq(None, None, None, None),
      Seq(Some("e1"), None, None, None),
      Seq(Some("e2"), Some("p"), Some("7"), Some("")),
      Seq(Some("e3"), Some("p"), Some("8"), Some("hello")),
      Seq(Some("e4"), Some("q"), Some("9"), Some("world"))))
    assert(Pipeline.ingestEnvelopes(lines.toDF("line"), "line").count() == 5)
    // a payload that is not base64 (9 alphabet characters leave a lone
    // last unit) fails the query, as it did under explode
    val bad = s"""{"Records":[${rec("e5", kin("p", "1", "not base64"))}]}"""
    intercept[org.apache.spark.SparkException](rows(Seq(bad)))
  }
}
