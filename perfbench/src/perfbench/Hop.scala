package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Batcher, FirehoseSink, Pipeline}
import Main.{PassResult, Settings}

/** `hop_bulk`: the Kinesis→Firehose hop on its real input shape, drained
  * closed-loop. Copies of `events` with shifted `event_id`s are written
  * before the window as Lambda/Kinesis envelope JSON lines: the seed deals
  * the records into envelopes of `EnvelopeRecords` base64 JSON payloads,
  * one file of 100k records per copy. Each pass starts a fresh
  * `Trigger.AvailableNow` query (own checkpoint, own sink output) that
  * takes one file per micro-batch, decodes it with
  * `Pipeline.ingestEnvelopes` and `from_json`, routes it with
  * `Pipeline.route` and delivers it with `FirehoseSink.process`.
  *
  * The failure schedule belongs to the benchmark: `event_id % FailEvery
  * == 0` fails its first attempt and `% (10 * FailEvery) == 0` every
  * attempt. A pass is correct when delivered ∪ dead is exactly its
  * input, each `event_id` lands once, the dead set is exactly the
  * permanent failures, the routes are {analytics, transactions, errors},
  * and every file made its own micro-batch.
  */
final class Hop(spark0: SparkSession, s: Settings) extends Main.Workload {
  import Hop._

  private val name = "hop_bulk"
  private var spark = spark0
  private val runDir = s("run_dir")
  private val dir = Paths.get(s"$runDir/stage/$name")
  private var exp = Expect(0L, 0L, 0L, 0L)

  private def outDir(pass: Int): String = s"$runDir/work/out/pass=$pass"
  private def ckptDir(pass: Int): String = s"$runDir/work/ckpt/pass-$pass"

  private def permanent(id: Long): Boolean = id % (FailEvery * 10) == 0
  private def permanent(id: Column): Column = id % (FailEvery * 10) === 0

  def stage(): Unit = {
    val t0 = System.nanoTime()
    val raw = graft.Tables(spark, s("data_dir"), "events")
    val events = raw.select(col("event_id"),
        graft.Tables.tsUsExpr(raw.schema("ts").dataType).as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect().sortBy(_.getLong(0)).toVector
    val dealt = new scala.util.Random(s.long("seed")).shuffle(events)
    val copies = Copies
    Files.createDirectories(dir)
    val json = new com.fasterxml.jackson.core.JsonFactory()
    val b64 = java.util.Base64.getEncoder
    // One writer thread per file.
    val writers = (0 until copies).map(c => new Thread(() => {
      val w = Files.newBufferedWriter(dir.resolve(f"env-$c%02d.json"))
      try dealt.grouped(EnvelopeRecords).foreach { env =>
        val g = json.createGenerator(w)
        g.writeStartObject()
        g.writeArrayFieldStart("Records")
        env.foreach { e =>
          val id = e.getLong(0) + c * CopyShift
          val payload = new java.io.StringWriter()
          val p = json.createGenerator(payload)
          p.writeStartObject()
          p.writeNumberField("event_id", id)
          p.writeNumberField("ts_us", e.getLong(1))
          p.writeNumberField("user_id", e.getLong(2))
          p.writeStringField("event_type", e.getString(3))
          p.writeNumberField("value", e.getDouble(4))
          p.writeStringField("props", e.getString(5))
          p.writeEndObject()
          p.close()
          g.writeStartObject()
          g.writeStringField("eventID", s"shardId-000000000000:$id")
          g.writeObjectFieldStart("kinesis")
          g.writeStringField("partitionKey", e.getLong(2).toString)
          g.writeStringField("sequenceNumber", id.toString)
          g.writeStringField("data", b64.encodeToString(payload.toString.getBytes("UTF-8")))
          g.writeEndObject()
          g.writeEndObject()
        }
        g.writeEndArray()
        g.writeEndObject()
        g.flush()
        w.write('\n')
      } finally w.close()
    }))
    writers.foreach(_.start())
    writers.foreach(_.join())
    exp = (0 until copies).flatMap(c => events.map(_.getLong(0) + c * CopyShift))
      .foldLeft(Expect(0L, 0L, 0L, 0L)) { (e, id) =>
        Expect(e.n + 1, e.idSum + id,
          e.hashSum + org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42),
          e.dead + (if (permanent(id)) 1 else 0))
      }
    Main.log(f"$name staged $copies files of ${events.size} records " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  private def decode(envelopes: DataFrame): DataFrame =
    Pipeline.ingestEnvelopes(envelopes, "value")
      .select(from_json(col("payload"), PayloadSchema).as("e")).select("e.*")

  def pass(i: Int): PassResult = {
    val out = outDir(i)
    val sinkMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    val t0 = System.nanoTime()
    val q = Pipeline.route(decode(spark.readStream.option("maxFilesPerTrigger", 1).text(dir.toString)))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir(i))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        spark.sparkContext.setJobDescription(s"$name / $batchId")
        val st = System.nanoTime()
        FirehoseSink.process(batch, batchId, out, FailEvery)
        sinkMs.add((System.nanoTime() - st) / 1e6)
        ()
      }
      .start()
    q.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0).toVector
    def phase(p: String): Vector[Double] =
      progress.map(pr => Option(pr.durationMs.get(p)).map(_.toDouble).getOrElse(0.0))
    val trig = phase("triggerExecution")
    val named = Phases.map { case (k, _) => phase(k) }
    val other = trig.indices.map(b => trig(b) - named.map(_(b)).sum)
    val sink = sinkMs.asScala.map(_.doubleValue).toVector
    val outFiles = Files.walk(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector
    val layers = Phases.map { case (k, m) => m -> Main.median(phase(k)) }.toMap ++ Map(
      "microbatch.other_ms" -> Main.median(other),
      "microbatch.other_share" -> other.sum / trig.sum,
      "sink.process_ms" -> Main.median(sink),
      "sink.process_share" -> sink.sum / trig.sum,
      "sink.files_per_batch" -> outFiles.size.toDouble / progress.size,
      "sink.bytes_per_record" -> outFiles.map(Files.size(_)).sum.toDouble / exp.n)
    PassResult(wallS, progress.map(p => s"batch ${p.batchId}").zip(trig), exp.n, 0, "", layers)
  }

  def check(passes: Seq[(Int, PassResult)]): Seq[PassResult] = {
    val ran = passes.filter(_._2.ok)
    val id = col("event_id")
    // Every pass's output in one scan: `pass` is a partition column. The
    // distinct count is an aggregation of its own; next to the others it
    // would make Spark expand every row.
    val got = if (ran.isEmpty) Map.empty[Long, Row] else {
      val out = spark.read.parquet(s"$runDir/work/out")
        .where(col("pass").isin(ran.map(_._1): _*))
        .withColumn("pass", col("pass").cast("long"))
      val sums = out.groupBy("pass").agg(count(lit(1)).as("n"), sum(id).as("id_sum"),
        sum(hash(id).cast("long")).as("hash_sum"),
        sum(when(col("status") === "dead", 1L).otherwise(0L)).as("dead"),
        sum(when(col("status").isin("delivered", "dead") &&
          ((col("status") === "dead") === permanent(id)), 0L).otherwise(1L)).as("wrong"),
        sort_array(collect_set(col("route"))).as("routes"))
      val distinct = out.groupBy("pass").agg(countDistinct(id).as("distinct"))
      sums.join(distinct, "pass")
        .select("pass", "n", "distinct", "id_sum", "hash_sum", "dead", "wrong", "routes")
        .collect().map(r => r.getLong(0) -> r).toMap
    }
    passes.foreach { case (i, _) =>
      deleteTree(Paths.get(outDir(i)))
      deleteTree(Paths.get(ckptDir(i)))
    }
    passes.map { case (i, r) =>
      if (!r.ok) r
      else {
        val problems = got.get(i.toLong).map(verify(_, r.opsMs.size)).getOrElse(Seq("no sink output"))
        r.copy(failed = if (problems.isEmpty) 0 else math.max(1, r.opsMs.size),
          detail = problems.mkString("; "))
      }
    }
  }

  private def verify(r: Row, batches: Int): Seq[String] = {
    val got = Expect(r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))
    val routes = r.getSeq[String](7).toSet
    Seq(
      (got != exp) -> s"got $got, want $exp",
      (r.getLong(2) != exp.n) -> s"${r.getLong(2)} distinct event_ids of ${exp.n}",
      (r.getLong(6) != 0) -> s"${r.getLong(6)} records with the wrong status",
      (routes != Routes) -> s"routes $routes",
      (batches != Copies) -> s"$batches micro-batches for $Copies files")
      .collect { case (true, msg) => msg }
  }

  /** Sink jobs carry the benchmark's label; the engine's own micro-batch
    * jobs carry Spark's streaming description, which names the batch.
    */
  def named(desc: String): Boolean = desc.startsWith(s"$name / ") || desc.contains("\nbatch = ")

  def passLayers(r: PassResult, snap: Trace.Snapshot): Map[String, Double] =
    Map("sink.jobs_per_batch" ->
      snap.jobs.count(_.desc.startsWith(s"$name / ")).toDouble / r.opsMs.size)

  def extras(): (Map[String, Double], Seq[PassResult]) = {
    val krec = exp.n / 1000.0
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    // Decode is timed from the staged files; routing over a cached copy of
    // the decoded rows, less the time to scan that copy (the cache matches
    // by plan, so decode is timed before caching).
    val src = decode(spark.read.text(dir.toString))
    val decodeMs = Main.median((1 to 3).map(_ => noop(src)))
    val decoded = src.cache()
    decoded.count()
    val routeMs = Main.median((1 to 3).map(_ => noop(Pipeline.route(decoded)) - noop(decoded)))
    val records = Pipeline.route(decoded).select(col("event_id"), col("route"), col("props"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toVector
    decoded.unpersist()
    val layers = Map(
      "pipeline.decode_ms_per_krec" -> decodeMs / krec,
      "pipeline.route_ms_per_krec" -> routeMs / krec) ++ deliverHarness(records)
    val single = oneCore()
    // A wrong drain gives no baseline; its failure is counted by the caller.
    val baseline =
      if (single.forall(_.ok))
        Map("scale.hop_bulk_1core_records_per_s" -> single.last.records / single.last.wallS)
      else Map.empty[String, Double]
    (layers ++ baseline, single)
  }

  /** `Batcher.deliver` on the workload's own records, grouped by route and
    * cut into the sink's chunks, under the same failure schedule.
    */
  private def deliverHarness(records: Vector[(Long, String, String)]): Map[String, Double] = {
    val chunks = records.sortBy(_._2).grouped(FirehoseSink.DeliverChunkRecords).toVector
    def once(): (Double, Int, Long, Int, Int) = {
      val failedOnce = scala.collection.mutable.Set.empty[Long]
      var calls = 0
      var sent = 0L
      var dead = 0
      val t0 = System.nanoTime()
      chunks.foreach { chunk =>
        val o = Batcher.deliver(chunk, FirehoseSink.MaxAttempts)(r =>
          if (r._3 == null) 0L else r._3.getBytes("UTF-8").length.toLong) { b =>
          calls += 1
          sent += b.size
          b.map { case (id, _, _) => !(permanent(id) || (id % FailEvery == 0 && failedOnce.add(id))) }
        }
        dead += o.dead.size
      }
      ((System.nanoTime() - t0).toDouble, calls, sent, dead, failedOnce.size)
    }
    val runs = (1 to 5).map(_ => once())
    val (_, calls, sent, dead, transient) = runs.last
    val n = records.size.toDouble
    Map(
      "batcher.ns_per_record" -> Main.median(runs.map(_._1)) / n,
      "batcher.calls_per_krec" -> calls / (n / 1000),
      "batcher.fill" -> sent.toDouble / calls / Batcher.MaxRecordsPerBatch,
      "batcher.retried_share" -> (transient + dead) / n,
      "batcher.dead_share" -> dead / n)
  }

  /** Two checked drains on a one-core session, a warm-up and the scaling
    * baseline. Replaces this workload's session; the run ends after it.
    */
  private def oneCore(): Seq[PassResult] = {
    spark.stop()
    spark = Main.session(s, 1)
    val rs = check(Seq(-2 -> pass(-2), -1 -> pass(-1)))
    rs.zip(Seq(-2, -1)).foreach { case (r, i) =>
      Main.log(f"$name one-core drain $i: ${r.wallS}%.3f s ${if (r.ok) "ok" else "FAILED " + r.detail}")
    }
    spark.stop()
    rs
  }
}

object Hop {
  final case class Expect(n: Long, idSum: Long, hashSum: Long, dead: Long)

  val Routes = Set("analytics", "transactions", "errors")

  /** Staged files, one micro-batch of 100k records each. */
  val Copies = 2

  /** Kinesis records per Lambda envelope. */
  val EnvelopeRecords = 100

  /** The failure schedule: `% FailEvery` transient, `% (10 * FailEvery)` permanent. */
  val FailEvery = 7L

  /** Keeps `event_id % (10 * FailEvery)` of every copy equal to the original's. */
  val CopyShift = 700000000L

  val PayloadSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** `StreamingQueryProgress.durationMs` phases and their metric names. */
  val Phases = Seq(
    "latestOffset" -> "microbatch.latest_offset_ms",
    "queryPlanning" -> "microbatch.query_planning_ms",
    "walCommit" -> "microbatch.wal_commit_ms",
    "commitOffsets" -> "microbatch.commit_offsets_ms",
    "addBatch" -> "microbatch.add_batch_ms",
    "getBatch" -> "microbatch.get_batch_ms")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)
}
