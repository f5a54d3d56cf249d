package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (builder brief / SURVEY §2.11): image/audio/video are
  * opaque `binary` columns with typed metadata travelling next to them.
  *
  * The fixtures ship no real media, so the payload is synthesized
  * deterministically from `documents.text` (cast to binary) — the point is
  * the Spark-side plumbing: schema shape, per-partition batched decode,
  * metadata propagation, frame explosion. The decode itself is a
  * clearly-marked stub (see [[Multimodal.decodeStub]]); swapping in a real
  * JNI/ffmpeg/JPEG decoder changes one function, not the pipeline.
  *
  * Scale design: decode/feature-extract runs inside `mapPartitions` (the
  * Scala analogue of arrow-batched `mapInPandas`) so the expensive step is
  * executor-parallel, streams partition iterators without materializing
  * them, and never touches the driver. Frame sampling bounds output
  * cardinality by `maxFrames`, so the explode cannot amplify 100 TB of
  * video into an unbounded row count.
  */
object Multimodal {

  /** Typed metadata carried alongside every binary payload. */
  final case class AssetMeta(doc_id: Long, format: String, n_bytes: Long, magic: String)

  /** Typed decoded-feature row produced by the batched decode stage. */
  final case class AssetFeatures(
      doc_id: Long, format: String, n_bytes: Long, features: Array[Float])

  /** Assets table: opaque payload + typed metadata columns. Format is
    * assigned deterministically (doc_id mod 3) since the corpus carries no
    * real media type.
    */
  def assets(s: SparkSession, dir: String): DataFrame =
    assetsOf(Tables(s, dir, "documents"))

  /** [[assets]] over a given documents scan (e.g. a [[Tables.spread]] one). */
  private def assetsOf(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 'image' " +
          "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END").as("format"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("magic", expr("substr(hex(payload), 1, 8)"))

  /** STUB — stands in for the real media decoder (libjpeg/ffmpeg/...),
    * which is not present in this container. Deterministic: folds payload
    * bytes into `dim` float accumulators. The real implementation would
    * decode pixels/samples here and emit genuine features; everything
    * around it (batching, schema, partitioning) is production-shaped.
    */
  def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val acc = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      acc(i % dim) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    acc
  }

  /** Batched per-partition decode + feature extraction. */
  def decodeFeatures(s: SparkSession, dir: String, dim: Int = 8): Dataset[AssetFeatures] = {
    import s.implicits._
    assets(s, dir)
      .select(col("doc_id"), col("payload"), col("format"), col("n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { batch =>
        // One decoder instance per partition (a real decoder would be
        // expensive to construct — this is where it would be reused).
        batch.map { case (id, payload, fmt, n) =>
          AssetFeatures(id, fmt, n, decodeStub(payload, dim))
        }
      }
  }

  /** Resize stub: clamps the payload to `targetBytes` (a real image resize
    * would re-encode; metadata is recomputed either way).
    */
  def resize(df: DataFrame, targetBytes: Int): DataFrame =
    df.withColumn("payload", expr(s"substring(payload, 1, $targetBytes)"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))

  /** Frame sampling: every `stride`-th 16-hex-char block of the payload is
    * "a frame", capped at `maxFrames` — the bounded-output explode shape
    * real video frame-sampling needs at scale.
    */
  def frameSample(df: DataFrame, stride: Int, maxFrames: Int): DataFrame = {
    val block = 16 * stride
    df.withColumn("hx", hex(col("payload")))
      .withColumn("nf", expr(s"least(CAST(length(hx) DIV $block AS INT), $maxFrames)"))
      .filter(col("nf") >= 1) // guard: sequence(0, -1) would step backward
      .withColumn("frame_idx", explode(expr("sequence(0, nf - 1)")))
      .withColumn("frame", expr(s"substr(hx, frame_idx * $block + 1, 16)"))
      .drop("hx", "nf")
  }

  // ------------------------------------------------------------ t2 queries

  private val qMultimodalMeta = Q(
    "q_multimodal_meta",
    (s, dir) =>
      assets(s, dir)
        .select(col("doc_id"), col("format"), col("n_bytes"), col("magic"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'image'
                 WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
            CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
            substr(hex(CAST(text AS BLOB)), 1, 8) AS magic
            FROM documents ORDER BY doc_id"""))

  private val qMultimodalFrames = Q(
    "q_multimodal_frames",
    (s, dir) =>
      frameSample(assets(s, dir).filter(col("format") === "video"), stride = 4, maxFrames = 5)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"), col("frame"))
        .orderBy("doc_id", "frame_idx"),
    Some("""WITH v AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx
                       FROM documents WHERE doc_id % 3 = 2)
            SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
                   substr(hx, CAST(i * 64 + 1 AS INT), 16) AS frame
            FROM v, unnest(range(0, least(length(hx) // 64, 5))) u(i)
            ORDER BY doc_id, frame_idx"""))

  /** Exact content dedup over the binary payload — the "same image
    * uploaded twice" story, format-scoped (an image dup of an audio
    * payload is not a dup). Payloads are keyed by md5 of their hex form
    * (string-md5 parity between the engines is already load-bearing in
    * §2.11), the min doc_id is elected per distinct payload, and the
    * per-format audit row carries a kept-id checksum pinning exact
    * survivor membership.
    *
    * Scale shape: two stacked hash aggregations, both map-side
    * combinable — (format, h) then format — so a payload duplicated a
    * million times combines inside each map task and the shuffle carries
    * one row per distinct payload per partition. No window, no join.
    */
  private val qMultimodalDedup = Q(
    "q_multimodal_dedup",
    (s, dir) =>
      assets(s, dir)
        .withColumn("h", md5(expr("CAST(hex(payload) AS BINARY)")))
        .groupBy("format", "h")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
        .groupBy("format")
        .agg(
          sum("n").as("n_assets"),
          count(lit(1)).as("n_distinct"),
          (sum("n") - count(lit(1))).as("n_dups"),
          sum("keep_id").as("kept_id_sum"))
        .orderBy("format"),
    Some("""WITH a AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
              md5(hex(CAST(text AS BLOB))) AS h
             FROM documents),
            g AS (SELECT format, h, COUNT(*) AS n, MIN(doc_id) AS keep_id
                  FROM a GROUP BY format, h)
            SELECT format, CAST(SUM(n) AS BIGINT) AS n_assets,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dups,
             CAST(SUM(keep_id) AS BIGINT) AS kept_id_sum
            FROM g GROUP BY format ORDER BY format"""))

  /** Perceptual-hash-style NEAR-dup over the binary payloads — the "same
    * video re-encoded / truncated" story exact content dedup can't see:
    * each asset's sampled frames (the q_multimodal_frames tiling, all
    * formats) are folded into one 64-bit SimHash fingerprint
    * ([[Llm.simhash64Over]] — the text family's spelling, applied to
    * frame hashes instead of token hashes; a REAL pHash would drop in at
    * the frame-hash step exactly as a real decoder drops into
    * [[decodeStub]]), then near pairs are found by the banded search:
    * 4×16-bit bands, format-scoped, occupancy-capped, full Hamming ≤ 3
    * verify. Because the fingerprint sees only SAMPLED frames, two
    * assets differing outside the sampled blocks still collide — the
    * compression-robustness property sampling buys at 100 TB of video.
    *
    * Scale shape: frame sampling bounds rows at 5/asset; the signature
    * fold is two map-combinable integer aggs; candidates come from a
    * (format, band-slot, band) equi-join with the [[Llm.BandBucketCap]]
    * occupancy discipline — never an all-pairs comparison.
    */
  private val qMultimodalPhash = Q(
    "q_multimodal_phash",
    (s, dir) => {
      // spread: the hex + frame explode + per-frame md5 + simhash fold
      val fr = frameSample(assetsOf(Tables.spread(s, dir, "documents", "doc_id")),
          stride = 4, maxFrames = 5)
        .select(col("doc_id"), col("format"), col("frame"))
        .withColumn("h", md5(col("frame").cast("binary")))
      val sig = Llm.simhash64Over(
        fr.select("doc_id", "format", "h"), Seq("doc_id", "format"))
      val bands = Llm.dropHotKeys(
        sig.select(col("doc_id"), col("format"), col("simhash"),
            explode(expr("sequence(0, 3)")).as("k"))
          .withColumn("band", expr("(simhash >> CAST(k * 16 AS INT)) & 65535")),
        Seq("format", "k", "band"), Llm.BandBucketCap)
      // hamming computed in-stage on the band join and the ≤3 filter run
      // BEFORE the pair dedup, so the distinct() shuffles only the hits
      // (the q_dedup_embed fold: dedup commutes with a deterministic
      // pair function + filter); the raw candidate stream never exchanges
      bands.as("a").join(bands.as("b"),
          col("a.format") === col("b.format") && col("a.k") === col("b.k") &&
            col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.format").as("format"), col("a.doc_id").as("d1"),
          col("b.doc_id").as("d2"),
          expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy("format", "d1", "d2")
    },
    Some("""WITH a AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS format,
              hex(CAST(text AS BLOB)) AS hx
             FROM documents),
            fr AS (SELECT doc_id, format,
                    substr(hx, CAST(i * 64 + 1 AS INT), 16) AS frame
                   FROM a, unnest(range(0, least(length(hx) // 64, 5))) u(i)),
            bt AS (SELECT doc_id, format, j,
                    SUM((((instr('0123456789abcdef', substr(md5(frame), CAST(j // 4 AS INT) + 1, 1)) - 1)
                         >> CAST(3 - j % 4 AS INT)) & 1) * 2 - 1) AS s
                   FROM fr CROSS JOIN range(0, 64) r(j) GROUP BY doc_id, format, j),
            sig AS (SELECT doc_id, format,
                     CAST(SUM(CASE WHEN s > 0
                          THEN (CASE WHEN j = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
                                ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END)
                          ELSE 0 END) AS BIGINT) AS simhash
                    FROM bt GROUP BY doc_id, format),
            bands0 AS (SELECT doc_id, format, simhash, k,
                        (simhash >> CAST(k * 16 AS INT)) & 65535 AS band
                       FROM sig CROSS JOIN range(0, 4) r(k)),
            hotb AS (SELECT format, k, band FROM bands0 GROUP BY format, k, band
                     HAVING COUNT(*) > 256),
            bands AS (SELECT * FROM bands0 b WHERE NOT EXISTS
                       (SELECT 1 FROM hotb h
                        WHERE h.format = b.format AND h.k = b.k AND h.band = b.band)),
            cand AS (SELECT DISTINCT a2.format, a2.doc_id AS d1, b2.doc_id AS d2,
                       a2.simhash AS s1, b2.simhash AS s2
                     FROM bands a2 JOIN bands b2
                       ON a2.format = b2.format AND a2.k = b2.k
                      AND a2.band = b2.band AND a2.doc_id < b2.doc_id)
            SELECT format, d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
            FROM cand WHERE bit_count(xor(s1, s2)) <= 3
            ORDER BY format, d1, d2"""))

  /** Declared frame→token alignment rate: frame i of a video samples the
    * transcript at token position i·16 + 1. Stand-in for the real
    * timestamp arithmetic (frame PTS × tokens/sec) a production aligner
    * computes — the constant is the declared contract, the JOIN SHAPE is
    * the operator.
    */
  private val AlignTokStride = 16L

  /** Frame↔chunk alignment — the multimodal PAIRING step that turns raw
    * video + transcript into contrastive training pairs (CLIP/VideoCLIP
    *-style): each sampled video frame is matched to the transcript chunk
    * (`q_text_chunk`'s 32/24 tiling) covering its token position, clamped
    * to the document's last chunk for frames sampled past the transcript
    * end. Output is the (frame, chunk) manifest with both content ids —
    * the unit a contrastive trainer consumes.
    *
    * Scale shape: the frame side is the bounded `frameSample` fan-out
    * (≤ 5 rows/video); the chunk id is CLOSED-FORM (one integer div +
    * clamp — alignment itself never joins), so the only joins are two
    * doc-keyed hash equi-joins: max-chunk lookup (map-combinable agg)
    * and the chunk-hash fetch on (doc_id, chunk_id). Nothing pairwise,
    * nothing windowed; linear in frames + chunks at any corpus size.
    */
  private val qMultimodalAlign = Q(
    "q_multimodal_align",
    (s, dir) => {
      val fr = frameSample(assets(s, dir).filter(col("format") === "video"),
          stride = 4, maxFrames = 5)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame"))
      val ch = Llm.chunked(s, dir)
      val nCh = ch.groupBy("doc_id").agg(max("chunk_id").as("max_chunk"))
      fr.join(nCh, "doc_id")
        .withColumn("chunk_id",
          expr(s"least(frame_idx * $AlignTokStride div 24, max_chunk)"))
        .join(ch.select(col("doc_id"), col("chunk_id"), col("chunk_md5")),
          Seq("doc_id", "chunk_id"))
        .select("doc_id", "frame_idx", "frame", "chunk_id", "chunk_md5")
        .orderBy("doc_id", "frame_idx")
    },
    Some(s"""WITH ${graft.ops.Llm.chunkedSql},
            v AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS hx
                  FROM documents WHERE doc_id % 3 = 2),
            fr AS (SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
                    substr(hx, CAST(i * 64 + 1 AS INT), 16) AS frame
                   FROM v, unnest(range(0, least(length(hx) // 64, 5))) u(i)),
            nc AS (SELECT doc_id, MAX(chunk_id) AS max_chunk FROM ch GROUP BY doc_id),
            al AS (SELECT fr.doc_id, frame_idx, frame,
                    LEAST(frame_idx * $AlignTokStride // 24, max_chunk) AS chunk_id
                   FROM fr JOIN nc ON fr.doc_id = nc.doc_id)
            SELECT al.doc_id, frame_idx, frame, al.chunk_id, chunk_md5
            FROM al JOIN ch ON al.doc_id = ch.doc_id AND al.chunk_id = ch.chunk_id
            ORDER BY al.doc_id, frame_idx"""))

  /** The fixed training-bucket list for [[qMultimodalArBucket]]:
    * (width, height) pairs spanning portrait→landscape at a constant
    * ~0.26 MP budget — the SDXL-style resolution grid. Constants, so
    * both engines inline the same 7-row frame.
    */
  private val ArBuckets = Seq(
    (512L, 1024L), (576L, 832L), (640L, 768L), (704L, 704L),
    (768L, 640L), (832L, 576L), (1024L, 512L))

  /** ASPECT-RATIO BUCKETING (r11 — the vision-training batch-shape
    * assignment popularized by NovelAI's SD fine-tune and SDXL
    * (Podell et al. 2023 §2.3): batches must share one resolution, so
    * every image is routed to the nearest-aspect bucket of a fixed
    * grid, and the padding/crop waste per bucket is THE datapoint that
    * decides the grid). The fixture carries no real pixels, so (w, h)
    * are synthesized deterministically from doc_id (pure integer
    * arithmetic — the same stub discipline as [[decodeStub]]); the
    * OPERATOR — nearest-bucket election + waste audit — is real.
    *
    * D1: aspect ratios compared in floored milli-units (ar_milli =
    * w·1000 div h, constants likewise) — no float division; nearest
    * bucket = min(struct(|ar−bar|, idx)) with the index tie-break (the
    * `q_agg_mode` rule); crop waste per image = |ar−bar|·10⁴ div
    * max(ar, bar) — the fraction of the long edge cropped when
    * center-cropping into the bucket, exact integer.
    *
    * Scale shape: map-only (w, h) synth + a 7-row constant-list fanout
    * (posexplode of a literal array — no join at all) + one
    * min-election keyed doc + ONE ≤7-row census. At 100 TB this is one
    * pass over image metadata.
    */
  private val qMultimodalArBucket = Q(
    "q_multimodal_ar_bucket",
    (s, dir) => {
      val bws = ArBuckets.map(_._1).mkString(",")
      val bhs = ArBuckets.map(_._2).mkString(",")
      val img = assets(s, dir).filter(col("format") === "image")
        .select(col("doc_id"),
          expr("256L + (doc_id * 7919L) % 1024L").as("w"),
          expr("256L + (doc_id * 104729L) % 1024L").as("h"))
        .withColumn("ar", expr("w * 1000L div h"))
      val elected = img
        .select(col("doc_id"), col("w"), col("h"), col("ar"),
          posexplode(expr(s"arrays_zip(array($bws), array($bhs))"))
            .as(Seq("idx", "bk")))
        .withColumn("bar", expr("bk.`0` * 1000L div bk.`1`"))
        .groupBy("doc_id")
        .agg(max("ar").as("ar"),
          min(struct(abs(col("ar") - col("bar")).as("d"),
            col("idx").cast("long").as("idx"), col("bar").as("bar"))).as("e"))
      val tot = elected.agg(count(lit(1)).as("n_images"))
      elected
        .withColumn("waste_bp", expr(
          "e.d * 10000L div greatest(ar, e.bar)"))
        .groupBy(col("e.idx").as("bucket_idx"), col("e.bar").as("bucket_ar_milli"))
        .agg(count(lit(1)).as("n_in_bucket"),
          sum("waste_bp").as("waste_bp_sum"),
          max("waste_bp").as("waste_bp_max"))
        .crossJoin(broadcast(tot))
        .select(col("bucket_idx"), col("bucket_ar_milli"), col("n_in_bucket"),
          expr("n_in_bucket * 10000L div n_images").as("share_bp"),
          expr("waste_bp_sum div n_in_bucket").as("waste_bp_mean"),
          col("waste_bp_max"))
        .orderBy("bucket_idx")
    },
    Some(s"""WITH img AS (SELECT doc_id,
                    256 + (doc_id * 7919) % 1024 AS w,
                    256 + (doc_id * 104729) % 1024 AS h
                   FROM documents WHERE doc_id % 3 = 0),
             ar AS (SELECT doc_id, w * 1000 // h AS ar FROM img),
             bk AS (SELECT u.idx - 1 AS idx,
                     u.bw * 1000 // u.bh AS bar
                    FROM (SELECT unnest([${ArBuckets.map(_._1).mkString(",")}]) AS bw,
                           unnest([${ArBuckets.map(_._2).mkString(",")}]) AS bh,
                           generate_subscripts([${ArBuckets.map(_._1).mkString(",")}], 1) AS idx) u),
             el AS (SELECT doc_id, MAX(ar) AS ar,
                     MIN(struct_pack(d := abs(ar - bar), idx := idx, bar := bar)) AS e
                    FROM ar CROSS JOIN bk GROUP BY doc_id),
             ws AS (SELECT doc_id, ar, e,
                     e.d * 10000 // greatest(ar, e.bar) AS waste_bp
                    FROM el),
             tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_images FROM el)
             SELECT CAST(e.idx AS BIGINT) AS bucket_idx,
              CAST(e.bar AS BIGINT) AS bucket_ar_milli,
              CAST(COUNT(*) AS BIGINT) AS n_in_bucket,
              CAST(COUNT(*) * 10000 // n_images AS BIGINT) AS share_bp,
              CAST(SUM(waste_bp) // COUNT(*) AS BIGINT) AS waste_bp_mean,
              CAST(MAX(waste_bp) AS BIGINT) AS waste_bp_max
             FROM ws CROSS JOIN tot
             GROUP BY e.idx, e.bar, n_images ORDER BY bucket_idx"""))

  val all: Seq[Q] = Seq(
    qMultimodalMeta, qMultimodalFrames, qMultimodalDedup, qMultimodalPhash,
    qMultimodalAlign, qMultimodalArBucket)
}
