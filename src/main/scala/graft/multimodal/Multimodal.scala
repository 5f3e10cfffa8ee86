package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextHash, TextHashSql}
import graft.sources.Tables

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * decoded partition-wise.
  *
  * The decode step is a clearly-marked STUB (no image/audio codecs in this
  * environment): a deterministic byte-fold stands in for "decode + feature
  * extract". Everything around it is the real production shape —
  *  - media rows are `Dataset[MediaBlob]` with a `binary` payload column
  *    and typed metadata, carried through parquet-friendly schemas;
  *  - decoding runs in `mapPartitions` (the JVM analog of `mapInPandas`:
  *    one invocation per partition, batch iteration inside, so a real
  *    decoder would amortize model/codec init per partition, not per row);
  *  - partitioning: payloads stay where they are (narrow map), features
  *    are small and shuffle-friendly downstream.
  *
  * The stub's integer math is mirrored in the DuckDB oracle, so even the
  * mapPartitions path is oracle-checked end to end (byte lengths via
  * DuckDB `strlen`, checksum via a code-point fold — both engines agree
  * for arbitrary UTF-8 payloads, not just ASCII).
  */
object Multimodal {

  final case class MediaBlob(doc_id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, kind: String, n_bytes: Int, checksum: Long,
      width: Int, height: Int, f0: Double, f1: Double, f2: Double, f3: Double)

  /** Synthesize the media table: payload = document bytes, kind assigned
    * round-robin (image/audio/video) — stands in for a real blob store
    * scan where parquet carries (id, kind, binary, metadata). */
  def blobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3).cast("int") + 1).as("kind"),
      col("text").cast("binary").as("payload"))
      .as[MediaBlob]
  }

  /** STUB decoder: a real pipeline would decode `payload` with a codec and
    * run feature extraction here; we fold deterministically instead.
    * The surrounding batch shape (per-partition init, row iteration, typed
    * output schema) is the real thing.
    *
    * Cross-engine parity: `n_bytes` is the raw payload byte length (DuckDB
    * `strlen`), while `checksum` folds the decoded text's Unicode code
    * points (DuckDB's char-wise `ascii(substr(...))` fold) — so both stay
    * oracle-exact even for multi-byte UTF-8 documents. */
  def decodeFeatures(media: Dataset[MediaBlob]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (codec / model load)
      rows.map { b =>
        val text = new String(b.payload, java.nio.charset.StandardCharsets.UTF_8)
        var cs = 7L
        val cps = text.codePoints().iterator()
        while (cps.hasNext) cs = (cs * 31 + cps.next()) % TextHash.P
        MediaFeatures(
          b.doc_id, b.kind, b.payload.length, cs,
          width = 64 + (cs % 192).toInt,
          height = 64 + ((cs / 192) % 192).toInt,
          f0 = (cs % 1000) / 1000.0, f1 = (cs * 2 % 1000) / 1000.0,
          f2 = (cs * 3 % 1000) / 1000.0, f3 = (cs * 4 % 1000) / 1000.0)
      }
    }
  }

  def decode(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(blobs(spark, dir)).toDF().orderBy("doc_id")

  /** Frame sampling over a "video" payload: every 3rd frame of
    * n_bytes/100+1 frames — the explode-shaped half of the multimodal
    * path (one row per sampled frame, offset into the payload). */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(blobs(spark, dir)).toDF()
      .filter(col("kind") === "video")
      .select(col("doc_id"), col("n_bytes"),
        explode(sequence(lit(0L),
          floor(col("n_bytes") / 100).cast("long"), lit(3L))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 100L).as("frame_offset"))
      .orderBy("doc_id", "frame_idx")

  /** Resize planning for image payloads: fit the decoded (width, height)
    * into a 224×224 budget preserving aspect ratio — pure integer math
    * (scale by 224/longest-side) so the oracle reproduces it exactly.
    * A real pipeline would hand (doc_id, new_w, new_h) to the pixel
    * resampler; the planning arithmetic and the narrow-map shape are the
    * production part. */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    val longest = greatest(col("width"), col("height"))
    decodeFeatures(blobs(spark, dir)).toDF()
      .filter(col("kind") === "image")
      .select(col("doc_id"), col("width"), col("height"),
        // integer `div`, not `/` (Spark / on ints is double division)
        expr("CAST(width * 224 DIV greatest(width, height) AS INT)").as("new_w"),
        expr("CAST(height * 224 DIV greatest(width, height) AS INT)").as("new_h"),
        (longest > 224).as("downscaled"))
      .orderBy("doc_id")
  }

  final case class BatchScore(doc_id: Long, score: Long, batch_n: Int)

  /** Batched-inference shape: within each partition, rows are consumed in
    * fixed-size batches (`grouped` iterator) — the GPU-batch analog of
    * `mapInPandas`, where each invocation runs one forward pass over a
    * batch tensor. The scorer is the STUB (same checksum family as
    * [[decodeFeatures]]); the production part is the mechanics: model
    * init once per partition, at most `batchSize` rows per call, no
    * buffering of the whole partition. Per-doc scores are pure functions
    * of the payload, so results are identical under any partitioning —
    * only `batch_n` (the actual rows in the doc's batch) reflects the
    * physical batching, and the spec bounds it. */
  def batchedInfer(media: Dataset[MediaBlob], batchSize: Int): Dataset[BatchScore] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition "model load" would go here
      rows.grouped(batchSize).flatMap { batch =>
        // one stub forward pass over the whole batch
        val scores = batch.map { b =>
          var cs = 7L
          var i = 0
          while (i < b.payload.length) { cs = (cs * 31 + (b.payload(i) & 0xff)) % TextHash.P; i += 1 }
          cs
        }
        batch.lazyZip(scores).map { (b, s) => BatchScore(b.doc_id, s, batch.size) }
      }
    }
  }

  /** [[batchedInfer]]'s oracle-bound face: per-doc stub scores only.
    * Scores are pure byte folds of the payload — identical under any
    * partitioning — while `batch_n` reflects the PHYSICAL batch a doc
    * landed in (partition- and batch-size-dependent by design), so the
    * registered face drops it and the spec keeps bounding it. */
  def batchedInferScores(spark: SparkSession, dir: String): DataFrame =
    batchedInfer(blobs(spark, dir), 64).toDF()
      .select(col("doc_id"), col("score"))
      .orderBy("doc_id")

  final case class Chunk(doc_id: Long, chunk_hash: Long, chunk_len: Int)

  /** Content-defined chunk boundary divisor (mean chunk ≈ this many bytes). */
  val CdcDivisor = 32

  /** Content-defined chunking (the rsync/LBFS/backup-dedup primitive):
    * split each payload where a 4-byte rolling window hash ≡ 0 mod
    * [[CdcDivisor]] — boundaries follow CONTENT, so an insertion early in
    * a payload shifts only its own chunk, not every chunk after it (the
    * property fixed-stride chunking lacks, and the reason storage dedup
    * uses CDC). Per-byte work is genuinely imperative → `mapPartitions`
    * (the multimodal decode shape); everything downstream is (hash, len)
    * aggregates — payload bytes never shuffle. */
  def cdcChunks(media: Dataset[MediaBlob]): Dataset[Chunk] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { b =>
        val bytes = b.payload
        val n = bytes.length
        val starts = scala.collection.mutable.ArrayBuffer(0)
        var i = 3
        while (i < n) {
          val h = (bytes(i - 3) & 0xff) * 29791 + (bytes(i - 2) & 0xff) * 961 +
            (bytes(i - 1) & 0xff) * 31 + (bytes(i) & 0xff)
          if (h % CdcDivisor == 0 && i + 1 < n) starts += (i + 1)
          i += 1
        }
        starts += n
        (0 until starts.length - 1).iterator.map { k =>
          var h = 7L
          var j = starts(k)
          while (j < starts(k + 1)) { h = (h * 31 + (bytes(j) & 0xff)) % TextHash.P; j += 1 }
          Chunk(b.doc_id, h, starts(k + 1) - starts(k))
        }
      }
    }
  }

  /** Cross-payload chunk-reuse census over [[cdcChunks]] — the top-20
    * most-duplicated content chunks with copy and distinct-payload
    * counts: the table a dedup store builds its chunk index from (at
    * sf0.01 the corpus shares ~39% of its chunks). Shuffle carries only
    * (hash, len) pairs; top-20 is a TakeOrdered, never a global sort. */
  def cdcChunkReuse(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(blobs(spark, dir)).toDF()
      .groupBy(col("chunk_hash"), col("chunk_len"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_copies").desc, col("chunk_hash"), col("chunk_len"))
      .limit(20)

  /** Chunks shared by more payloads than this are dropped from the
    * near-dup index as non-discriminative (the inverted-index frequency
    * cap that bounds the candidate join: a chunk in f payloads emits f²
    * pairs, so Σf² ≤ cap·|index| — linear, never all-pairs). */
  val NearDupHubCap = 64

  /** Minimum chunk-set Jaccard (milli) for a reported near-dup pair. */
  val NearDupMinJaccardMilli = 200L

  /** Payload near-dup via CDC chunk-set containment — the backup-store /
    * media-dedup primitive exact [[payloadDedup]] can't express: two blobs
    * that share MOST of their content-defined chunks are near-identical
    * bytes (one insertion away), even though their payload hashes differ.
    * The pair search is an inverted-index equi-join blocked on
    * (chunk_hash, chunk_len) — never an all-pairs compare — with the
    * [[NearDupHubCap]] frequency cap bounding hub fan-out, and similarity
    * is integer milli-Jaccard over the hub-filtered chunk SETS, so both
    * engines agree exactly. Payload bytes never shuffle: the chunker
    * emits (doc_id, hash, len) and everything downstream is 20-byte rows.
    * At 100 TB this is the standard shared-chunk pair detection a
    * deduplicating object store runs, and the cap is what keeps a
    * common-header chunk from exploding the join. */
  def payloadNearDup(spark: SparkSession, dir: String): DataFrame = {
    // stage the chunk index once (the Dedup.stageEdges pattern): it feeds
    // four consumers (hub census, filtered index both join sides, sizes) —
    // without the checkpoint the per-byte CDC scan re-executes per consumer
    val cs = cdcChunks(blobs(spark, dir)).toDF()
      .select(col("doc_id"), col("chunk_hash"), col("chunk_len")).distinct()
      .localCheckpoint(true)
    val hubOk = cs.groupBy(col("chunk_hash"), col("chunk_len"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") <= NearDupHubCap)
      .select(col("chunk_hash"), col("chunk_len"))
    val cf = cs.join(hubOk, Seq("chunk_hash", "chunk_len"))
    val sizes = cf.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    cf.as("a").join(cf.as("b"),
        col("a.chunk_hash") === col("b.chunk_hash") &&
          col("a.chunk_len") === col("b.chunk_len") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("id1"), col("n_chunks").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n_chunks").as("n2")), Seq("id2"))
      // integer DIV, not double `/`+cast (the repo convention — see
      // resize): exact under all operand growth, and structurally the
      // oracle's `//`
      .withColumn("jaccard_milli",
        expr("(1000 * n_shared) DIV (n1 + n2 - n_shared)"))
      .filter(col("jaccard_milli") >= NearDupMinJaccardMilli)
      .select(col("id1"), col("id2"), col("n_shared"), col("n1"), col("n2"),
        col("jaccard_milli"))
      .orderBy(col("jaccard_milli").desc, col("id1"), col("id2"))
      .limit(20)
  }

  val ChunkLen = 400   // bytes per chunk
  val ChunkStride = 300 // bytes between chunk starts (overlap = 100)

  /** Overlapping fixed-stride chunking of audio payloads — the
    * Whisper-style windowing a speech pipeline runs before inference:
    * chunk i covers [i·stride, min(i·stride+len, n)); consecutive chunks
    * overlap so no utterance straddles a boundary unseen. Pure integer
    * math over the decoded byte length (explode-shaped narrow map, one
    * output row per chunk); the tail chunk is partial and flagged. */
  def audioChunks(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(blobs(spark, dir)).toDF()
      .filter(col("kind") === "audio")
      .select(col("doc_id"), col("n_bytes"),
        // empty-payload guard: n_bytes = 0 makes the upper bound -1 and
        // Spark's sequence counts DOWN ([0, -1] — two garbage chunks)
        // where the oracle's range(0, 0) emits none; same trap and same
        // guard as TextHash.shingleHashes
        explode(when(col("n_bytes") > 0,
          sequence(lit(0L),
            floor((col("n_bytes") - 1) / ChunkStride).cast("long")))
          .otherwise(array().cast("array<bigint>"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("chunk_start"),
        least(col("chunk_idx") * ChunkStride + ChunkLen, col("n_bytes"))
          .as("chunk_end"))
      .withColumn("is_partial",
        col("chunk_end") - col("chunk_start") < ChunkLen)
      .orderBy("doc_id", "chunk_idx")

  val PatchSize = 16

  /** ViT-style patch grid over the resize-planned images: the resized
    * frame is cropped to whole 16×16 patches (floor grid, top-left
    * anchored — the standard ViT preprocessing) and exploded to one row
    * per patch with its (row, col) offsets and raster patch_id. Pure
    * integer math over [[resize]]'s plan — the tensor-layout step between
    * decode and the vision encoder, still a narrow map. */
  def imagePatches(spark: SparkSession, dir: String): DataFrame = {
    val p = PatchSize
    resize(spark, dir)
      .select(col("doc_id"), col("new_w"), col("new_h"),
        (col("new_w") / p).cast("int").as("npx"),
        (col("new_h") / p).cast("int").as("npy"))
      .select(col("doc_id"), col("new_w"), col("new_h"), col("npx"), col("npy"),
        explode(sequence(lit(0), col("npx") * col("npy") - 1)).as("patch_id"))
      .select(col("doc_id"), col("patch_id"),
        (col("patch_id") % col("npx") * p).as("x_off"),
        (col("patch_id") / col("npx")).cast("int").multiply(p).as("y_off"),
        (col("npx") * col("npy")).as("n_patches"))
      .orderBy("doc_id", "patch_id")
  }

  /** Modality-mix rebalancing — the multimodal analog of the per-language
    * sampling gates (X44): per kind, row/byte totals plus the
    * deterministic keep-rate (out of 1000) that equalizes BYTE budgets
    * across modalities, anchored to the smallest modality (rate 1000).
    * Integer arithmetic end to end: rate = min_bytes·1000 DIV kind_bytes,
    * so the plan is one kind-keyed agg + a broadcast 1-row min — and the
    * gate itself (hash(doc) % 1000 < rate) stays a map-only filter at
    * ingest. */
  def modalityMix(spark: SparkSession, dir: String): DataFrame = {
    val stats = decodeFeatures(blobs(spark, dir)).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_bytes").cast("long")).as("total_bytes"))
    val minBytes = stats.agg(min(col("total_bytes")).as("min_bytes"))
    stats.crossJoin(broadcast(minBytes))
      .select(col("kind"), col("n_rows"), col("total_bytes"),
        expr("CAST(min_bytes * 1000 DIV total_bytes AS BIGINT)").as("keep_rate"))
      .orderBy(col("kind"))
  }

  /** Exact payload dedup across the media store — byte-identical
    * re-crawls are the dominant redundancy in image/video corpora, and
    * they dedup on the PAYLOAD hash, not any text: fp = md5(payload), so
    * the shuffle carries 16 bytes per blob, never the blob. A
    * deterministic re-crawl batch (every 7th blob re-ingested under a
    * new id — production reads the second crawl snapshot) gives the
    * dup-free fixture real duplicates; the census reports, per modality,
    * the blob count, distinct payloads, duplicate blobs, and the bytes a
    * dedup pass reclaims. */
  def payloadDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = blobs(spark, dir).toDF()
    val recrawl = base.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 10000L)
    base.unionByName(recrawl)
      .select(col("kind"), md5(col("payload")).as("fp"),
        length(col("payload")).as("len"))
      .groupBy(col("kind"), col("fp"))
      .agg(count(lit(1)).as("n_copies"), max(col("len")).as("len"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("n_copies")).cast("long").as("n_blobs"),
        (sum(col("n_copies")) - count(lit(1))).cast("long").as("n_dup_blobs"),
        sum((col("n_copies") - 1) * col("len")).cast("long").as("dup_bytes"))
      .orderBy(col("kind"))
  }

  /** Scene-cut detection over video frames — the consecutive-frame
    * change detector every video pipeline runs (shot segmentation,
    * static-scene dedup): each full 100-byte frame of the payload gets a
    * CONTENT-derived fingerprint (hash of its byte slice — the stand-in
    * for a perceptual hash, same stub contract as [[decodeFeatures]]),
    * and a cut fires when consecutive fingerprints differ in > 20 of the
    * hash's 31 bits (mean inter-frame hamming on unrelated content is
    * ~15.5; the threshold puts cuts in the ~3% tail). Per video: frames, cuts, mean inter-frame hamming.
    *
    * Scale: frames explode map-side; the only shuffle is the doc-keyed
    * window + agg (state bounded by frames/video); the mean divides an
    * exact BIGINT sum once. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val fp = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2 && length(col("text")) >= 100)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          floor(length(col("text")) / 100).cast("long") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        TextHash.strHash(expr("substring(text, CAST(frame_idx*100 + 1 AS INT), 100)"))
          .as("fp"))
    fp.withColumn("prev", lag(col("fp"), 1).over(w))
      .withColumn("ham", when(col("prev").isNotNull,
        TextHash.hamming(col("fp"), col("prev"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("ham") > 20, 1L).otherwise(0L)).as("n_cuts"),
        when(count(col("ham")) > 0,
          round(sum(coalesce(col("ham"), lit(0L))).cast("double") /
            count(col("ham")), 4)).as("mean_hamming"))
      .orderBy(col("doc_id"))
  }

  /** Contrastive (CLIP-style) batch manifest — image-text pairs hash-
    * assigned to training batches, with the numbers a contrastive loss
    * needs per batch: positive pairs, caption token mass, payload bytes
    * (loader budget), and in-batch negatives n·(n−1). Batch assignment
    * is a salted content hash — deterministic on any cluster/retry (the
    * X35 gate discipline), never a global row_number; batch skew is
    * bounded and the manifest is one keyed aggregate over the pair
    * frame. The image side rides the [[blobs]] round-robin kind
    * assignment (kind='image' ⟺ doc_id ≡ 0 mod 3); payload bytes are
    * OCTET length (DuckDB strlen) so multi-byte UTF-8 stays exact. */
  def captionBatches(spark: SparkSession, dir: String,
      nBatches: Int = 16): DataFrame = {
    import graft.functions.TextHash
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(
        (TextHash.strHash(concat(lit("clipbatch:"),
          col("doc_id").cast("string"))) % nBatches).as("batch_id"),
        size(TextHash.tokens(col("text"))).cast("long").as("cap"),
        octet_length(col("text")).cast("long").as("pb"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cap")).as("caption_tokens"),
        sum(col("pb")).as("payload_bytes"))
      .withColumn("n_negatives", col("n_pairs") * (col("n_pairs") - 1))
      .orderBy(col("batch_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_caption_batches" -> ((s: SparkSession, d: String) => captionBatches(s, d)),
    "mm_scene_cuts" -> sceneCuts,
    "mm_payload_dedup" -> payloadDedup,
    "mm_modality_mix" -> modalityMix,
    "mm_image_patches" -> imagePatches,
    "mm_decode" -> decode,
    "mm_frame_sample" -> frameSample,
    "mm_audio_chunks" -> audioChunks,
    "mm_batched_infer" -> batchedInferScores,
    "mm_cdc_chunks" -> cdcChunkReuse,
    "mm_payload_neardup" -> payloadNearDup,
    "mm_resize" -> resize)
}

object MultimodalOracles {

  private val kind =
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  private val cs = TextHashSql.rollHash("text") // code-point fold, matches the stub

  val decode: String =
    s"""SELECT doc_id, $kind AS kind,
       |  CAST(strlen(text) AS INT) AS n_bytes, t.cs AS checksum,
       |  CAST(64 + t.cs % 192 AS INT) AS width,
       |  CAST(64 + (t.cs // 192) % 192 AS INT) AS height,
       |  (t.cs % 1000) / 1000.0 AS f0, (t.cs * 2 % 1000) / 1000.0 AS f1,
       |  (t.cs * 3 % 1000) / 1000.0 AS f2, (t.cs * 4 % 1000) / 1000.0 AS f3
       |FROM (SELECT doc_id, text, $cs AS cs FROM documents) t
       |ORDER BY doc_id""".stripMargin

  val frameSample: String =
    s"""SELECT doc_id, frame_idx, frame_idx * 100 AS frame_offset
       |FROM (SELECT doc_id, unnest(range(0, strlen(text) // 100 + 1, 3)) AS frame_idx
       |      FROM documents WHERE $kind = 'video')
       |ORDER BY doc_id, frame_idx""".stripMargin

  val resize: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |         CAST(64 + t.cs % 192 AS INT) AS width,
       |         CAST(64 + (t.cs // 192) % 192 AS INT) AS height
       |  FROM (SELECT doc_id, $cs AS cs FROM documents
       |        WHERE $kind = 'image') t)
       |SELECT doc_id, width, height,
       |       CAST(width * 224 // greatest(width, height) AS INT) AS new_w,
       |       CAST(height * 224 // greatest(width, height) AS INT) AS new_h,
       |       greatest(width, height) > 224 AS downscaled
       |FROM f
       |ORDER BY doc_id""".stripMargin

  val audioChunks: String = {
    val l = Multimodal.ChunkLen
    val s = Multimodal.ChunkStride
    s"""SELECT doc_id, chunk_idx,
       |       chunk_idx * $s AS chunk_start,
       |       least(chunk_idx * $s + $l, n) AS chunk_end,
       |       least(chunk_idx * $s + $l, n) - chunk_idx * $s < $l AS is_partial
       |FROM (SELECT doc_id, strlen(text) AS n,
       |             unnest(range(0, (strlen(text) - 1) // $s + 1)) AS chunk_idx
       |      FROM documents WHERE $kind = 'audio')
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  val imagePatches: String = {
    val p = Multimodal.PatchSize
    s"""WITH f AS (
       |  SELECT doc_id,
       |         CAST(64 + t.cs % 192 AS INT) AS width,
       |         CAST(64 + (t.cs // 192) % 192 AS INT) AS height
       |  FROM (SELECT doc_id, $cs AS cs FROM documents
       |        WHERE $kind = 'image') t),
       |r AS (
       |  SELECT doc_id,
       |         (width * 224 // greatest(width, height)) // $p AS npx,
       |         (height * 224 // greatest(width, height)) // $p AS npy
       |  FROM f),
       |g AS (SELECT doc_id, npx, npy, unnest(range(0, npx * npy)) AS patch_id FROM r)
       |SELECT doc_id, patch_id,
       |       (patch_id % npx) * $p AS x_off,
       |       (patch_id // npx) * $p AS y_off,
       |       npx * npy AS n_patches
       |FROM g
       |ORDER BY doc_id, patch_id""".stripMargin
  }

  val modalityMix: String =
    s"""WITH stats AS (
       |  SELECT $kind AS kind, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |         CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
       |  FROM documents GROUP BY 1),
       |m AS (SELECT MIN(total_bytes) AS min_bytes FROM stats)
       |SELECT kind, n_rows, total_bytes,
       |       CAST(min_bytes * 1000 // total_bytes AS BIGINT) AS keep_rate
       |FROM stats CROSS JOIN m
       |ORDER BY kind""".stripMargin

  /** Payload-hash census with the same deterministic re-crawl union. */
  val payloadDedup: String =
    s"""WITH m AS (
       |  SELECT doc_id, $kind AS kind, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, $kind AS kind, text FROM documents
       |  WHERE doc_id % 7 = 0),
       |g AS (
       |  SELECT kind, md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS n_copies,
       |         MAX(strlen(text)) AS len
       |  FROM m GROUP BY kind, md5(text))
       |SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |       CAST(SUM(n_copies) AS BIGINT) AS n_blobs,
       |       CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dup_blobs,
       |       CAST(SUM((n_copies - 1) * len) AS BIGINT) AS dup_bytes
       |FROM g GROUP BY kind
       |ORDER BY kind""".stripMargin

  val sceneCuts: String = {
    val fp = TextHashSql.strHash("substr(text, CAST(frame_idx*100 + 1 AS INT), 100)")
    s"""WITH fr AS (
       |  SELECT doc_id, unnest(range(0, length(text) // 100)) AS frame_idx, text
       |  FROM documents
       |  WHERE CAST(doc_id % 3 AS INT) = 2 AND length(text) >= 100),
       |fp AS (SELECT doc_id, frame_idx, $fp AS fp FROM fr),
       |d AS (SELECT doc_id, fp,
       |        lag(fp) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
       |      FROM fp)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |  CAST(SUM(CASE WHEN prev IS NOT NULL AND bit_count(xor(fp, prev)) > 20
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       |  CASE WHEN COUNT(prev) > 0 THEN
       |    round(CAST(CAST(SUM(CASE WHEN prev IS NOT NULL
       |                         THEN bit_count(xor(fp, prev)) ELSE 0 END) AS BIGINT)
       |               AS DOUBLE) / COUNT(prev), 4)
       |  END AS mean_hamming
       |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Mirrors [[Multimodal.captionBatches]]: salted-hash batch id, octet
    * payload lengths, n·(n−1) in-batch negatives. */
  val captionBatches: String = {
    val bid = s"(${TextHashSql.strHash("'clipbatch:' || CAST(doc_id AS VARCHAR)")} % 16)"
    s"""WITH p AS (
       |  SELECT $bid AS batch_id,
       |         CAST(len(${TextHashSql.tokens("text")}) AS BIGINT) AS cap,
       |         CAST(strlen(text) AS BIGINT) AS pb
       |  FROM documents WHERE doc_id % 3 = 0)
       |SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(cap) AS BIGINT) AS caption_tokens,
       |       CAST(SUM(pb) AS BIGINT) AS payload_bytes,
       |       CAST(COUNT(*) * (COUNT(*) - 1) AS BIGINT) AS n_negatives
       |FROM p GROUP BY batch_id
       |ORDER BY batch_id""".stripMargin
  }

  /** Byte fold of the raw UTF-8 payload (the [[Multimodal.batchedInfer]]
    * stub): DuckDB exposes blob bytes only through hex(), so each byte is
    * decoded from its two UPPERCASE hex digits ('A' = 65 → −55) and folded
    * left-to-right — exact for arbitrary multi-byte UTF-8, not just the
    * ASCII case where a code-point fold would coincide. */
  val batchedInfer: String =
    s"""SELECT doc_id,
       |  list_transform([hex(encode(text))], __h ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(range(0, octet_length(encode(text))),
       |        i -> (CAST(ascii(substr(__h, CAST(2*i+1 AS INT), 1)) AS BIGINT)
       |               - CASE WHEN substr(__h, CAST(2*i+1 AS INT), 1)
       |                      BETWEEN '0' AND '9' THEN 48 ELSE 55 END) * 16
       |             + (CAST(ascii(substr(__h, CAST(2*i+2 AS INT), 1)) AS BIGINT)
       |               - CASE WHEN substr(__h, CAST(2*i+2 AS INT), 1)
       |                      BETWEEN '0' AND '9' THEN 48 ELSE 55 END))),
       |      (a, b) -> (a*31 + b) % ${graft.functions.TextHashSql.P}))[1] AS score
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Shared CDC prelude: bl (payload bytes as BIGINT list) → st (chunk
    * start offsets from the 4-byte rolling-window boundary rule) → ch
    * (one struct row per chunk with fold hash `h` and length `l`) —
    * byte-for-byte the [[Multimodal.cdcChunks]] algorithm. */
  private val cdcPrelude: String = {
    val P = graft.functions.TextHashSql.P
    val D = Multimodal.CdcDivisor
    val byteAt = (pos: String) =>
      s"""(CAST(ascii(substr(__h, CAST(2*$pos+1 AS INT), 1)) AS BIGINT)
         |  - CASE WHEN substr(__h, CAST(2*$pos+1 AS INT), 1)
         |         BETWEEN '0' AND '9' THEN 48 ELSE 55 END) * 16
         |+ (CAST(ascii(substr(__h, CAST(2*$pos+2 AS INT), 1)) AS BIGINT)
         |  - CASE WHEN substr(__h, CAST(2*$pos+2 AS INT), 1)
         |         BETWEEN '0' AND '9' THEN 48 ELSE 55 END)""".stripMargin
    s"""WITH bl AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n,
       |         list_transform([hex(encode(text))], __h ->
       |           list_transform(range(0, octet_length(encode(text))),
       |             i -> (${byteAt("i")})))[1] AS bs
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, n, bs,
       |         list_concat(
       |           list_prepend(CAST(0 AS BIGINT),
       |             list_transform(
       |               list_filter(range(3, n),
       |                 i -> (bs[CAST(i-2 AS INT)]*29791 + bs[CAST(i-1 AS INT)]*961
       |                       + bs[CAST(i AS INT)]*31 + bs[CAST(i+1 AS INT)]) % $D = 0
       |                      AND i + 1 < n),
       |               x -> x + 1)),
       |           [n]) AS starts
       |  FROM bl),
       |ch AS (
       |  SELECT doc_id, unnest(list_transform(range(0, len(starts) - 1), k ->
       |    struct_pack(
       |      h := list_reduce(
       |        list_prepend(CAST(7 AS BIGINT),
       |          bs[CAST(starts[CAST(k+1 AS INT)] + 1 AS INT):CAST(starts[CAST(k+2 AS INT)] AS INT)]),
       |        (a, b) -> (a*31 + b) % $P),
       |      l := starts[CAST(k+2 AS INT)] - starts[CAST(k+1 AS INT)]))) AS c
       |  FROM st)
       |""".stripMargin
  }

  /** Mirrors [[Multimodal.cdcChunkReuse]]: the same hex-unpacked byte
    * list, rolling-window boundary test, and 31-fold chunk hash, with
    * chunk spans derived from the starts list via list slicing. */
  val cdcChunks: String =
    cdcPrelude +
      """SELECT c.h AS chunk_hash, CAST(c.l AS INT) AS chunk_len,
        |       CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM ch GROUP BY 1, 2
        |ORDER BY n_copies DESC, chunk_hash, chunk_len
        |LIMIT 20""".stripMargin

  /** Payload near-dup oracle: same chunk-set containment join as
    * [[Multimodal.payloadNearDup]] — distinct chunk sets, hub-capped
    * inverted index on (h, l), integer milli-Jaccard. */
  val payloadNearDup: String =
    cdcPrelude.stripSuffix("\n") +
      s""", cs AS (SELECT DISTINCT doc_id, c.h AS h, c.l AS l FROM ch),
         |hub AS (SELECT h, l FROM cs GROUP BY h, l
         |        HAVING COUNT(DISTINCT doc_id) <= ${Multimodal.NearDupHubCap}),
         |cf AS (SELECT cs.doc_id, cs.h, cs.l FROM cs JOIN hub USING (h, l)),
         |sz AS (SELECT doc_id, COUNT(*) AS n_chunks FROM cf GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_shared
         |       FROM cf a JOIN cf b ON a.h = b.h AND a.l = b.l
         |                          AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |j AS (SELECT pr.id1, pr.id2, CAST(pr.n_shared AS BIGINT) AS n_shared,
         |             CAST(s1.n_chunks AS BIGINT) AS n1,
         |             CAST(s2.n_chunks AS BIGINT) AS n2,
         |             CAST(1000 * pr.n_shared
         |                  // (s1.n_chunks + s2.n_chunks - pr.n_shared)
         |                  AS BIGINT) AS jaccard_milli
         |      FROM pr JOIN sz s1 ON pr.id1 = s1.doc_id
         |              JOIN sz s2 ON pr.id2 = s2.doc_id)
         |SELECT id1, id2, n_shared, n1, n2, jaccard_milli
         |FROM j WHERE jaccard_milli >= ${Multimodal.NearDupMinJaccardMilli}
         |ORDER BY jaccard_milli DESC, id1, id2
         |LIMIT 20""".stripMargin

  val all: Map[String, String] = Map(
    "mm_batched_infer" -> batchedInfer,
    "mm_cdc_chunks" -> cdcChunks,
    "mm_payload_neardup" -> payloadNearDup,
    "mm_caption_batches" -> captionBatches,
    "mm_scene_cuts" -> sceneCuts,
    "mm_payload_dedup" -> payloadDedup,
    "mm_modality_mix" -> modalityMix,
    "mm_image_patches" -> imagePatches,
    "mm_decode" -> decode,
    "mm_frame_sample" -> frameSample,
    "mm_audio_chunks" -> audioChunks,
    "mm_resize" -> resize)
}
