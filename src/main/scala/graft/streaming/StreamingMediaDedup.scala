package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StoreLifecycle

/** Shared core of the streaming PERCEPTUAL dedup family, one discipline
  * for every 64-bit perceptual fingerprint (image aHash, audio envelope
  * hash, video clip hash): a media item is dropped when its hash lies
  * within `maxHamming` of an earlier-ingested item's, so byte-different
  * re-encodes and mild perturbations collapse at ingest time, before
  * payloads ever land in the lake.
  *
  * Each pass is an [[IngestGate.banded]] gate over a (band, key,
  * media_id, phash) store, 8 bands x 8 bits: lossless for Hamming <= 7
  * by pigeonhole. Payload bytes are decoded partition-locally for
  * hashing and never enter the store or any shuffle.
  */
private[streaming] object PerceptualDedupCore {

  val BANDS = 8

  /** The payloads of `batch` one pass admits: `kind` items whose hash
    * (`hashed` maps the kind-filtered batch to (media_id, hash)) passes
    * the gate at `storeDir`, plus every other kind untouched (each pass
    * is modality-scoped; exact byte dedup upstream covers the rest).
    * Undecodable payloads are dropped by the hasher (R2).
    */
  def admit(batch: DataFrame, batchId: Long, storeDir: String,
      maxHamming: Int, kind: String, hashed: DataFrame => DataFrame): DataFrame = {
    require(maxHamming < BANDS,
      s"banding is lossless only for maxHamming < $BANDS, got $maxHamming")
    val keptIds = IngestGate.banded(
        hashed(batch.filter(col("kind") === kind)).toDF("media_id", "phash"),
        batchId, storeDir, "media_id", "phash",
        graft.functions.TextFunctions.hammingBands("phash", BANDS), "key") {
      (h, old) => bit_count(h.bitwiseXOR(old)) <= maxHamming
    }
    batch.join(keptIds.select(col("media_id")), Seq("media_id"), "left_semi")
      .unionByName(batch.filter(col("kind") =!= kind))
      .select(col("media_id"), col("kind"), col("bytes"))
  }

  /** One micro-batch of (media_id, kind, bytes) through [[admit]]; the
    * admitted payloads go to `outDir/__batch_id=<id>`, partition-replacing.
    */
  def dedupBatch(batch: DataFrame, batchId: Long, storeDir: String,
      outDir: String, maxHamming: Int, kind: String,
      hashed: DataFrame => DataFrame): DataFrame = {
    val kept = admit(batch, batchId, storeDir, maxHamming, kind, hashed)
      .withColumn("__batch_id", lit(batchId))
    StoreLifecycle.replacePartitions(kept, outDir, "__batch_id")
    kept
  }

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, maxHamming: Int, kind: String,
      hashed: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(media, checkpoint) { (batch, id) =>
      dedupBatch(batch, id, storeDir, outDir, maxHamming, kind, hashed)
    }
}

/** Streaming PERCEPTUAL media dedup — the image member of the family
  * ([[PerceptualDedupCore]]): aHash over the decoded, downscaled luma
  * grid (multimodal.Multimodal.perceptualHashImagesBatched), so
  * byte-different re-encodes AND mild rescales/recompressions collapse
  * at ingest time. Same banding as the batch query
  * (multimodal.Multimodal.mediaNearDupPerceptual).
  */
object StreamingMediaDedup {

  private[streaming] def hasher(images: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashImagesBatched(images)
      .toDF().select(col("media_id"), col("ahash"))

  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int): DataFrame =
    PerceptualDedupCore.dedupBatch(batch, batchId, storeDir, outDir,
      maxHamming, "image", hasher)

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, maxHamming: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    PerceptualDedupCore.start(media, storeDir, outDir, checkpoint,
      maxHamming, "image", hasher)
}

/** Streaming PERCEPTUAL audio dedup — the audio member of the family:
  * the 64-window PCM envelope hash
  * (multimodal.Multimodal.perceptualHashAudioBatched), so the same clip
  * re-containered, re-mastered at a different level, or 2:1 resampled
  * collapses at ingest while different material is admitted.
  * StreamingAudioDedupSpec pins the stream-maintained drop set equal to
  * the batch audioNearDupPerceptual match set on the same corpus.
  */
object StreamingAudioDedup {

  private[streaming] def hasher(audio: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashAudioBatched(audio)
      .toDF().select(col("media_id"), col("ehash"))

  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int): DataFrame =
    PerceptualDedupCore.dedupBatch(batch, batchId, storeDir, outDir,
      maxHamming, "audio", hasher)

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, maxHamming: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    PerceptualDedupCore.start(media, storeDir, outDir, checkpoint,
      maxHamming, "audio", hasher)
}

/** Streaming CLIP-granularity perceptual video dedup — the fourth member
  * of the ingest-dedup family: where StreamingFrameDedup drops exact
  * repeated FRAMES, this drops whole re-encoded/rescaled/frame-rate-
  * resampled CLIPS via the order-aware 64-bit clip hash
  * (multimodal.Multimodal.perceptualHashVideoBatched), same banded store
  * and replay discipline as the image/audio members. Run it before the
  * frame pass: a crawl's re-encoded clip collapses here in one row
  * instead of surviving to contribute n_frames fresh-looking frames.
  */
object StreamingClipDedup {

  private[streaming] def hasher(videos: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashVideoBatched(videos)
      .toDF().select(col("media_id"), col("chash"))

  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int): DataFrame =
    PerceptualDedupCore.dedupBatch(batch, batchId, storeDir, outDir,
      maxHamming, "video", hasher)

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, maxHamming: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    PerceptualDedupCore.start(media, storeDir, outDir, checkpoint,
      maxHamming, "video", hasher)
}
