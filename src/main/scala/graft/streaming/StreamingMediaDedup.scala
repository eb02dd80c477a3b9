package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.StoreLifecycle

/** Shared banded-store core of the streaming PERCEPTUAL dedup family —
  * one discipline for every 64-bit perceptual fingerprint (image aHash,
  * audio envelope hash): a media item is dropped when its hash lies
  * within `maxHamming` of an earlier-ingested item's, so byte-different
  * re-encodes and mild perturbations collapse at ingest time, before
  * payloads ever land in the lake.
  *
  * Store discipline: foreachBatch + a hive-partitioned band-key store,
  * dynamic partition overwrite so a replayed batch id converges. Banding
  * is 8 bands × 8 bits — lossless for Hamming <= 7 by pigeonhole. The
  * store holds only (band, key, media_id, phash) longs — payload bytes
  * are decoded partition-locally for hashing and never enter the store
  * or any shuffle. Within a batch the greedy lower-id resolution of the
  * text form applies unchanged.
  */
private[streaming] object PerceptualDedupCore {

  val BANDS = 8
  private val KeyBits = 64 / BANDS
  private val Mask = (1L << KeyBits) - 1

  private def banded(fp: DataFrame): DataFrame =
    fp.select(col("media_id"), col("phash"),
      explode(expr(
        s"transform(sequence(0, ${BANDS - 1}), b -> struct(b AS band, shiftright(phash, b * $KeyBits) & $Mask AS key))"))
        .as("bb"))
      .select(col("media_id"), col("phash"), col("bb.band"), col("bb.key"))

  /** Dedup one micro-batch of (media_id, kind, bytes) against the store;
    * admitted media go to `outDir/__batch_id=<id>`, their band rows to
    * the store — both dynamic-overwrite, so replays converge.
    * Undecodable payloads are dropped by the hasher (R2); kinds other
    * than `kind` pass through untouched (each pass is modality-scoped;
    * exact byte dedup upstream covers the rest).
    *
    * `hashed` maps the kind-filtered batch to (media_id, phash) — the
    * only seam that differs between modalities.
    */
  /** `writeOut = false` runs the pass as a pure gate: the band store is
    * still written (the dedup state must persist), but the admitted
    * payloads are only RETURNED, not written — the seam MediaIngestJob
    * uses to chain the modality passes and write payloads exactly once
    * at the end of the chain.
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int, kind: String,
      hashed: DataFrame => DataFrame, writeOut: Boolean = true): DataFrame = {
    require(maxHamming < BANDS,
      s"banding is lossless only for maxHamming < $BANDS, got $maxHamming")
    val fp = hashed(batch.filter(col("kind") === kind))
      .toDF("media_id", "phash").persist()
    val bb = banded(fp)
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeExists = storePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(storePath)
    val store: DataFrame =
      if (storeExists)
        // STRICTLY-EARLIER batches only (the StreamingPackedShards ledger
        // discipline): a replayed batch id must not see the rows its own
        // previous attempt wrote, or recovery finds every item "already
        // ingested", admits nothing, and the no-op dynamic overwrite
        // leaves outDir permanently missing the batch's media.
        spark.read.parquet(storeDir)
          .filter(col("__batch_id") < batchId)
          .select(col("band"), col("key"), col("media_id").as("old_id"),
            col("phash").as("old_hash"))
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("band", IntegerType),
            StructField("key", LongType), StructField("old_id", LongType),
            StructField("old_hash", LongType))))
    val ham = expr("bit_count(phash ^ old_hash)")
    val vsStore = bb.join(store, Seq("band", "key"))
      .filter(col("media_id") =!= col("old_id"))
      .select(col("media_id"), col("phash"), col("old_hash")).distinct()
      .filter(ham <= maxHamming)
      .select(col("media_id")).distinct()
    val survivors = bb.join(vsStore.withColumnRenamed("media_id", "dead"),
        col("media_id") === col("dead"), "left_anti")
    val vsBatch = survivors.as("x").join(survivors.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.media_id") > col("y.media_id"))
      .select(col("x.media_id").as("media_id"), col("x.phash").as("phash"),
        col("y.phash").as("old_hash"))
      .distinct()
      .filter(ham <= maxHamming)
      .select(col("media_id")).distinct()
    val dropped = vsStore.unionAll(vsBatch).distinct()
    val keptIds = fp.join(dropped, Seq("media_id"), "left_anti")
      .select(col("media_id"), col("phash"))
      .localCheckpoint()
    fp.unpersist()
    StoreLifecycle.replacePartitions(
      banded(keptIds).select(col("band"), col("key"), col("media_id"),
        col("phash"), lit(batchId).as("__batch_id")),
      storeDir, "__batch_id")
    // admitted payloads to the lake: other kinds pass through; this
    // kind only if its id survived the perceptual pass
    val kept = batch
      .join(keptIds.select(col("media_id")), Seq("media_id"), "left_semi")
      .unionByName(batch.filter(col("kind") =!= kind))
      .select(col("media_id"), col("kind"), col("bytes"),
        lit(batchId).as("__batch_id"))
    if (writeOut) StoreLifecycle.replacePartitions(kept, outDir, "__batch_id")
    kept
  }

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, maxHamming: Int, kind: String,
      hashed: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(media, checkpoint) { (batch, id) =>
      dedupBatch(batch.sparkSession, batch, id, storeDir, outDir,
        maxHamming, kind, hashed)
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

  private def hasher(images: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashImagesBatched(images)
      .toDF().select(col("media_id"), col("ahash"))

  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int): DataFrame =
    PerceptualDedupCore.dedupBatch(spark, batch, batchId, storeDir, outDir,
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

  private def hasher(audio: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashAudioBatched(audio)
      .toDF().select(col("media_id"), col("ehash"))

  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int): DataFrame =
    PerceptualDedupCore.dedupBatch(spark, batch, batchId, storeDir, outDir,
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

  private def hasher(videos: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashVideoBatched(videos)
      .toDF().select(col("media_id"), col("chash"))

  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, maxHamming: Int): DataFrame =
    PerceptualDedupCore.dedupBatch(spark, batch, batchId, storeDir, outDir,
      maxHamming, "video", hasher)

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, maxHamming: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery =
    PerceptualDedupCore.start(media, storeDir, outDir, checkpoint,
      maxHamming, "video", hasher)
}
