package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.StoreLifecycle

/** COMPOSED media ingest — the media twin of CurationIngestJob: one job
  * that takes a mixed-modality media stream (media_id, kind, bytes)
  * through the whole ingest-dedup chain and lands admitted payloads in
  * the lake exactly once:
  *
  *   1. byte-EXACT dedup (any kind): md5(bytes) against a fingerprint
  *      store — the cheapest gate drops byte-identical re-uploads first;
  *   2. modality-perceptual gates, each a pure pass (store written,
  *      payloads only returned): image aHash, audio envelope hash,
  *      video clip hash — re-encodes/rescales/re-masters/re-contained
  *      clips collapse here;
  *   3. admitted payloads written ONCE, hive-partitioned by
  *      (kind, __batch_id) with dynamic overwrite (replays converge);
  *   4. exact FRAME dedup over the admitted videos (its store + frame
  *      artifact are payload-free fingerprint relations).
  *
  * Reference cite: the reference's pipeline discipline is exactly this
  * shape for quotes/news — validate → dedup → partitioned sink in one
  * job (processor_stock_quotes.py:68-91, producer_company_news.py:133);
  * this applies it to the media modality family. Every store read
  * filters `__batch_id < batchId` (the replay-safety discipline), and
  * only fingerprints — md5 strings, 8-byte hashes, band keys — ever
  * enter a store or a shuffle; payload bytes move once, scan → lake.
  * Undecodable payloads drop at their modality's perceptual gate (the
  * family's R2-drop contract: a payload no decoder accepts never enters
  * the lake).
  */
object MediaIngestJob {

  /** Byte-exact gate: drop any payload whose md5 was ingested by a
    * strictly earlier batch or by a lower-id batchmate; admit the rest
    * and record their fingerprints.
    */
  private def exactBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String): DataFrame = {
    val hashed = batch
      .select(col("media_id"), col("kind"), col("bytes"),
        md5(col("bytes")).as("content_md5"))
      .persist()
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeExists = storePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(storePath)
    val store: DataFrame =
      if (storeExists)
        spark.read.parquet(storeDir)
          .filter(col("__batch_id") < batchId)
          .select(col("content_md5"))
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("content_md5", StringType))))
    val fresh = hashed.join(store, Seq("content_md5"), "left_anti")
    val keepers = fresh.groupBy(col("content_md5"))
      .agg(min(col("media_id")).as("media_id"))
    val kept = fresh
      .join(keepers, Seq("content_md5", "media_id"), "left_semi")
      .localCheckpoint()
    hashed.unpersist()
    StoreLifecycle.replacePartitions(
      kept.select(col("content_md5"), lit(batchId).as("__batch_id")),
      storeDir, "__batch_id")
    kept.select(col("media_id"), col("kind"), col("bytes"))
  }

  private def imageHasher(images: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashImagesBatched(images)
      .toDF().select(col("media_id"), col("ahash"))

  private def audioHasher(audio: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashAudioBatched(audio)
      .toDF().select(col("media_id"), col("ehash"))

  private def clipHasher(videos: DataFrame): DataFrame =
    graft.multimodal.Multimodal.perceptualHashVideoBatched(videos)
      .toDF().select(col("media_id"), col("chash"))

  /** One micro-batch through the whole chain. Layout under `baseDir`:
    * store_exact / store_image / store_audio / store_clip /
    * store_frames (fingerprint stores), out (admitted payloads,
    * partitioned by kind and batch), frames (admitted frame rows).
    * Returns the admitted payload relation.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      baseDir: String, maxHamming: Int = 7): DataFrame = {
    val b1 = exactBatch(spark, batch, batchId, s"$baseDir/store_exact")
    val b2 = PerceptualDedupCore.dedupBatch(spark, b1, batchId,
        s"$baseDir/store_image", outDir = s"$baseDir/unused",
        maxHamming, "image", imageHasher, writeOut = false)
      .select(col("media_id"), col("kind"), col("bytes"))
    val b3 = PerceptualDedupCore.dedupBatch(spark, b2, batchId,
        s"$baseDir/store_audio", outDir = s"$baseDir/unused",
        maxHamming, "audio", audioHasher, writeOut = false)
      .select(col("media_id"), col("kind"), col("bytes"))
    val b4 = PerceptualDedupCore.dedupBatch(spark, b3, batchId,
        s"$baseDir/store_clip", outDir = s"$baseDir/unused",
        maxHamming, "video", clipHasher, writeOut = false)
      .select(col("media_id"), col("kind"), col("bytes"))
      .localCheckpoint() // admitted set is final: cut the 4-stage lineage
    val admitted = b4.withColumn("__batch_id", lit(batchId))
    StoreLifecycle.replacePartitions(admitted, s"$baseDir/out", "kind", "__batch_id")
    StreamingFrameDedup.dedupBatch(spark, b4, batchId,
      s"$baseDir/store_frames", s"$baseDir/frames")
    admitted
  }

  def start(media: DataFrame, baseDir: String, checkpoint: String,
      maxHamming: Int = 7): org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(media, checkpoint) { (batch, id) =>
      ingestBatch(batch.sparkSession, batch, id, baseDir, maxHamming)
    }
}
