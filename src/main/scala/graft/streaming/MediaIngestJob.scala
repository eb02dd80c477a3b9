package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StoreLifecycle

/** COMPOSED media ingest — the media twin of CurationIngestJob: one job
  * that takes a mixed-modality media stream (media_id, kind, bytes)
  * through the whole ingest-dedup chain and lands admitted payloads in
  * the lake exactly once:
  *
  *   1. byte-EXACT dedup (any kind): md5(bytes) against a fingerprint
  *      store — the cheapest gate drops byte-identical re-uploads first;
  *   2. modality-perceptual gates, each a pass that writes its store
  *      and returns the payloads it admits: image aHash, audio envelope
  *      hash, video clip hash — re-encodes/rescales/re-masters/
  *      re-contained clips collapse here;
  *   3. admitted payloads written ONCE, hive-partitioned by
  *      (kind, __batch_id) with dynamic overwrite (replays converge);
  *   4. exact FRAME dedup over the admitted videos (its store + frame
  *      artifact are payload-free fingerprint relations).
  *
  * Reference cite: the reference's pipeline discipline is exactly this
  * shape for quotes/news — validate → dedup → partitioned sink in one
  * job (processor_stock_quotes.py:68-91, producer_company_news.py:133);
  * this applies it to the media modality family. Every gate is an
  * [[IngestGate]] (a batch is judged only against earlier batches'
  * store layers, so replays converge), and only fingerprints — md5
  * strings, 8-byte hashes, band keys — ever enter a store or a shuffle;
  * payload bytes move once, scan → lake.
  * Undecodable payloads drop at their modality's perceptual gate (the
  * family's R2-drop contract: a payload no decoder accepts never enters
  * the lake).
  */
object MediaIngestJob {

  /** The perceptual passes in chain order: (store, kind, hasher). */
  private val passes: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("store_image", "image", StreamingMediaDedup.hasher),
    ("store_audio", "audio", StreamingAudioDedup.hasher),
    ("store_clip", "video", StreamingClipDedup.hasher))

  /** One micro-batch through the whole chain. Layout under `baseDir`:
    * store_exact / store_image / store_audio / store_clip /
    * store_frames (fingerprint stores), out (admitted payloads,
    * partitioned by kind and batch), frames (admitted frame rows).
    * Returns the admitted payload relation.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      baseDir: String, maxHamming: Int = 7): DataFrame = {
    // byte-exact gate: the lowest media_id per md5 not stored earlier
    val exact = IngestGate.exact(
        batch.select(col("media_id"), col("kind"), col("bytes"),
          md5(col("bytes")).as("content_md5")),
        batchId, s"$baseDir/store_exact", "content_md5", "media_id",
        Seq("content_md5"))
      .select(col("media_id"), col("kind"), col("bytes"))
    val admitted = passes.foldLeft(exact) { case (b, (store, kind, hasher)) =>
        PerceptualDedupCore.admit(b, batchId, s"$baseDir/$store", maxHamming,
          kind, hasher)
      }
      .localCheckpoint() // admitted set is final: cut the 4-stage lineage
    val out = admitted.withColumn("__batch_id", lit(batchId))
    StoreLifecycle.replacePartitions(out, s"$baseDir/out", "kind", "__batch_id")
    StreamingFrameDedup.dedupBatch(spark, admitted, batchId,
      s"$baseDir/store_frames", s"$baseDir/frames")
    out
  }

  def start(media: DataFrame, baseDir: String, checkpoint: String,
      maxHamming: Int = 7): org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(media, checkpoint) { (batch, id) =>
      ingestBatch(batch.sparkSession, batch, id, baseDir, maxHamming)
    }
}
