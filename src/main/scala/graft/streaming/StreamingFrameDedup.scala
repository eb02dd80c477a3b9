package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.StoreLifecycle

/** Streaming FRAME-level video dedup — the video member of the
  * ingest-time dedup family, closing the three-modality grid
  * (image aHash / audio envelope hash / video frames): each arriving
  * video's 4 sampled frames (the deterministic quarter slices of
  * q_frame_sample's schedule) fingerprint individually, and a frame
  * whose fingerprint was already ingested — by ANY earlier video, or by
  * a lower-keyed batchmate — is dropped, so shared intros/outros/static
  * frames collapse at ingest time.
  *
  * Unlike the perceptual members this is EXACT identity (the q_frame_dedup
  * semantics: md5 over the hex of the byte slice), so the store needs no
  * banding: an [[IngestGate.exact]] gate over (frame_md5, fkey) rows.
  * Payload bytes are sliced and hashed partition-locally; only 16-byte
  * fingerprints enter the store or any shuffle. StreamingFrameDedupSpec
  * pins the stream-maintained admitted set equal to the batch keeper set
  * (min fkey per distinct frame) under id-ordered ingest, across any
  * slicing.
  */
object StreamingFrameDedup {

  /** (media_id, fi, fkey, frame_md5) for every non-empty quarter slice
    * of every video payload in the batch — the q_frame_dedup frame
    * schedule on real bytes.
    */
  private[streaming] def frames(batch: DataFrame): DataFrame =
    batch.filter(col("kind") === "video")
      .select(col("media_id"), col("bytes"),
        octet_length(col("bytes")).cast(LongType).as("n"))
      .filter(col("n") > 0)
      .select(col("media_id"), col("bytes"), col("n"),
        explode(sequence(lit(0L), lit(3L))).as("fi"))
      .withColumn("st", expr("fi * n div 4"))
      .withColumn("fl", expr("(fi + 1) * n div 4") - col("st"))
      .filter(col("fl") > 0)
      .select(col("media_id"), col("fi"),
        (col("media_id") * 4 + col("fi")).as("fkey"),
        md5(hex(expr("substring(bytes, st + 1, fl)"))).as("frame_md5"))

  /** Dedup one micro-batch's frames through [[IngestGate.exact]] (key
    * frame_md5, keeper the min fkey); admitted frame rows go to
    * `outDir/__batch_id=<id>`, partition-replacing, so replays converge.
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String): DataFrame = {
    val out = IngestGate.exact(frames(batch), batchId, storeDir, "frame_md5",
        "fkey", Seq("frame_md5", "fkey"))
      .withColumn("__batch_id", lit(batchId))
    StoreLifecycle.replacePartitions(out, outDir, "__batch_id")
    out
  }

  def start(media: DataFrame, storeDir: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(media, checkpoint) { (batch, id) =>
      dedupBatch(batch.sparkSession, batch, id, storeDir, outDir)
    }
}
