package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StoreLifecycle

/** Streaming maintenance of a Count-Min frequency sketch — the
  * incremental form where "incremental == batch" holds BIT-FOR-BIT, not
  * just semantically: CMS merge is elementwise addition
  * (functions/CountMinFunctions.scala), so per-micro-batch sketch layers
  * folded at read time equal the one-pass sketch of the whole history
  * exactly (StreamingCmsSpec pins the byte equality). That makes this
  * the simplest member of the incremental-index family: no compaction
  * semantics to prove, no merge-on-read subtleties — a layer per batch
  * under dynamic partition overwrite (replays converge by overwriting
  * their own layer), one 16 KB image per batch, merged with one tiny
  * aggregate at query time.
  *
  * Scale: each micro-batch shuffles nothing new — the sketch aggregate
  * is a partial-agg tree over the batch; the store grows by
  * depth x width longs per batch regardless of batch size or key
  * cardinality, and a periodic compaction is just cms_merge_agg written
  * back as one layer (exactness is unconditional, so compaction needs
  * no quiesce proof beyond the store-swap discipline).
  */
object StreamingCms {

  /** Per-batch fold: sketch this batch's `keyCol` and write the image as
    * layer `__batch_id=<id>`.
    */
  def sketchBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keyCol: String, storeDir: String): Unit = {
    StoreLifecycle.replacePartitions(
      batch.agg(graft.functions.CmsFunctions.cmsAgg(spark, col(keyCol)).as("sk"))
        .select(col("sk"), lit(batchId).as("__batch_id")),
      storeDir, "__batch_id")
  }

  /** Wire a streaming source through the per-batch sketch maintainer. */
  def start(ds: DataFrame, keyCol: String, storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(ds, checkpoint) { (batch, id) =>
      sketchBatch(batch.sparkSession, batch, id, keyCol, storeDir)
    }

  /** The sketch of everything ingested so far: fold all layers. */
  def mergedImage(spark: SparkSession, storeDir: String): Array[Byte] =
    spark.read.parquet(storeDir)
      .agg(graft.functions.CmsFunctions.cmsMergeAgg(spark, col("sk")).as("sk"))
      .head.getAs[Array[Byte]](0)
}
