package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-maintained window-hash store — the MAINTENANCE half of
  * [[ExactSpanStore]] (the batch-build half), closing the last open
  * cell of the batch/incremental index grid (text retrieval, vector
  * ANN, MinHash signatures, perceptual media, and now exact
  * substrings). New documents keep arriving; the exact-substring
  * report → cut loop must stay runnable without re-hashing the corpus
  * windows.
  *
  * Same MERGE-ON-READ, strictly-per-batch-write design as
  * [[IncrementalSignatureStore]]:
  *
  *   wins/bucket=<0..63>/__batch_id=<M>/   (doc_id, pos, h)
  *
  * Every write is computed FROM THE BATCH ALONE (a document's windows
  * depend on no other document) and lands as that batch's own hive
  * partitions via dynamic partition overwrite: a crash-replayed batch
  * overwrites its own partitions with the same bytes, so the store
  * CONVERGES under replay; batches never contend. The probe is the
  * shared [[ExactSpanStore.spansFromWindows]] core over the union of
  * all layers, read with the writer's schema so no read infers one —
  * cross-layer repeats are found because the
  * duplicated-hash set groups over ALL layers, so incremental
  * maintenance changes bytes-read, never spans (ExactSpanStoreSpec
  * pins bit-identity against the batch-built store). Read cost grows
  * with batch COUNT (the LSM trade); [[compact]] folds committed
  * layers and is span-set-neutral.
  */
object IncrementalExactSpanStore {

  /** Index one document batch. Idempotent per (batchId, batch).
    * `bytes` selects the granularity (UTF-8 byte windows — the
    * repeatedSpansExactBytes convention — vs char windows); a store is
    * built and probed in ONE granularity.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String, minLen: Int, bytes: Boolean = false): Unit = {
    StoreLifecycle.appendLayer(spark, indexDir)(() =>
      StoreLifecycle.replacePartitions(
        ExactSpanStore.bucketedWindows(batch, minLen, bytes)
          .withColumn("__batch_id", lit(batchId))
          .transform(graft.Par.byKey(col("bucket")))
          .sortWithinPartitions(col("h"), col("doc_id"), col("pos")),
        s"$indexDir/wins", "bucket", "__batch_id"))
  }

  /** Exact spans over the union of all appended layers — identical
    * semantics to [[ExactSpanStore.spans]] (the `__batch_id` partition
    * column is dropped on read).
    */
  def spans(spark: SparkSession, indexDir: String, docs: DataFrame,
      minLen: Int, crossDocOnly: Boolean = true,
      bytes: Boolean = false): DataFrame =
    ExactSpanStore.spansFromWindows(
      spark.read.schema("doc_id BIGINT, pos BIGINT, h BIGINT, bucket BIGINT, __batch_id BIGINT")
        .parquet(s"$indexDir/wins").select("doc_id", "pos", "h"),
      docs, minLen, crossDocOnly, bytes)

  /** Run the maintainer as a streaming job: every micro-batch of
    * (doc_id, text) appends its own layer — the checkpointed wiring
    * makes a replayed batch rewrite its own partitions (convergent).
    */
  def start(docs: DataFrame, indexDir: String, checkpoint: String,
      minLen: Int,
      bytes: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(docs, checkpoint) { (batch, id) =>
      appendBatch(batch.sparkSession, batch, id, indexDir, minLen, bytes)
    }

  /** Fold committed batch layers into `__batch_id = -1`, keeping the
    * newest layer as-is ([[StoreLifecycle.foldLayers]]: replay-safe, and
    * it MUST run with the maintaining query stopped). Probe-visible rows
    * are unchanged: compaction changes bytes-read, never spans.
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    StoreLifecycle.foldLayers(spark, indexDir, "__batch_id")(
      StoreLifecycle.Layered("wins", Seq("bucket", "__batch_id"),
        _.select("doc_id", "pos", "h", "bucket", "__batch_id")
          .transform(graft.Par.byKey(col("bucket")))
          .sortWithinPartitions(col("h"), col("doc_id"), col("pos"))))
}
