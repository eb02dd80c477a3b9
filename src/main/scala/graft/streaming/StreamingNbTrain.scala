package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.StoreLifecycle

/** Streaming (incrementally maintained) Naive-Bayes trainer — the
  * learnable-curation member of the incremental-index grid (text index /
  * vector index / signature store all have batch + stored + streaming
  * forms; this gives the NB quality model its streaming form). NB
  * training state is PURELY ADDITIVE — per-class token counts sum across
  * any partition of the corpus — so the maintainer is the layer pattern
  * (StreamingCms's shape, not stateful APIs): each micro-batch writes its
  * own (term, cnt_pos, cnt_neg) aggregate as a `batch_id=<id>` partition
  * via a per-writer dynamic partition overwrite (the session conf is
  * never touched), which makes replays IDEMPOTENT (a re-delivered batch
  * overwrites its own layer, never double-counts).
  * The model is merge-on-read: sum the layers by term and apply the ONE
  * llr formula (ops.CorpusOps.nbLlr — shared with the batch trainer), so
  * streamed-then-merged == batch-trained bit-for-bit under any slicing —
  * add-one smoothing and the totals are functions of the SUMMED counts,
  * not of how they arrived. StreamingNbTrainSpec pins equality against
  * ops.CorpusOps's batch model, slicing-invariance, and replay
  * convergence; the merged model feeds StreamingNbFilter via llrNanos,
  * closing the loop: stream-train → ship → stream-score.
  *
  * At 100 TB: a layer is vocab-sized (one row per distinct term seen in
  * the batch), the merge shuffles O(vocab × layers) count rows — never
  * text — and a compaction (rewrite the summed counts as one layer) is
  * the same one-liner the other layer stores use.
  */
object StreamingNbTrain {

  /** One micro-batch's contribution, written as its own layer partition.
    * Exposed (not inlined in foreachBatch) so the replay-idempotence
    * property is directly testable: calling this twice with the same
    * `batchId` must leave the store unchanged.
    */
  def writeBatch(batch: DataFrame, batchId: Long, store: String): Unit =
    StoreLifecycle.appendLayer(batch.sparkSession, store)(() =>
      StoreLifecycle.replacePartitions(
        graft.ops.CorpusOps.nbClassCounts(batch).withColumn("batch_id", lit(batchId)),
        s"$store/counts", "batch_id"))

  /** Start the maintainer over a streaming (text, source) document feed. */
  def start(docs: DataFrame, store: String, checkpoint: String): StreamingQuery =
    StoreLifecycle.maintain(docs, checkpoint)((batch, id) => writeBatch(batch, id, store))

  /** Merge-on-read model: layers sum by term, then the shared llr
    * formula. Bit-equal to batch training on the union of the batches.
    */
  def mergedModel(spark: SparkSession, store: String): DataFrame = {
    // a replayed batch OVERWRITES its own layer partition in place —
    // evict any cached file listing of the store or a reader planned
    // before the replay resolves the pre-overwrite file names
    spark.catalog.refreshByPath(s"$store/counts")
    graft.ops.CorpusOps.nbLlr(
      spark.read.parquet(s"$store/counts")
        .groupBy(col("term"))
        .agg(sum(col("cnt_pos")).as("cnt_pos"),
          sum(col("cnt_neg")).as("cnt_neg")))
  }

  /** Compact the layer store: the committed layers' summed counts become
    * ONE layer (batch_id = -1) and the newest layer is kept as it is
    * ([[StoreLifecycle.foldLayers]]) — same merge-on-read result,
    * O(vocab) files instead of O(batches). Keeping the newest layer is
    * what makes the fold replay-safe: a batch that crashed after its
    * layer write is replayed after the fold and overwrites only its own
    * layer, instead of being counted once inside -1 and again in its
    * replayed layer. MUST run with the maintainer stopped.
    */
  def compact(spark: SparkSession, store: String): Unit =
    StoreLifecycle.foldLayers(spark, store, "batch_id")(
      StoreLifecycle.Layered("counts", Seq("batch_id"),
        _.groupBy(col("term"), col("batch_id"))
          .agg(sum(col("cnt_pos")).as("cnt_pos"), sum(col("cnt_neg")).as("cnt_neg"))))

  /** The merged model in StreamingNbFilter's shipping form (llr nanos). */
  def llrNanos(model: DataFrame): Map[String, Long] =
    model.select(col("term"),
        (col("llr") * lit(1000000000L)).cast("long").as("nanos"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}
