package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.StoreLifecycle

/** Streaming form of the packed-training-shard writer
  * (sources.PackedShards): documents arriving on a stream are packed
  * into the SAME fixed-budget token-id sequences the batch writer
  * produces, across micro-batch boundaries, exactly once.
  *
  * State is a tiny parquet ledger at `storeDir`, partitioned by
  * `__batch_id` (the dynamic-overwrite replay discipline every graft
  * streaming store uses): one row per processed batch carrying
  * (next_seq, tail) — the global sequence counter and the < budget
  * leftover token ids of the last, incomplete sequence. A batch packs
  * (predecessor tail ++ its documents in doc_id order), emits only the
  * COMPLETE sequences to `outDir/__batch_id=<id>`, and writes its ledger
  * row. A replayed batch id reads the same predecessor row (its own row
  * is never its input) and overwrites both its partitions, so replays
  * converge byte-for-byte — StreamingPackedShardsSpec pins stream ==
  * batch under any slicing and replay idempotence.
  *
  * State is O(budget) ints + one counter per batch — bounded regardless
  * of stream length; the per-batch ledger rows are swept by compaction
  * jobs at the same cadence as the other incremental stores.
  */
object StreamingPackedShards {

  private val TailDocId = -1L // sorts before every real doc_id (>= 0)

  /** The ledger layout: packBatch writes it, [[state]] reads it. */
  private val Ledger = StructType(Seq(StructField("next_seq", LongType, false),
    StructField("tail", ArrayType(IntegerType, false)),
    StructField("__batch_id", LongType, false)))

  /** (next_seq, tail) after the latest batch strictly before `batchId` —
    * the deterministic predecessor state a (re)play of `batchId` packs
    * from.
    */
  def state(spark: SparkSession, storeDir: String,
      batchId: Long): (Long, Seq[Int]) = {
    val rows = StoreLifecycle.priorLayers(spark, storeDir, batchId, Ledger)
      .orderBy(col("__batch_id").desc).limit(1)
      .select(col("next_seq"), col("tail")).collect()
    if (rows.isEmpty) (0L, Nil)
    else (rows(0).getLong(0), rows(0).getSeq[Int](1))
  }

  /** Pack one micro-batch of (doc_id, text) rows. Emits complete
    * sequences to `outDir/__batch_id=<batchId>` and the updated ledger
    * row to `storeDir/__batch_id=<batchId>`, both dynamic-overwrite.
    */
  def packBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String,
      budget: Long = graft.sources.PackedShards.DefaultBudget): Unit = {
    import spark.implicits._
    val (nextSeq, tail) = state(spark, storeDir, batchId)
    val docIds = batch.select(col("doc_id"),
      graft.functions.BpeEncodeIds.bpeIds(col("text")).as("tids"))
    val stream =
      if (tail.isEmpty) docIds
      else Seq((TailDocId, tail)).toDF("doc_id", "tids").unionByName(docIds)
    val offs = graft.sources.PackedShards.withOffsets(stream, col("tids"))
    val total = offs.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .collect()(0).getLong(0)
    val nComplete = total / budget
    val all = graft.sources.PackedShards.packed(offs, budget)
    // n_docs is NOT carried: the tail rides as one pseudo-doc, so a
    // boundary sequence's contributing-doc count is not recoverable
    // here — the streaming artifact is (seq, tokens, n_tokens), which is
    // what the parity spec pins against the batch writer
    StoreLifecycle.replacePartitions(
      all.filter(col("seq") < nComplete)
        .withColumn("seq", col("seq") + nextSeq)
        .select(col("seq"), col("tokens"), col("n_tokens"))
        .withColumn("__batch_id", lit(batchId)),
      outDir, "__batch_id")
    val newTail: Seq[Int] = all.filter(col("seq") === nComplete)
      .select(col("tokens")).collect()
      .headOption.map(_.getSeq[Int](0)).getOrElse(Nil)
    StoreLifecycle.replacePartitions(
      spark.createDataFrame(java.util.List.of(Row(nextSeq + nComplete, newTail, batchId)),
        Ledger),
      storeDir, "__batch_id")
  }

  /** Materialize the final partial sequence (if any) — the end-of-corpus
    * flush, written under the reserved max batch id so a later real
    * batch can never collide with it. Idempotent: re-flushing overwrites
    * the same partition with the same row.
    */
  def flush(spark: SparkSession, storeDir: String, outDir: String): Unit = {
    import spark.implicits._
    val (nextSeq, tail) = state(spark, storeDir, Long.MaxValue)
    if (tail.nonEmpty) {
      StoreLifecycle.replacePartitions(
        Seq((nextSeq, tail, tail.size.toLong, Long.MaxValue))
          .toDF("seq", "tokens", "n_tokens", "__batch_id"),
        outDir, "__batch_id")
    }
  }

  /** Wire a document stream (doc_id, text) through the per-batch packer. */
  def start(docs: DataFrame, storeDir: String, outDir: String,
      checkpoint: String,
      budget: Long = graft.sources.PackedShards.DefaultBudget)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(docs, checkpoint) { (batch, id) =>
      packBatch(batch.sparkSession, batch, id, storeDir, outDir, budget)
    }
}
