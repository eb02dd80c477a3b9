package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.LongType
import graft.sources.StoreLifecycle

/** End-to-end streaming corpus ingest — the composition the individual
  * streaming pieces exist FOR, as one runnable job: incoming documents
  * pass the model-based quality gate (the same codegen
  * `LinearTextScore` + token-count rules the batch `q_quality_classifier`
  * / `q_quality_gate` apply), survivors dedup exactly on content hash
  * (`StreamingExactDedup` — O(1) RocksDB state per distinct hash,
  * first-seen-wins across batches), and the curated stream lands in a
  * source-partitioned parquet lake through the checkpointed file sink
  * (exactly-once: the sink's transaction log makes replayed batches
  * idempotent, so the lake converges to the same content under any
  * micro-batch slicing — spec-pinned).
  *
  * Scale: the gate is a pure map (streams at input bandwidth); the only
  * shuffle is the 16-byte content-hash exchange for dedup (a two-seed
  * 128-bit key — see curate); document bodies cross the wire once.
  * State never grows with stream length, only with distinct-content
  * count (TTL-able via StreamingExactDedup).
  */
object CurationIngestJob {

  final case class IncomingDoc(doc_id: Long, text: String, source: String)
  final case class CuratedDoc(doc_id: Long, text: String, source: String,
      n_tokens: Long, score: Long)

  /** The curation transform: quality gate then exact content dedup.
    * Pure function of the input stream — reusable against any source.
    */
  def curate(docs: Dataset[IncomingDoc], minTokens: Long = 3L): Dataset[CuratedDoc] = {
    implicit val enc = Encoders.product[CuratedDoc]
    val gated = docs.toDF()
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .withColumn("score",
        graft.functions.TextFunctions.linearTextScore(col("text")))
      .where(col("n_tokens") >= minTokens && col("score") > 0L)
      .select(col("doc_id"), col("text"), col("source"),
        col("n_tokens"), col("score"))
      .as[CuratedDoc]
    // 128-bit content key (two independent-seed XXH64s): at crawl scale
    // a 64-bit key expects birthday collisions, each silently dropping a
    // distinct document with no verify pass to catch it — this job has
    // no downstream exact anti-join, so it pays 8 more state bytes/key
    // for a ~10^-18 expected collision count instead.
    StreamingExactDedup.apply128(gated, { d =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(d.text)
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, 42L),
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(u, 1042L))
    })
  }

  /** Start the ingest job writing the curated lake. The parquet sink's
    * checkpoint gives exactly-once; partitioning by source keeps the
    * lake layout query-prunable (the W1/W2 partitioned-sink shape).
    */
  def start(docs: Dataset[IncomingDoc], outDir: String,
      checkpointDir: String, minTokens: Long = 3L): StreamingQuery =
    curate(docs, minTokens).writeStream
      .format("parquet")
      .partitionBy("source")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Read the curated lake back (batch side). */
  def lake(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)

  /** The FULL streaming pipeline in one job: quality gate → exact dedup
    * → packed training shards — incoming raw documents leave as
    * fixed-budget token-id sequences, across micro-batch boundaries,
    * exactly once (the StreamingPackedShards ledger + dynamic-overwrite
    * discipline). This is the streaming twin of q_pipeline_pack's batch
    * composition; CurationIngestJobSpec pins stream == batch (curate the
    * same corpus in batch, pack with PackedShards.writeBatch, compare
    * sequences) under micro-batch slicings.
    */
  def startPacked(docs: Dataset[IncomingDoc], storeDir: String,
      outDir: String, checkpointDir: String, minTokens: Long = 3L,
      budget: Long = graft.sources.PackedShards.DefaultBudget)
      : StreamingQuery =
    StoreLifecycle.maintain(curate(docs, minTokens).toDF(), checkpointDir) {
      (batch, id) => StreamingPackedShards.packBatch(batch.sparkSession, batch,
        id, storeDir, outDir, budget)
    }
}
