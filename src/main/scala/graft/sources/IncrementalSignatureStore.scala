package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-maintained MinHash signature store — the MAINTENANCE half
  * of [[SignatureStore]] (the batch-build half), completing the
  * batch/incremental grid across all three index modalities (text
  * retrieval, vector ANN, dedup signatures). New documents keep
  * arriving; the signature store must stay probe-able without ever
  * re-shingling the corpus.
  *
  * Same MERGE-ON-READ, strictly-per-batch-write design as
  * [[IncrementalTextIndex]]:
  *
  *   buckets/bucket=<0..63>/__batch_id=<M>/  (band, bh, doc_id)
  *   arrays/__batch_id=<M>/                  (doc_id, n_sh, hs sorted)
  *
  * Every write is computed FROM THE BATCH ALONE and lands as that
  * batch's own hive partitions (dynamic partition overwrite): a
  * crash-replayed batch overwrites its own partitions with the same
  * bytes, so the store CONVERGES under replay; batches never contend.
  * The probe path is the shared [[SignatureStore.matchAgainst]] core —
  * bucket partition pruning on the probes' bucket ids works unchanged
  * because `bucket` remains the leading hive partition level — over the
  * layers read with the writer's schema, so no read infers one. Read cost
  * grows with batch COUNT (the LSM trade); `compact` folds committed
  * layers into one and is match-set-neutral (spec-pinned).
  */
object IncrementalSignatureStore {

  import SignatureStore.{Buckets, banded, sortedArrays}

  /** Index one document batch. Idempotent per (batchId, batch). */
  def appendBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String, bands: Int, rows: Int): Unit = {
    val arrays = sortedArrays(batch).persist()
    val buckets = banded(arrays, bands, rows)
      .withColumn("bucket", pmod(col("bh"), lit(Buckets.toLong)))
      .withColumn("__batch_id", lit(batchId))
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("band"), col("bh"))
    // two independent writes over the one persisted batch relation, to
    // disjoint paths — overlapped
    StoreLifecycle.appendLayer(spark, indexDir)(
      () => StoreLifecycle.replacePartitions(buckets, s"$indexDir/buckets",
        "bucket", "__batch_id"),
      () => StoreLifecycle.replacePartitions(
        arrays.withColumn("__batch_id", lit(batchId))
          .repartition(1).sortWithinPartitions(col("doc_id")),
        s"$indexDir/arrays", "__batch_id"))
    arrays.unpersist()
    ()
  }

  /** Probe the maintained store: identical semantics to
    * [[SignatureStore.nearDupMatches]] over the union of all appended
    * batches (the `__batch_id` partition column is dropped on read).
    */
  def nearDupMatches(spark: SparkSession, indexDir: String, probes: DataFrame,
      minJaccard: Double, bands: Int, rows: Int,
      maxBucket: Int = 1000): DataFrame =
    SignatureStore.matchAgainst(spark, probes, minJaccard, bands, rows,
      maxBucket,
      bucketsFor = bs => spark.read
        .schema("band INT, bh BIGINT, doc_id BIGINT, bucket BIGINT, __batch_id BIGINT")
        .parquet(s"$indexDir/buckets")
        .filter(col("bucket").isin(bs: _*))
        .select("band", "bh", "doc_id", "bucket"),
      storeArrays = spark.read.schema("doc_id BIGINT, n_sh INT, hs ARRAY<BIGINT>, __batch_id BIGINT")
        .parquet(s"$indexDir/arrays").select("doc_id", "n_sh", "hs"))

  /** Run the maintainer as a streaming job: every micro-batch of
    * (doc_id, text) appends its own store layer — the checkpointed
    * wiring makes a replayed batch rewrite its own partitions
    * (convergent).
    */
  def start(docs: DataFrame, indexDir: String, checkpoint: String,
      bands: Int, rows: Int): org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(docs, checkpoint) { (batch, id) =>
      appendBatch(batch.sparkSession, batch, id, indexDir, bands, rows)
    }

  /** Fold committed batch layers into `__batch_id = -1`, keeping the
    * newest batch layer as-is ([[StoreLifecycle.foldLayers]]: replay-safe,
    * and it MUST run with the maintaining query stopped). Bounds the LSM
    * read tail; the probe-visible row set is unchanged, so compaction
    * changes bytes-read, never matches.
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    StoreLifecycle.foldLayers(spark, indexDir, "__batch_id")(
      StoreLifecycle.Layered("arrays", Seq("__batch_id"),
        _.select("doc_id", "n_sh", "hs", "__batch_id")
          .repartition(1).sortWithinPartitions(col("doc_id"))),
      StoreLifecycle.Layered("buckets", Seq("bucket", "__batch_id"),
        _.select("band", "bh", "doc_id", "bucket", "__batch_id")
          .transform(graft.Par.byKey(col("bucket")))
          .sortWithinPartitions(col("band"), col("bh"))))
}
