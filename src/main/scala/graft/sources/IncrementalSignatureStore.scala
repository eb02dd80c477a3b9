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
  * because `bucket` remains the leading hive partition level. Read cost
  * grows with batch COUNT (the LSM trade); `compact` folds all batch
  * partitions into one and is match-set-neutral (spec-pinned).
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
    // disjoint paths — overlapped (Par.inParallel)
    graft.Par.inParallel(
      () => buckets.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "__batch_id")
        .parquet(s"$indexDir/buckets"),
      () => arrays.withColumn("__batch_id", lit(batchId))
        .repartition(1).sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(s"$indexDir/arrays"))
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
      bucketsFor = bs => spark.read.parquet(s"$indexDir/buckets")
        .filter(col("bucket").isin(bs: _*))
        .select("band", "bh", "doc_id", "bucket"),
      storeArrays = spark.read.parquet(s"$indexDir/arrays")
        .select("doc_id", "n_sh", "hs"))

  /** Run the maintainer as a streaming job: every micro-batch of
    * (doc_id, text) appends its own store layer — the foreachBatch +
    * checkpoint pairing makes a replayed batch rewrite its own
    * partitions (convergent), the same wiring as
    * [[IncrementalTextIndex.start]].
    */
  def start(docs: DataFrame, indexDir: String, checkpoint: String,
      bands: Int, rows: Int): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(batch.sparkSession, batch, id, indexDir, bands, rows)
        ()
      }
      .start()

  /** Reserved layer id for compacted rows. NEGATIVE by design: streaming
    * batch ids start at 0, so a folded layer must live where no replayed
    * batch can dynamic-overwrite it.
    */
  val CompactedLayer: Long = -1L

  /** Fold COMMITTED batch layers into the reserved `__batch_id = -1`
    * layer, keeping the newest batch layer as-is — bounds the LSM read
    * tail while staying replay-safe: after a crash, Structured Streaming
    * re-runs at most the LAST (possibly uncommitted) micro-batch, whose
    * layer is deliberately left unfolded, so the replay overwrites its
    * own partitions and converges; earlier batches are durable by the
    * time a later one ran and folding them cannot race a replay. (The
    * standing contract, shared with IncrementalTextIndex: batch ids are
    * monotone for the life of the store — deleting the streaming
    * checkpoint while keeping the store is out of contract.) The
    * probe-visible row set is unchanged, so compaction changes
    * bytes-read, never matches.
    *
    * Swap discipline: StoreSwap.swapIn — staged tree, live root moved
    * ASIDE (not deleted), stage renamed in, old tree dropped last; a
    * failed rename restores the original, so the only copy of a store
    * that cannot be rebuilt from a corpus file is never lost. (A reader
    * racing the two renames can still observe a missing root for one FS
    * op — same exposure as the batch stores' swap — but no failure mode
    * leaves the store permanently gone.)
    *
    * MUST run with the maintaining streaming query STOPPED (unlike
    * IncrementalTextIndex.compactTo, which folds into a SEPARATE batch
    * store dir and never touches the appending tree, this compaction
    * rewrites the live root in place): an appendBatch landing
    * between the two renames would write into the moved-aside tree or
    * recreate the root — making the rename-in fail and silently dropping
    * that batch's layer. Quiesce (query.stop()), compact, restart; the
    * checkpoint replays the in-flight batch into the compacted store and
    * converges.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val f = StoreSwap.fs(spark, indexDir)
    // sweep .old-*/.compact-* orphans from crashed/raced swaps (leak fix);
    // the caller has quiesced (contract above), so no staged sibling is live
    StoreSwap.sweepOrphans(f, new org.apache.hadoop.fs.Path(indexDir))
    // empty or never-appended store: nothing to fold
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$indexDir/arrays"))) return
    // the hive partition column reads back with an INFERRED numeric type
    // (int for small ids) — normalize to long before comparing/folding
    val allArrays = spark.read.parquet(s"$indexDir/arrays")
      .withColumn("__batch_id", col("__batch_id").cast("long"))
    val maxRow = allArrays.agg(max(col("__batch_id"))).head
    if (maxRow.isNullAt(0)) return // zero rows appended so far
    val maxBatch = maxRow.getLong(0)
    val fold = (c: org.apache.spark.sql.Column) =>
      when(c.cast("long") < maxBatch, lit(CompactedLayer)).otherwise(c.cast("long"))
    val buckets = spark.read.parquet(s"$indexDir/buckets")
      .withColumn("__batch_id", fold(col("__batch_id")))
      .select("band", "bh", "doc_id", "bucket", "__batch_id")
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("band"), col("bh"))
    val arrays = allArrays
      .withColumn("__batch_id", fold(col("__batch_id")))
      .select("doc_id", "n_sh", "hs", "__batch_id")
      .repartition(1).sortWithinPartitions(col("doc_id"))
    val tmp = indexDir + ".compact-" + java.util.UUID.randomUUID().toString.take(8)
    buckets.write.partitionBy("bucket", "__batch_id").parquet(s"$tmp/buckets")
    arrays.write.partitionBy("__batch_id").parquet(s"$tmp/arrays")
    StoreSwap.swapIn(f, new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(indexDir))
  }
}
