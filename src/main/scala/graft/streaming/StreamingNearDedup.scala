package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.StoreLifecycle

/** Streaming NEAR-duplicate dedup — the MinHash+LSH sibling of
  * [[StreamingExactDedup]] for a corpus-ingest stream: a document is
  * dropped when its MinHash signature agrees with an earlier-ingested
  * document's on >= `minSigSim` of its components AND the two share at
  * least one LSH band bucket (the reference batch form: ops/TextDedup
  * .minhashPairs; signature agreement is the unbiased Jaccard estimator,
  * so precision here is probabilistic where the batch query's exact
  * verify is not — state keeps 64 longs/doc instead of the full shingle
  * set, the trade a 100 TB ingest makes).
  *
  * Shape: foreachBatch + a persisted band-bucket signature store, NOT a
  * transformWithState op — the drop decision needs "any of my 16 band
  * buckets matched", and per-key state cannot see across keys; a keyed
  * stateful op would still need a per-doc verdict aggregation behind it.
  * The store is a hive-partitioned parquet dir keyed by ingest batch
  * (`__batch_id=`), so
  *  - candidate lookup is one (band, bh) equi-join against the store —
  *    band-bucket collisions bound the join exactly as in the batch path;
  *  - replaying a batch OVERWRITES its own store partition and output
  *    partition (StoreLifecycle.replacePartitions, the idempotent-sink
  *    convention of Pipelines.scala) — replays converge instead of
  *    re-admitting or double-storing;
  *  - only (band, bh, doc_id, sig) rows persist: the text never enters
  *    the store.
  *
  * Within a batch, arrival order is doc_id order (the stream's ingest
  * sequence): a doc is dropped if it matches the store, or a LOWER-id
  * batchmate that itself survived the store — the greedy one-level
  * resolution q_corpus_clean documents (chains resolve per-batch, not
  * transitively; CC-grade clustering is the batch job's).
  */
object StreamingNearDedup {

  private val BANDS = 16
  private val ROWS = 4

  private def signed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      graft.functions.TextFunctions.minhashSignature(
        graft.functions.TextFunctions.shingleHashes(col("text")), BANDS * ROWS)
        .as("sig"))

  private def banded(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig"),
      explode(expr(
        s"transform(sequence(0, ${BANDS - 1}), b -> struct(b AS band, xxhash64(slice(sig, b * $ROWS + 1, $ROWS)) AS bh))"))
        .as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bh"))

  /** fraction of agreeing signature components — the Jaccard estimator */
  private val sigSim: org.apache.spark.sql.Column =
    expr(s"size(filter(zip_with(sig, old_sig, (x, y) -> x = y), v -> v))")
      .cast(DoubleType) / (BANDS * ROWS)

  /** Dedup one micro-batch against the store, emit kept docs to
    * `outDir/__batch_id=<id>`, and add their band rows to the store —
    * both via dynamic partition overwrite, so a replayed batch id
    * converges. Returns the kept docs (for specs; the sink write is the
    * contract).
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, minSigSim: Double): DataFrame = {
    val sig = signed(batch).persist()
    val bb = banded(sig)
    // Probe the store through Hadoop's FileSystem — the same resolver the
    // reads/writes below use — NOT java.io.File, which only sees the local
    // disk: on an hdfs://…/s3a://… storeDir a local-file check is always
    // false, so every batch would silently treat the store as empty and
    // re-admit near-duplicates (ADVICE r5).
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeExists = storePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(storePath)
    val store: DataFrame =
      if (storeExists)
        // STRICTLY-EARLIER batches only (the PerceptualDedupCore /
        // StreamingPackedShards discipline): a batch replayed after its
        // store write but before its out write must not collide with its
        // OWN prior rows, or the recovery admits nothing and the out
        // partition is lost for good.
        spark.read.parquet(storeDir)
          .filter(col("__batch_id") < batchId)
          .select(col("band"), col("bh"), col("doc_id").as("old_id"),
            col("sig").as("old_sig"))
      else // first batch: no store yet
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("band", IntegerType),
            StructField("bh", LongType), StructField("old_id", LongType),
            StructField("old_sig", ArrayType(LongType)))))
    // dropped vs the store: any shared band bucket with estimator >= theta
    val vsStore = bb.join(store, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("old_id"))
      .select(col("doc_id"), col("sig"), col("old_sig"))
      .distinct()
      .filter(sigSim >= minSigSim)
      .select(col("doc_id")).distinct()
    // dropped vs a surviving lower-id batchmate (greedy one-level)
    val survivors = bb.join(vsStore.withColumnRenamed("doc_id", "dead"),
        col("doc_id") === col("dead"), "left_anti")
    val vsBatch = survivors.as("x").join(survivors.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("x.sig").as("sig"),
        col("y.sig").as("old_sig"))
      .distinct()
      .filter(sigSim >= minSigSim)
      .select(col("doc_id")).distinct()
    val dropped = vsStore.unionAll(vsBatch).distinct()
    val kept = sig.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"), col("sig"))
      .localCheckpoint() // sever lineage before the two writes below
    sig.unpersist()
    StoreLifecycle.replacePartitions(
      banded(kept).select(col("band"), col("bh"), col("doc_id"), col("sig"),
        lit(batchId).as("__batch_id")),
      storeDir, "__batch_id")
    StoreLifecycle.replacePartitions(
      kept.select(col("doc_id"), col("text"), lit(batchId).as("__batch_id")),
      outDir, "__batch_id")
    kept
  }

  /** Wire a streaming doc source (doc_id, text) through the per-batch
    * dedup into `outDir`, with the signature store at `storeDir`.
    */
  def start(docs: DataFrame, storeDir: String, outDir: String,
      checkpoint: String, minSigSim: Double = 0.6)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(docs, checkpoint) { (batch, id) =>
      dedupBatch(batch.sparkSession, batch, id, storeDir, outDir, minSigSim)
    }
}
