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
  * Shape: foreachBatch over [[IngestGate.banded]] with a (band, bh,
  * doc_id, sig) store, NOT a transformWithState op: the drop decision
  * needs "any of my 16 band buckets matched", and per-key state cannot
  * see across keys. Candidate lookup is one (band, bh) equi-join against
  * the store, so band-bucket collisions bound the join exactly as in the
  * batch path; the text never enters the store.
  */
object StreamingNearDedup {

  private val BANDS = 16
  private val ROWS = 4

  private def signed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      graft.functions.TextFunctions.minhashSignature(
        graft.functions.TextFunctions.shingleHashes(col("text")), BANDS * ROWS)
        .as("sig"))

  /** Dedup one micro-batch through [[IngestGate.banded]] (bands keyed
    * (band, bh); a match needs signature agreement >= `minSigSim`) and
    * write the kept docs to `outDir/__batch_id=<id>`, partition-replacing,
    * so a replayed batch id converges. Returns the kept (doc_id, text,
    * sig) rows (for specs; the sink write is the contract).
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      storeDir: String, outDir: String, minSigSim: Double): DataFrame = {
    // fraction of agreeing signature components: the Jaccard estimator
    val kept = IngestGate.banded(signed(batch), batchId, storeDir, "doc_id", "sig",
        graft.functions.TextFunctions.minhashBands("sig", BANDS, ROWS), "bh") {
      (sig, old) => size(filter(zip_with(sig, old, _ === _), v => v))
        .cast(DoubleType) / (BANDS * ROWS) >= minSigSim
    }
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
