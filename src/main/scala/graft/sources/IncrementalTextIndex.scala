package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-maintained inverted index — the MAINTENANCE half of the
  * stored-index story ([[TextIndexStore]] is the batch-build half): new
  * documents keep arriving, and the index must stay queryable without
  * ever re-reading the corpus.
  *
  * The design is MERGE-ON-READ with strictly per-batch writes:
  *
  *   postings/bucket=<N>/__batch_id=<M>/   (term, doc_id, tf, dl)
  *   termdelta/bucket=<N>/__batch_id=<M>/  (term, df)      per-batch df
  *   corpusstats/__batch_id=<M>/           (n_docs, sum_dl) 1 row/batch
  *
  * Every table an append writes is computed FROM THE BATCH ALONE and
  * lands as that batch's own hive partitions (dynamic partition
  * overwrite) — no read-modify-write anywhere, so
  *
  *  - a crash-replayed batch overwrites its own partitions with the same
  *    bytes and the index CONVERGES (pinned by IncrementalIndexSpec);
  *    contrast with maintaining a merged `df` in place, where a replay
  *    would double-count;
  *  - batches never contend: batch M's writes touch only `__batch_id=M`
  *    partitions.
  *
  * The read side folds the deltas on the driver: (n_docs, avgdl) from
  * the 1-row-per-batch corpusstats, the way the stored index reads its
  * `_STATS` sidecar, and df(term) = Σ per-batch df over the PRUNED
  * buckets (the batch index's xxhash64-mod-64 partition pruning, so the
  * fold reads |query buckets|/64 of the delta bytes). Scoring is then
  * [[TextIndexStore]]'s own core over the layered postings. Every table
  * is read with the writer's schema, so no read infers one. Read cost
  * grows with batch COUNT, not corpus size — the standard LSM trade,
  * and the reason a periodic compaction ([[compactTo]]) bounds the tail;
  * compaction changes bytes-read, never results.
  *
  * Corpus semantics are append-only: a doc_id re-ingested in a later
  * batch counts twice, exactly as it would in the corpus itself —
  * ingest-time dedup is the upstream job's contract
  * (streaming/StreamingExactDedup, StreamingNearDedup).
  */
object IncrementalTextIndex {

  import TextIndexStore.Buckets

  // the writer's schema of each table: a read with it infers nothing
  private val Schemas = Map(
    "postings" -> "doc_id BIGINT, term STRING, tf BIGINT, dl BIGINT, bucket BIGINT, __batch_id BIGINT",
    "termdelta" -> "term STRING, df BIGINT, bucket BIGINT, __batch_id BIGINT",
    "corpusstats" -> "n_docs BIGINT, sum_dl BIGINT, __batch_id BIGINT")

  private def table(spark: SparkSession, indexDir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$indexDir/$name")

  /** (n_docs, avgdl) over every batch, summed on the driver from the
    * one-row-per-batch corpusstats: avgdl is the same one double division
    * as the batch build's, so the two index forms score bit-identically.
    */
  private def corpusStats(spark: SparkSession, indexDir: String): (Long, Double) = {
    val rows = table(spark, indexDir, "corpusstats").select("n_docs", "sum_dl").collect()
    val nDocs = rows.map(_.getLong(0)).sum
    (nDocs, rows.map(_.getLong(1)).sum.toDouble / nDocs)
  }

  /** Index one document batch: three per-batch-partition writes, each
    * derived from `batch` alone. Idempotent per (batchId, batch).
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String): Unit = {
    val tf = batch
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val dl = TextIndexStore.docStats(tf, Seq("doc_id")).drop("n_terms")
    val postings = tf.join(dl, Seq("doc_id"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets.toLong)))
      .withColumn("__batch_id", lit(batchId))
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("term"), col("doc_id"))
    val termdelta = TextIndexStore.termDf(tf)
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets.toLong)))
      .withColumn("__batch_id", lit(batchId))
      // keyed repartition like the postings write below: without it AQE
      // coalesces the small term aggregate to ONE task that creates all
      // 64 bucket dirs serially (measured 0.6-0.7 s per batch at sf0.1 —
      // the r14 Par.byKey finding, this was the one missed site)
      .transform(graft.Par.byKey(col("bucket")))
    val corpusstats = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      .withColumn("__batch_id", lit(batchId))

    // The three writes are independent jobs over the one persisted tf,
    // to three disjoint paths — overlapped, so the batch commit costs
    // ~one write's wall-clock, not three.
    StoreLifecycle.appendLayer(spark, indexDir)(
      () => StoreLifecycle.replacePartitions(postings, s"$indexDir/postings",
        "bucket", "__batch_id"),
      () => StoreLifecycle.replacePartitions(termdelta, s"$indexDir/termdelta",
        "bucket", "__batch_id"),
      () => StoreLifecycle.replacePartitions(corpusstats, s"$indexDir/corpusstats",
        "__batch_id"))
    tf.unpersist()
    ()
  }

  /** BM25 over the maintained index: the stored index's scoring and
    * ranking core ([[TextIndexStore.scoredPostings]]) over the layered
    * postings, with the corpus stats and the query terms' df folded on
    * the driver (at most |qterms| termdelta rows per batch, read from the
    * query buckets only), so the query broadcasts nothing. On the same
    * corpus the two index forms return bit-identical scores (spec-pinned).
    */
  def bm25(spark: SparkSession, indexDir: String, qterms: Seq[String],
      k: Int = 10): DataFrame = {
    val stats = corpusStats(spark, indexDir)
    val df = TextIndexStore.ofTerms(table(spark, indexDir, "termdelta"), qterms)
      .select("term", "df").collect()
      .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
    TextIndexStore.topBm25(TextIndexStore.scoredPostings(table(spark, indexDir, "postings"),
      qterms, stats, typedLit(df).apply(col("term"))), qterms, k)
  }

  /** Compact the merge-on-read deltas into the BATCH index layout
    * (TextIndexStore's v3 postings + `_STATS` sidecar) WITHOUT re-reading
    * the corpus — the LSM fold the header promises. After compaction the
    * store is served by the exact read path the stored-index queries use
    * (`TextIndexStore.bm25` / `hybridRrf`, i.e. q_bm25_stored /
    * q_hybrid_rrf_stored), with read cost back to one pruned scan
    * instead of growing with batch count: the streaming job maintains
    * deltas, a periodic compaction (scheduled like LakeMaintenance's
    * small-file pass) publishes the query-optimal image. Scores are
    * bit-identical across the three forms — df folds to the same count,
    * avgdl is the same one double division — pinned by
    * IncrementalIndexSpec.
    *
    * Same staged build and swap as TextIndexStore.build, so readers of
    * `storeDir` never see a half-compacted tree. The fingerprint marks
    * the store as stream-built: `TextIndexStore.ensure` would treat it
    * as stale against a corpus file, which is correct — a stream-built
    * store has no single source file to be fresh against.
    */
  def compactTo(spark: SparkSession, indexDir: String, storeDir: String): Unit = {
    val postings = table(spark, indexDir, "postings")
    val dfAll = table(spark, indexDir, "termdelta")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = corpusStats(spark, indexDir)
    // each doc lives in exactly one batch, so its distinct-term count
    // folds without double-count: n_terms = its posting count
    val nTerms = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n_terms"))
    val merged = postings
      .join(nTerms, Seq("doc_id"))
      .join(dfAll, Seq("term"))
      .select("term", "doc_id", "tf", "dl", "n_terms", "df", "bucket")
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("term"), col("doc_id"))
    StoreLifecycle.build(spark, storeDir, s"stream-compacted|$indexDir")(
      tmp => merged.write.partitionBy("bucket").parquet(s"$tmp/postings"),
      tmp => TextIndexStore.writeStats(spark, tmp, stats))
  }

  /** Wire a (doc_id, text) document stream into continuous index
    * maintenance — the lake job: each micro-batch lands as its own index
    * partitions, and the index is queryable between batches.
    */
  def start(docs: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(docs, checkpoint) { (batch, id) =>
      appendBatch(batch.sparkSession, batch, id, indexDir)
    }
}
