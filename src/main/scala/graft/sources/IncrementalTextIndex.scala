package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * The read side aggregates the deltas: df(term) = Σ per-batch df over
  * the PRUNED buckets (the same xxhash64-mod-64 partition pruning as the
  * batch index, so the aggregation reads |query buckets|/64 of the delta
  * bytes); (n_docs, avgdl) fold from the 1-row-per-batch corpusstats.
  * Read cost therefore grows with batch COUNT, not corpus size — the
  * standard LSM trade, and the reason a periodic compaction (fold old
  * `__batch_id` partitions into one, same shape as
  * `streaming/LakeMaintenance`'s small-file compaction) bounds the tail;
  * scoring arithmetic is identical to TextIndexStore.bm25, so compaction
  * changes bytes-read, never results.
  *
  * Corpus semantics are append-only: a doc_id re-ingested in a later
  * batch counts twice, exactly as it would in the corpus itself —
  * ingest-time dedup is the upstream job's contract
  * (streaming/StreamingExactDedup, StreamingNearDedup).
  */
object IncrementalTextIndex {

  import TextIndexStore.{Buckets, bucketOf}

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
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val postings = tf.join(dl, Seq("doc_id"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets.toLong)))
      .withColumn("__batch_id", lit(batchId))
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("term"), col("doc_id"))
    val termdelta = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
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

  /** BM25 over the maintained index: pruned postings scan × broadcast of
    * the folded (pruned) term deltas × broadcast of the folded corpus
    * stats. Identical arithmetic to TextIndexStore.bm25 — on the same
    * corpus the two index forms return bit-identical scores (spec-pinned).
    */
  def bm25(spark: SparkSession, indexDir: String, qterms: Seq[String],
      k: Int = 10): DataFrame = {
    val qbuckets = qterms.map(bucketOf).distinct.map(_.toLong)
    // explicit schemas (the writer's own, partition columns typed LONG as
    // written): guide §6 — each bare read.parquet otherwise pays a
    // schema-inference job over a footer before the real scan, three
    // times per query on the merge-on-read path
    val postings = spark.read.schema(
        "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
        "bucket BIGINT, __batch_id BIGINT")
      .parquet(s"$indexDir/postings")
      .filter(col("bucket").isin(qbuckets: _*) && col("term").isin(qterms: _*))
    val dfq = spark.read.schema(
        "term STRING, df BIGINT, bucket BIGINT, __batch_id BIGINT")
      .parquet(s"$indexDir/termdelta")
      .filter(col("bucket").isin(qbuckets: _*) && col("term").isin(qterms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = spark.read.schema(
        "n_docs BIGINT, sum_dl BIGINT, __batch_id BIGINT")
      .parquet(s"$indexDir/corpusstats")
      .agg(sum(col("n_docs")).as("n_docs"),
        (sum(col("sum_dl")).cast(DoubleType) / sum(col("n_docs"))).as("avgdl"))
    val scored = postings
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("score",
        col("tf") * 2.2 / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
          * ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    val perTerm = qterms.map(tm =>
      coalesce(max(when(col("term") === tm, col("score"))), lit(0.0)))
    scored.groupBy(col("doc_id"))
      .agg(perTerm.reduceLeft(_ + _).as("bm25"))
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
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
    val postings = spark.read.parquet(s"$indexDir/postings")
    val dfAll = spark.read.parquet(s"$indexDir/termdelta")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = spark.read.parquet(s"$indexDir/corpusstats")
      .agg(sum(col("n_docs")).as("n_docs"),
        (sum(col("sum_dl")).cast(DoubleType) / sum(col("n_docs"))).as("avgdl"))
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
      tmp => TextIndexStore.writeStats(spark, tmp, stats.head()))
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
