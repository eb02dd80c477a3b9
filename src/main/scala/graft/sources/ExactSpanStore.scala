package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted window-hash index for EXACT substring dedup — the
  * exact-substring cell of the index-once-query-many grid
  * ([[TextIndexStore]] retrieval / [[VectorIndexStore]] ANN /
  * [[SignatureStore]] MinHash), previously the only dedup modality
  * re-deriving its whole first pass per run: the in-query form
  * (`ops.TextDedup.repeatedSpansExact`, `q_repeated_spans_exact`)
  * hashes every stride-1 window of the corpus on every invocation; a
  * 100 TB pipeline re-running the report → cut loop per eval refresh
  * or ingest batch pays that corpus pass ONCE here.
  *
  * Layout (parquet under `indexDir`):
  *
  *   wins/bucket=<0..63>/   (doc_id, pos, h) — every stride-1
  *                          `minLen`-char window's xxhash64, the exact
  *                          relation pass 1 derives (24-byte rows,
  *                          linear in corpus characters),
  *                          hive-partitioned on bucket = pmod(h, 64)
  *                          and h-sorted in-file for row-group pruning
  *   _FINGERPRINT           corpus (path, len, mtime) + minLen +
  *                          layout version, written LAST
  *
  * The probe derives the duplicated-hash set and the candidate
  * positions from the store alone — the hash histogram never touches
  * corpus text, and bucket partitioning means the groupBy(h) can read
  * bucket-parallel. Text is read only by the hit-first verify
  * (`ops.TextDedup.spansFromHits`), which re-decides every repeat on
  * actual characters — so the stored form stays EXACT and
  * `q_repeated_spans_stored` shares `q_repeated_spans_exact`'s oracle
  * VERBATIM (ExactSpanStoreSpec pins bit-identity in-JVM too).
  *
  * Freshness + concurrency follow the store contract: `_FINGERPRINT`
  * records source (len, mtime) + minLen; `ensure` rebuilds on
  * mismatch; builds stage into a temp tree and swap in atomically
  * (StoreLifecycle), so a concurrent reader sees a complete old index or a
  * complete new one.
  *
  * Reference telemetry scope (MantissaMr/fineventstream README.md:1-40)
  * has no dedup; this family is part of the NS training-data extension
  * surface (Lee et al. 2022 ExactSubstr semantics).
  */
object ExactSpanStore {

  val Buckets = 64

  private val FormatVersion = 1

  /** `<root>/graft_span_index_L<minLen>/<sfDir>` (StoreLifecycle.defaultDir). */
  def defaultIndexDir(spark: SparkSession, sfDir: String, minLen: Int): String =
    StoreLifecycle.defaultDir(spark, s"graft_span_index_L$minLen", sfDir)

  private def fingerprintOf(spark: SparkSession, sfDir: String,
      minLen: Int): String =
    StoreLifecycle.marker(spark, FormatVersion, s"$sfDir/documents.parquet", s"L$minLen")

  /** The per-granularity content projection: chars = the text column,
    * bytes = its UTF-8 encoding (the repeatedSpansExactBytes
    * convention — length/substring/xxhash64/group-by operate natively
    * on BinaryType).
    */
  private[sources] def contentOf(docs: DataFrame, bytes: Boolean): DataFrame =
    if (bytes)
      docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
    else docs.select(col("doc_id"), col("text").as("content"))

  /** The window-hash relation for a document batch — the in-query pass 1
    * verbatim (shared code), bucketed for the store layout.
    */
  private[sources] def bucketedWindows(docs: DataFrame, minLen: Int,
      bytes: Boolean = false): DataFrame =
    graft.ops.TextDedup.windowHashes(contentOf(docs, bytes), minLen)
      .withColumn("bucket", pmod(col("h"), lit(Buckets.toLong)))

  /** Build (or rebuild): ONE window-hash pass over the corpus, staged +
    * atomically swapped in. Paid once, amortized over every report/cut
    * run.
    */
  def build(spark: SparkSession, sfDir: String, indexDir: String,
      minLen: Int): Unit = {
    val wins = bucketedWindows(graft.Tables.load(spark, sfDir, "documents"), minLen)
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("h"), col("doc_id"), col("pos"))
    StoreLifecycle.build(spark, indexDir, fingerprintOf(spark, sfDir, minLen))(
      tmp => wins.write.partitionBy("bucket").parquet(s"$tmp/wins"))
  }

  /** Build iff missing or stale (StoreLifecycle.ensure); returns the index dir. */
  def ensure(spark: SparkSession, sfDir: String, minLen: Int,
      indexDir0: String = null): String = synchronized {
    val indexDir = Option(indexDir0)
      .getOrElse(defaultIndexDir(spark, sfDir, minLen))
    StoreLifecycle.ensure(spark, indexDir, fingerprintOf(spark, sfDir, minLen))(
      build(spark, sfDir, indexDir, minLen))
  }

  /** Exact duplicated-substring spans computed FROM THE STORE: the
    * duplicated-hash set and candidate positions come from the
    * persisted window relation (no corpus window pass); `docs` is read
    * only by the hit-first character verify. Identical rows to
    * `ops.TextDedup.repeatedSpansExact(docs, minLen, crossDocOnly)`.
    */
  def spans(spark: SparkSession, indexDir: String, docs: DataFrame,
      minLen: Int, crossDocOnly: Boolean = true): DataFrame =
    spansFromWindows(
      graft.Tables.read(spark, s"$indexDir/wins").select("doc_id", "pos", "h"),
      docs, minLen, crossDocOnly)

  /** Probe core shared with [[IncrementalExactSpanStore]]: `wins` is
    * the (doc_id, pos, h) window relation however it is stored; `bytes`
    * selects the granularity the store was built in (the verify pass
    * must re-derive windows in the SAME units the positions mean).
    */
  private[sources] def spansFromWindows(wins: DataFrame, docs: DataFrame,
      minLen: Int, crossDocOnly: Boolean, bytes: Boolean = false): DataFrame = {
    val dupH =
      if (crossDocOnly)
        wins.select(col("h"), col("doc_id")).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("h"))
      else wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"))
    val hitPos = wins.join(dupH, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    graft.ops.TextDedup.spansFromHits(contentOf(docs, bytes),
      hitPos, minLen, crossDocOnly,
      spanCol = if (bytes) "span_bytes" else "span_chars")
  }
}
