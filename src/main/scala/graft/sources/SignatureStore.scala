package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted MinHash signature index — the DEDUP sibling of
  * [[TextIndexStore]] (text retrieval) and `VectorIndexStore` (ANN),
  * completing index-once-query-many for the third modality. The in-query
  * form (`ops.TextDedup.minhashPairs`, `q_dedup_minhash`) re-shingles and
  * re-signs the WHOLE corpus per invocation; at 100 TB the corpus
  * signatures are built once and every incoming re-crawl batch probes
  * them.
  *
  * Layout (all parquet under `indexDir`):
  *
  *   buckets/bucket=<0..63>/   (band, bh, doc_id) — LSH band buckets,
  *                             hive-partitioned on bucket = bh mod 64,
  *                             sorted by (band, bh) for row-group pruning
  *   arrays/                   (doc_id, n_sh, hs) — SORTED shingle-hash
  *                             arrays for the exact verify (the
  *                             sorted_intersect_count kernel input),
  *                             doc_id-sorted
  *   _FINGERPRINT              freshness marker: corpus (path,len,mtime)
  *                             + the banding parameters — a store built
  *                             with different (bands, rows) reads stale
  *
  * The probe path mirrors VectorIndexStore's probed-cells pattern: the
  * incoming batch is SMALL by definition (a re-crawl delta), so its
  * banded hashes collect driver-side (bounded at |probes|×bands values)
  * and the bucket scan partition-prunes at planning to the probes'
  * buckets — at 100 TB the bucket read is |probe buckets|/64 of the
  * bucket bytes. Candidates then pay one exact verify against the
  * stored sorted arrays; precision 1, recall = banding recall (or
  * provably 1 in the rows=0 exact regime, which is what the DuckDB
  * oracle checks end-to-end).
  */
object SignatureStore {

  val Buckets = 64

  /** `<root>/graft_sig_index_<bands>x<rows>/<sfDir>` (StoreLifecycle.defaultDir). */
  def defaultIndexDir(spark: SparkSession, sfDir: String,
      bands: Int, rows: Int): String =
    StoreLifecycle.defaultDir(spark, s"graft_sig_index_${bands}x$rows", sfDir)

  private val FormatVersion = 1

  private def fingerprintOf(spark: SparkSession, sfDir: String,
      bands: Int, rows: Int): String =
    StoreLifecycle.marker(spark, FormatVersion, s"$sfDir/documents.parquet",
      s"${bands}x$rows")

  /** Corpus shingle arrays, sorted for the verify kernel. */
  private[sources] def sortedArrays(docs: DataFrame): DataFrame =
    docs
      .withColumn("hs0", graft.functions.TextFunctions.shingleHashes(col("text")))
      .select(col("doc_id"), size(col("hs0")).as("n_sh"),
        array_sort(col("hs0")).as("hs"))

  /** Banded bucket rows for a (doc_id, hs) relation. rows == 0 is the
    * exact regime: one universal bucket (bh = 0), banding provably
    * lossless — the q_dedup_minhash convention.
    */
  private[sources] def banded(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    if (rows == 0)
      sigs.select(col("doc_id"), lit(0).as("band"), lit(0L).as("bh"))
    else
      sigs
        .withColumn("sig",
          graft.functions.TextFunctions.minhashSignature(col("hs"), bands * rows))
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.minhashBands("sig", bands, rows))
            .as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bh"))

  /** Build (or rebuild): one shingling pass over the corpus, staged and
    * swapped in by [[StoreLifecycle.build]].
    */
  def build(spark: SparkSession, sfDir: String, indexDir: String,
      bands: Int, rows: Int): Unit = {
    val arrays = sortedArrays(graft.Tables.load(spark, sfDir, "documents"))
      .persist()
    // rows == 0 (exact regime): the probe path never reads buckets —
    // every pair is a candidate — so writing the universal-bucket table
    // would be a pure wasted corpus shuffle + parquet write
    val writeBuckets: Option[String => Unit] =
      if (rows > 0) Some(tmp => banded(arrays, bands, rows)
        .withColumn("bucket", pmod(col("bh"), lit(Buckets.toLong)))
        .transform(graft.Par.byKey(col("bucket")))
        .sortWithinPartitions(col("band"), col("bh"))
        .write.partitionBy("bucket").parquet(s"$tmp/buckets"))
      else None
    val writeArrays: String => Unit =
      tmp => arrays.repartition(1).sortWithinPartitions(col("doc_id"))
        .write.parquet(s"$tmp/arrays")
    try StoreLifecycle.build(spark, indexDir, fingerprintOf(spark, sfDir, bands, rows))(
      writeBuckets.toSeq :+ writeArrays: _*)
    finally arrays.unpersist()
  }

  /** Build iff missing or stale (StoreLifecycle.ensure); returns the index dir. */
  def ensure(spark: SparkSession, sfDir: String, bands: Int, rows: Int,
      indexDir0: String = null): String = synchronized {
    val indexDir = Option(indexDir0)
      .getOrElse(defaultIndexDir(spark, sfDir, bands, rows))
    StoreLifecycle.ensure(spark, indexDir, fingerprintOf(spark, sfDir, bands, rows))(
      build(spark, sfDir, indexDir, bands, rows))
  }

  /** Near-dup matches of a probe batch against the STORED corpus:
    * probes shingle+sign in-query (small by definition), their banded
    * hashes collect driver-side, the bucket scan partition-prunes to the
    * probes' buckets, and candidates verify exactly against the stored
    * sorted arrays. Output (probe_id, match_id, jaccard), match != probe.
    *
    * rows == 0 runs the exact regime: every (probe, corpus) pair is a
    * candidate — probes broadcast against the arrays store (the
    * q_embed_neardup anchor shape with the ratio prune fused before the
    * kernel) and the output equals the exact Jaccard pair set, which is
    * what the DuckDB oracle checks.
    */
  def nearDupMatches(spark: SparkSession, indexDir: String, probes: DataFrame,
      minJaccard: Double, bands: Int, rows: Int,
      maxBucket: Int = 1000): DataFrame =
    matchAgainst(spark, probes, minJaccard, bands, rows, maxBucket,
      bucketsFor = bs => graft.Tables.read(spark, s"$indexDir/buckets")
        .filter(col("bucket").isin(bs: _*)),
      storeArrays = graft.Tables.read(spark, s"$indexDir/arrays"))

  /** Layout-agnostic match core, shared with the streaming-maintained
    * sibling ([[IncrementalSignatureStore]]): `bucketsFor` returns the
    * bucket rows for the probes' bucket ids (partition pruning is the
    * implementation's concern), `storeArrays` the (doc_id, n_sh, hs)
    * verify arrays.
    */
  private[sources] def matchAgainst(spark: SparkSession, probes: DataFrame,
      minJaccard: Double, bands: Int, rows: Int, maxBucket: Int,
      bucketsFor: Seq[Long] => DataFrame, storeArrays: DataFrame): DataFrame = {
    // the probe batch materializes ONCE (it is small by definition, and
    // it feeds both the banded candidate join and the verify attach —
    // cross-subtree plans re-execute, so without this the probe source
    // is scanned per consumer); after the checkpoint the match plan
    // contains zero scans of the probe source
    val pa = sortedArrays(probes)
      .select(col("doc_id").as("probe_id"), col("n_sh").as("na"),
        col("hs").as("ha"))
      .localCheckpoint()
    val ratioOk = least(col("na"), col("nb")).cast(DoubleType) >=
      lit(minJaccard) * greatest(col("na"), col("nb"))
    val cand =
      if (rows == 0)
        storeArrays
          .select(col("doc_id").as("match_id"), col("n_sh").as("nb"),
            col("hs").as("hb"))
          // explicit width (Par.wide): the bare repartition() here was
          // AQE-coalesced back to the store's 2 file splits, running the
          // whole verify kernel 2-wide (profiled 2.3 s/run at 32 cores)
          .transform(graft.Par.wide)
          .crossJoin(broadcast(pa))
      else {
        // no persist: pa is already localCheckpoint'ed, so re-deriving
        // the banded hashes for the lazy join is a cheap in-memory pass
        // over the small probe batch (an unpersist here would fire
        // BEFORE the caller's action and void the cache anyway)
        val pb = banded(pa.select(col("probe_id").as("doc_id"), col("ha").as("hs")),
          bands, rows)
          .select(col("doc_id").as("probe_id"), col("band"), col("bh"))
        // bounded driver-side: |probes| × bands values — the re-crawl
        // batch is small by definition (the VectorIndexStore pattern)
        val probeBuckets = pb
          .select(pmod(col("bh"), lit(Buckets.toLong)).as("bucket"))
          .distinct().collect().map(_.getLong(0))
        val buckets = bucketsFor(probeBuckets.toSeq)
        val hot = buckets.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
          .select(col("band"), col("bh"))
        val pairs = buckets
          .join(broadcast(pb), Seq("band", "bh"))
          .join(broadcast(hot), Seq("band", "bh"), "left_anti")
          .filter(col("doc_id") =!= col("probe_id"))
          .select(col("probe_id"), col("doc_id").as("match_id"))
          .distinct()
        pairs
          .join(storeArrays
            .select(col("doc_id").as("match_id"), col("n_sh").as("nb"),
              col("hs").as("hb")), Seq("match_id"))
          .join(broadcast(pa), Seq("probe_id"))
      }
    cand
      .filter(col("probe_id") =!= col("match_id") && ratioOk)
      .select(col("probe_id"), col("match_id"), col("na"), col("nb"),
        graft.functions.TextFunctions.sortedIntersectCount(col("ha"), col("hb")).as("c"))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("probe_id"), col("match_id"), col("jaccard"))
  }
}
