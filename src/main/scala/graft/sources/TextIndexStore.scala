package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted inverted index for the retrieval family — the lake-scale
  * shape the in-query builders (`q_bm25`, `q_hybrid_rrf`) document: build
  * the index ONCE as stored tables, and let every query be a pruned scan
  * + broadcast join over the index, never a corpus pass.
  *
  * Layout (all parquet under `indexDir`):
  *
  *   postings/bucket=<0..63>/   (term, doc_id, tf, dl, df)
  *   stats/                     (n_docs, avgdl)
  *   docstats/                  (doc_id, n_terms, dl) — doc-keyed retriever
  *                              stats (Jaccard denominators), doc_id-sorted
  *   _FINGERPRINT               freshness marker (see below)
  *
  * Two deliberate denormalizations make the read path a SINGLE pruned
  * scan with no doc-side or term-side join:
  *
  *  - `dl` (document length) rides on every posting — the classic
  *    impact-style index layout — so BM25's length normalization needs no
  *    join against a corpus-sized doclen table;
  *  - `df` (document frequency) rides on every posting too, so idf needs
  *    no term-stats join either.
  *
  * Both cost index bytes (dl/df repeat per posting) and buy query-time
  * shape: score = scan(pruned postings) × broadcast(stats 1 row).
  *
  * Partition pruning is the scale story: postings are hive-partitioned on
  * `bucket = xxhash64(term) mod 64`, and a query for terms T scans only
  * the buckets {hash(t) mod 64 | t ∈ T} — at 100 TB the index read is
  * |T|/64 of the postings bytes (verified by RetrievalIndexSpec's
  * PartitionFilters pin), and inside each bucket the parquet min/max on
  * the sorted `term` column prunes row groups. On a real lake this table
  * would also be Z-ordered/bucketed by term; the hive partition level is
  * the engine-portable part.
  *
  * Freshness: `_FINGERPRINT` records (path, size, mtime) of the source
  * `documents.parquet`; `ensure` rebuilds when it differs, so a
  * regenerated corpus can't serve a stale index. All FS access goes
  * through Hadoop's FileSystem — the same resolver Spark's reads/writes
  * use — so hdfs://…/s3a://… index locations work unchanged.
  */
object TextIndexStore {

  val Buckets = 64

  /** Deterministic per-corpus index location. The root comes from Spark
    * conf — `graft.index.dir` if set, else the first `spark.local.dir`
    * entry — so a multi-tenant cluster isolates index stores per app
    * instead of sharing a literal `/tmp` path; `/tmp` remains only the
    * last-resort default (matching Spark's own `spark.local.dir` default).
    * Any Hadoop FS URI works when a dir is passed explicitly.
    */
  def defaultIndexDir(spark: SparkSession, sfDir: String): String = {
    val root = spark.conf.getOption("graft.index.dir")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir")
        .map(_.split(",")(0).stripSuffix("/")))
      .getOrElse("/tmp")
    root + "/graft_text_index/" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bumped when the index LAYOUT changes (e.g. v2 added docstats):
    * the version is part of the fingerprint, so an index built by an
    * older layout reads as stale and rebuilds instead of failing reads.
    */
  private val FormatVersion = 2

  private def fingerprintOf(spark: SparkSession, sfDir: String): String = {
    val p = s"$sfDir/documents.parquet"
    s"v$FormatVersion|${new org.apache.hadoop.fs.Path(p)}|${graft.Tables.fingerprint(spark, p)}"
  }

  /** Driver-side xxhash64(term) mod Buckets — the same arithmetic the
    * bucket column uses, evaluated without a job so query planning can
    * compute the prune set for any term list.
    */
  def bucketOf(term: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(term), StringType)),
      42L) // Spark's default hash seed — matches the xxhash64() SQL function
      .eval(null).asInstanceOf[Long]
    (((h % Buckets) + Buckets) % Buckets).toInt
  }

  /** Build (or rebuild) the index from the corpus. One tokenize pass, two
    * vocabulary-sized joins — paid once, amortized over every query.
    */
  def build(spark: SparkSession, sfDir: String, indexDir: String): Unit = {
    // The session-shared tf relation, NOT a private persist: this build's
    // tf plan is plan-identical to CorpusOps.sharedTf, and unpersist()
    // evicts cache entries by sameResult PLAN match — a private
    // persist/unpersist here silently dropped the shared relation for
    // every retrieval query planned after the first store build (cold-box
    // runs re-tokenized the corpus per consumer from then on). Reusing
    // the shared relation both removes that eviction and lets the build's
    // four tf readers (dl, df, postings, docstats) hit the same cache the
    // query suite uses — one tokenize pass per (session, corpus) total.
    val tf = graft.ops.CorpusOps.sharedTf(spark, sfDir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))

    val postings = tf
      .join(dl, Seq("doc_id"))
      .join(df, Seq("term"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets.toLong)))
      // sort within each bucket file by term so parquet row-group min/max
      // prunes inside the bucket as well
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("term"), col("doc_id"))
    // per-doc stats (v2): n_terms (distinct-term count — the Jaccard
    // retriever's denominator) + dl; doc_id-sorted so a candidate join
    // row-group-prunes
    val docstats = tf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("dl"))
      .repartition(1).sortWithinPartitions(col("doc_id"))

    // Stage into a private temp dir, then swap into place with a single
    // FS rename: a concurrent reader (bench + check.py overlap is a
    // documented condition on this box) either sees the complete old
    // index or the complete new one, never a half-built tree. The
    // in-JVM `ensure` lock can't give that guarantee across processes.
    val f = fs(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val tmp = new org.apache.hadoop.fs.Path(
      indexDir + ".build-" + java.util.UUID.randomUUID().toString.take(8))
    // three independent writes over the shared tf relation, to disjoint
    // staging paths — overlapped (Par.inParallel)
    graft.Par.inParallel(
      () => postings.write.partitionBy("bucket").parquet(s"$tmp/postings"),
      () => stats.write.parquet(s"$tmp/stats"),
      () => docstats.write.parquet(s"$tmp/docstats"))
    // no unpersist: tf is the session-shared relation (see above)
    // _FINGERPRINT is written LAST: a tree without it always reads stale
    StoreSwap.writeFingerprint(f, tmp, fingerprintOf(spark, sfDir))
    // A lost swap race means a concurrent builder of the same corpus won —
    // its tree is equivalent (same deterministic build); StoreSwap restores
    // or defers and ensure's post-build re-verify adjudicates.
    StoreSwap.swapIn(f, tmp, root)
  }

  /** Build iff missing or stale; returns the index dir. Re-verifies the
    * fingerprint after a build (the swap can lose a race to a concurrent
    * process) and retries once, so a caller never proceeds on a tree that
    * doesn't match the current corpus vintage.
    */
  def ensure(spark: SparkSession, sfDir: String,
      indexDir0: String = null): String = synchronized {
    val indexDir = Option(indexDir0).getOrElse(defaultIndexDir(spark, sfDir))
    // sweep .old-*/.compact-* orphans from crashed/raced swaps (leak fix)
    val f = fs(spark, indexDir)
    StoreSwap.sweepOrphans(f, new org.apache.hadoop.fs.Path(indexDir))
    val want = fingerprintOf(spark, sfDir)
    if (!StoreSwap.isFresh(f, indexDir, want)) {
      build(spark, sfDir, indexDir)
      if (!StoreSwap.isFresh(f, indexDir, want)) build(spark, sfDir, indexDir)
    }
    indexDir
  }

  /** BM25 over the STORED index: a partition-pruned postings scan (only
    * the query terms' buckets), one broadcast of the 1-row stats table,
    * zero corpus access. Same arithmetic as `q_bm25` (k1=1.2, b=0.75,
    * ratio idf — every step one IEEE op, bit-identical cross-engine), so
    * the two share an oracle and the oracle proves the stored path
    * faithful to the in-query path.
    */
  def bm25(spark: SparkSession, indexDir: String, qterms: Seq[String],
      k: Int = 10): DataFrame = {
    val qbuckets = qterms.map(bucketOf).distinct.map(_.toLong)
    val postings = graft.Tables.read(spark, s"$indexDir/postings")
      // bucket is the hive partition column → PartitionFilters, pruned at
      // planning; term is the sorted data column → row-group pruning
      .filter(col("bucket").isin(qbuckets: _*) && col("term").isin(qterms: _*))
    val stats = graft.Tables.read(spark, s"$indexDir/stats")
    val scored = postings
      .crossJoin(broadcast(stats))
      .withColumn("score",
        col("tf") * 2.2 / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
          * ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    // fixed-order expression sum over pivoted per-term scores (NOT a float
    // SUM aggregate): double addition is not associative and aggregate
    // order differs between engines — same convention as q_bm25
    val perTerm = qterms.map(tm =>
      coalesce(max(when(col("term") === tm, col("score"))), lit(0.0)))
    scored.groupBy(col("doc_id"))
      .agg(perTerm.reduceLeft(_ + _).as("bm25"))
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid BM25 + token-set-Jaccard retrieval fused by reciprocal-rank
    * (the q_hybrid_rrf semantics) over the STORED index: both retrievers
    * read the same pruned postings scan; the Jaccard denominator comes
    * from the doc-keyed `docstats` table joined only against the
    * df-bounded candidate set (broadcast candidates, stream docstats) —
    * so the whole query touches |query buckets|/64 of the postings plus
    * one doc-stats scan, and the corpus never.
    */
  def hybridRrf(spark: SparkSession, indexDir: String, qterms: Seq[String],
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qbuckets = qterms.map(bucketOf).distinct.map(_.toLong)
    val tfq = graft.Tables.read(spark, s"$indexDir/postings")
      .filter(col("bucket").isin(qbuckets: _*) && col("term").isin(qterms: _*))
    val stats = graft.Tables.read(spark, s"$indexDir/stats")
    // retriever 1: BM25 (identical arithmetic to bm25() above)
    val scored = tfq
      .crossJoin(broadcast(stats))
      .withColumn("score",
        col("tf") * 2.2 / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
          * ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    val perTerm = qterms.map(tm =>
      coalesce(max(when(col("term") === tm, col("score"))), lit(0.0)))
    val bm = scored.groupBy(col("doc_id"))
      .agg(perTerm.reduceLeft(_ + _).as("bm25"))
    // rank windows run AFTER limit(50): TakeOrderedAndProject bounds the
    // relation to <= 50 rows before the single-partition window ever
    // sees it — the global sort never touches the corpus
    val rb = bm.orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .withColumn("r", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
    // retriever 2: Jaccard(query set, doc's distinct-term set); inter
    // comes from the pruned postings, n_terms from docstats — the
    // candidate side broadcasts, the doc-stats table streams
    val iq = tfq.groupBy(col("doc_id")).agg(count(lit(1)).as("inter"))
    val docstats = graft.Tables.read(spark, s"$indexDir/docstats")
    val jac = docstats.join(broadcast(iq), Seq("doc_id"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("n_terms") + lit(qterms.size) - col("inter")))
    val rj = jac.orderBy(col("jac").desc, col("doc_id")).limit(50)
      .withColumn("r", row_number().over(
        Window.orderBy(col("jac").desc, col("doc_id"))))
    // fusion: integer-division RRF on the two 50-row rank lists
    rb.select(col("doc_id"), col("r").as("rb"))
      .join(rj.select(col("doc_id"), col("r").as("rj")), Seq("doc_id"), "full_outer")
      .selectExpr("doc_id",
        "CAST(coalesce(1000000000 div (60 + rb), 0) + coalesce(1000000000 div (60 + rj), 0) AS LONG) AS rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }
}
