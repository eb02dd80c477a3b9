package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted inverted index for the retrieval family — the lake-scale
  * shape the in-query builders (`q_bm25`, `q_hybrid_rrf`) document: build
  * the index ONCE as stored tables, and let every query be one pruned
  * postings scan and one aggregate, never a corpus pass.
  *
  * Layout (v3, under `indexDir`):
  *
  *   postings/bucket=<0..63>/   parquet (term, doc_id, tf, dl, n_terms, df)
  *   _STATS                     corpus stats sidecar: n_docs, avgdl (text)
  *   _FINGERPRINT               freshness marker (see below)
  *
  * Three deliberate denormalizations make the read path a SINGLE pruned
  * scan with no doc-side or term-side join:
  *
  *  - `dl` (document length) rides on every posting — the classic
  *    impact-style index layout — so BM25's length normalization needs no
  *    join against a corpus-sized doclen table;
  *  - `n_terms` (the document's distinct-term count, the Jaccard
  *    retriever's denominator) rides next to it, from the same per-doc
  *    aggregate;
  *  - `df` (document frequency) rides on every posting too, so idf needs
  *    no term-stats join either.
  *
  * They cost index bytes (dl/n_terms/df repeat per posting) and buy
  * query-time shape. The corpus-wide (n_docs, avgdl) pair is not a table:
  * it is a driver-read sidecar, so a query reads it with one FS open (no
  * Spark job, no broadcast) and scores with it as two literals.
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
  * Freshness: `_FINGERPRINT` records the layout version and the (path,
  * size, mtime) of the source `documents.parquet`; `ensure` rebuilds when
  * it differs, so a regenerated corpus or an older layout can't serve a
  * stale index. All FS access goes through Hadoop's FileSystem — the same
  * resolver Spark's reads/writes use — so hdfs://…/s3a://… index
  * locations work unchanged.
  */
object TextIndexStore {

  val Buckets = 64

  /** `<root>/graft_text_index/<sfDir>` (StoreLifecycle.defaultDir). */
  def defaultIndexDir(spark: SparkSession, sfDir: String): String =
    StoreLifecycle.defaultDir(spark, "graft_text_index", sfDir)

  /** Bumped when the index LAYOUT changes (v2 added docstats; v3 moved
    * n_terms onto the postings and the stats into the `_STATS` sidecar):
    * the version is part of the fingerprint, so an index built by an
    * older layout reads as stale and rebuilds instead of failing reads.
    */
  private val FormatVersion = 3

  private def fingerprintOf(spark: SparkSession, sfDir: String): String =
    StoreLifecycle.marker(spark, FormatVersion, s"$sfDir/documents.parquet")

  private val StatsFile = "_STATS"

  /** Write the (n_docs, avgdl) sidecar into the staged tree `tmp`.
    * `Double.toString` round-trips, so the read-back avgdl is
    * bit-identical to the one written; an empty corpus (no postings to
    * score) stores NaN.
    */
  private[sources] def writeStats(spark: SparkSession, tmp: String,
      stats: (Long, Double)): Unit =
    StoreLifecycle.writeText(StoreLifecycle.fs(spark, tmp), new Path(tmp, StatsFile),
      s"n_docs=${stats._1}\navgdl=${java.lang.Double.toString(stats._2)}\n")

  /** The index's (n_docs, avgdl), read from the sidecar on the driver. */
  private[sources] def readStats(spark: SparkSession, indexDir: String): (Long, Double) = {
    val file = new Path(s"$indexDir/$StatsFile")
    val kv = StoreLifecycle.readText(StoreLifecycle.fs(spark, indexDir), file)
      .getOrElse(throw new java.io.FileNotFoundException(file.toString))
      .linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    (kv("n_docs").toLong, java.lang.Double.parseDouble(kv("avgdl")))
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
    // tf readers (per-doc, df, postings, stats) hit the same cache the
    // query suite uses — one tokenize pass per (session, corpus) total.
    val tf = graft.ops.CorpusOps.sharedTf(spark, sfDir)
    // per doc: dl (BM25 length) and n_terms (distinct terms — the Jaccard
    // retriever's denominator), both denormalized onto every posting
    val perDoc = docStats(tf, Seq("doc_id"))
    val stats = corpusStats(perDoc)

    val postings = tf
      .join(perDoc, Seq("doc_id"))
      .join(termDf(tf), Seq("term"))
      .select("term", "doc_id", "tf", "dl", "n_terms", "df")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(Buckets.toLong)))
      // sort within each bucket file by term so parquet row-group min/max
      // prunes inside the bucket as well
      .transform(graft.Par.byKey(col("bucket")))
      .sortWithinPartitions(col("term"), col("doc_id"))

    // Staged and swapped in by the lifecycle, so a concurrent reader sees
    // the complete old index or the complete new one. The postings write
    // and the 1-row stats aggregate are independent jobs over the shared
    // tf relation — overlapped; no unpersist: tf is the session-shared
    // relation (see above).
    StoreLifecycle.build(spark, indexDir, fingerprintOf(spark, sfDir))(
      tmp => postings.write.partitionBy("bucket").parquet(s"$tmp/postings"),
      tmp => {
        val st = stats.head()
        writeStats(spark, tmp, (st.getLong(0), if (st.isNullAt(1)) Double.NaN else st.getDouble(1)))
      })
  }

  /** Build iff missing or stale (StoreLifecycle.ensure); returns the index dir. */
  def ensure(spark: SparkSession, sfDir: String,
      indexDir0: String = null): String = synchronized {
    val indexDir = Option(indexDir0).getOrElse(defaultIndexDir(spark, sfDir))
    StoreLifecycle.ensure(spark, indexDir, fingerprintOf(spark, sfDir))(
      build(spark, sfDir, indexDir))
  }

  /** Per-key document statistics of a tf relation (`keys`, term, tf):
    * `dl`, the BM25 length, and `n_terms`, the distinct-term count (the
    * Jaccard retriever's denominator), from one aggregate. `keys` is
    * `doc_id`, or `doc_id, cidx` for passages.
    */
  private[graft] def docStats(tf: DataFrame, keys: Seq[String]): DataFrame =
    tf.groupBy(keys.map(col): _*).agg(sum(col("tf")).as("dl"), count(lit(1)).as("n_terms"))

  /** The one-row corpus statistics of [[docStats]] rows: n_docs, and
    * avgdl as one double division of the integer length sum.
    */
  private[graft] def corpusStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))

  /** Document frequency per term of a tf relation. */
  private[graft] def termDf(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** The query terms' rows of a postings table (stored, or a twin's
    * layers): bucket is pruned at planning, term by row group.
    */
  private[sources] def ofTerms(postings: DataFrame, qterms: Seq[String]): DataFrame = {
    val qbuckets = qterms.map(bucketOf).distinct.map(_.toLong)
    postings.filter(col("bucket").isin(qbuckets: _*) && col("term").isin(qterms: _*))
  }

  /** Each (tf, dl) row's BM25 term score, the corpus stats and the row's
    * term df given as Columns: literals on the stored paths, broadcast
    * columns in the in-query builders.
    */
  private[graft] def scored(rows: DataFrame, nDocs: Column, avgdl: Column,
      df: Column): DataFrame =
    rows.withColumn("score",
      graft.functions.TextFunctions.bm25Term(col("tf"), col("dl"), avgdl, nDocs, df))

  /** The query terms' postings, each scored with the corpus (n_docs,
    * avgdl) as literals; `df` the column that gives each posting's term
    * its document frequency.
    */
  private[sources] def scoredPostings(postings: DataFrame, qterms: Seq[String],
      stats: (Long, Double), df: Column): DataFrame =
    scored(ofTerms(postings, qterms), lit(stats._1), lit(stats._2), df)

  /** The stored index's scored postings: the stats from the `_STATS`
    * sidecar, df from the postings themselves.
    */
  private def storedPostings(spark: SparkSession, indexDir: String,
      qterms: Seq[String]): DataFrame =
    scoredPostings(graft.Tables.read(spark, s"$indexDir/postings"), qterms,
      readStats(spark, indexDir), col("df"))

  /** Per-key BM25 as a fixed-order expression sum over pivoted per-term
    * scores, in query-term order (NOT a float SUM aggregate): double
    * addition is not associative and aggregate order differs between
    * engines.
    */
  private def bm25Sum(qterms: Seq[String]): Column =
    qterms.map(tm => coalesce(max(when(col("term") === tm, col("score"))), lit(0.0)))
      .reduceLeft(_ + _)

  /** Per-key BM25 of scored rows. */
  private[graft] def perKeyBm25(scored: DataFrame, qterms: Seq[String],
      keys: Seq[String] = Seq("doc_id")): DataFrame =
    scored.groupBy(keys.map(col): _*).agg(bm25Sum(qterms).as("bm25"))

  /** The top `k` keys by BM25 of scored rows, ties to the lower keys. */
  private[graft] def topBm25(scored: DataFrame, qterms: Seq[String], k: Int,
      keys: Seq[String] = Seq("doc_id")): DataFrame =
    perKeyBm25(scored, qterms, keys)
      .orderBy(col("bm25").desc +: keys.map(col): _*)
      .limit(k)

  /** BM25 over the STORED index: one pruned postings scan and one
    * aggregate, zero corpus access and no broadcast. Shares `q_bm25`'s
    * oracle, which proves the stored path faithful to the in-query path.
    */
  def bm25(spark: SparkSession, indexDir: String, qterms: Seq[String],
      k: Int = 10): DataFrame =
    topBm25(storedPostings(spark, indexDir, qterms), qterms, k)

  /** Token-set Jaccard of the query set (`nq` terms) and a doc's
    * distinct-term set, from the doc's `inter` query terms and its
    * `n_terms`: one IEEE division, bit-identical across engines.
    */
  private[graft] def jaccard(nq: Int): Column =
    col("inter").cast(DoubleType) / (col("n_terms") + lit(nq) - col("inter"))

  /** Hybrid BM25 + token-set-Jaccard retrieval fused by reciprocal rank
    * (the q_hybrid_rrf semantics) over the STORED index: one per-doc
    * aggregate of the query terms' postings (n_terms rides on each
    * posting) feeds both rank lists, so the query touches |query
    * buckets|/64 of the postings and the corpus never.
    */
  def hybridRrf(spark: SparkSession, indexDir: String, qterms: Seq[String],
      k: Int = 10): DataFrame = {
    val perDoc = storedPostings(spark, indexDir, qterms).groupBy(col("doc_id"))
      .agg(bm25Sum(qterms).as("bm25"), count(lit(1)).as("inter"),
        max(col("n_terms")).as("n_terms"))
      .withColumn("jac", jaccard(qterms.size))
    topRrf(perDoc, perDoc, k)
  }

  /** The top `k` docs by reciprocal-rank fusion of two retrievers' per-doc
    * scores, `bm` (doc_id, bm25) and `jac` (doc_id, jac): each is cut to
    * its top 50, ties to the lower doc_id, and the two rank lists fuse as
    * rrf = Σ 1e9 div (60 + rank), integer division, bit-identical across
    * engines. The rank windows run AFTER limit(50): TakeOrderedAndProject
    * bounds each list to 50 rows before the single-partition window sees
    * it. When one relation carries both scores (the stored path's per-doc
    * aggregate), each list orders by the other retriever's score last:
    * doc_id is unique, so that key never decides the order, but with it
    * both lists need the whole aggregate, and the plan runs it once
    * through one reused shuffle instead of letting column pruning split
    * it into two scans and two shuffles.
    */
  private[graft] def topRrf(bm: DataFrame, jac: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def top50(rel: DataFrame, score: String, other: String, rank: String) = {
      val last = if (rel.columns.contains(other)) Seq(col(other).desc) else Nil
      rel.orderBy(Seq(col(score).desc, col("doc_id")) ++ last: _*).limit(50)
        .select(col("doc_id"), row_number().over(
          Window.orderBy(col(score).desc, col("doc_id"))).as(rank))
    }
    def rrf(rank: String) = s"coalesce(1000000000 div (60 + $rank), 0)"
    top50(bm, "bm25", "jac", "rb").join(top50(jac, "jac", "bm25", "rj"), Seq("doc_id"), "full_outer")
      .selectExpr("doc_id", s"CAST(${rrf("rb")} + ${rrf("rj")} AS LONG) AS rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }
}
