package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.sources.TextIndexStore

/** Corpus-analytics batch: the term-statistics, deterministic-sampling and
  * calendar operators a training-data pipeline runs corpus-wide, plus the
  * remaining engine-surface entries (correlated EXISTS, RANGE frames,
  * cross join, first/last navigation).
  *
  * Scale notes (the 100 TB lens):
  *  - every term-statistics query is explode -> partial-agg -> final-agg:
  *    the shuffle carries one row per DISTINCT (doc,term) or term, never
  *    the token stream itself;
  *  - sampling is hash-deterministic (md5 of the key), so it is stable
  *    under retries/replays and needs no global sort or count — the
  *    standard trick for reproducible corpus subsets;
  *  - top-k queries end in TakeOrderedAndProject (O(k) per partition,
  *    no global sort).
  */
object CorpusOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** (doc_id, term) exploded token stream, empty tokens dropped. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")

  /** The query terms' rows of a tf relation (`keys`, term, tf) scored
    * with BM25 against statistics computed in the same plan
    * ([[TextIndexStore.docStats]], `corpusStats`, `termDf`): the
    * vocabulary-sized df and the one-row corpus stats broadcast, so the
    * corpus-sized shuffles are the tf and per-key aggregations only. Each
    * row carries its key's `n_terms`.
    */
  private def bm25Scored(tf: DataFrame, qterms: Seq[String], keys: Seq[String]): DataFrame = {
    val docs = TextIndexStore.docStats(tf, keys)
    val tfq = tf.filter(col("term").isin(qterms: _*))
    TextIndexStore.scored(tfq.join(broadcast(TextIndexStore.termDf(tfq)), Seq("term"))
        .join(docs, keys).crossJoin(broadcast(TextIndexStore.corpusStats(docs))),
      col("n_docs"), col("avgdl"), col("df"))
  }

  private[graft] val tfMemo = new graft.SessionMemo[String, DataFrame](_.unpersist())

  /** Session-lifetime shared tf relation (doc_id, term, tf): materialized
    * ONCE per (session, corpus) and reused by every retrieval query in
    * the suite — q_bm25 and q_hybrid_rrf no longer each pay their own
    * tokenize+count corpus pass (the round-5 verdict's biggest honest
    * bench line item). This is the in-memory half of the stored-index
    * story; the persisted-table form is sources.TextIndexStore /
    * q_bm25_stored. The footprint is one row per distinct (doc, term) of
    * the corpus slice under test, spilling to disk if memory-tight; it is
    * unpersisted when the corpus fingerprint moves (a regenerated corpus
    * must never be served stale to q_tfidf/q_bm25/q_hybrid_rrf/
    * q_cooccur_lift).
    *
    * SIZE-CONDITIONAL (the semanticDecontaminate broadcastEvalRows
    * convention): a corpus over [[graft.SessionMemo.inputBudget]] does NOT
    * get a session-pinned corpus-scale spill file — consumers recompute
    * their tokenize pass (one scan each) and the persisted-store path
    * (TextIndexStore) is the scale answer. Same rows either way.
    */
  private[graft] def sharedTf(s: SparkSession, dir: String): DataFrame =
    tfMemo(s, dir, Some(Tables.fingerprint(s, s"$dir/documents.parquet"))) {
      val raw = tokens(t(s, dir, "documents"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val docBytes = graft.Par.tableBytes(s, dir, "documents")
      if (docBytes > graft.SessionMemo.inputBudget(s)) raw
      else {
        // coalesce to a size-derived count before caching: AQE cannot
        // re-coalesce a cached plan, and the ~12 retrieval consumers
        // each re-scan this relation — near-empty cached partitions
        // cost a task launch per partition per scan (Par.sizedCount).
        val c = graft.Par.sizedCoalesce(s, docBytes)(raw)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        c.count() // materialize eagerly so reuse is a cache read
        c
      }
    }

  /** CROSS-SOURCE contamination matrix — the mixture-hygiene audit a
    * team reads before weighting sources (q_temperature_mix /
    * q_source_epochs decide HOW MUCH of each source; this reports how
    * much of each source is ALREADY IN the others): for every source
    * pair, the count of distinct 3-word shingles both contain and the
    * Jaccard overlap of their shingle sets. High off-diagonal mass
    * means the mixture double-counts content (mirrors of the same
    * crawl, syndicated text) and the dedup pass should run ACROSS those
    * sources, not within.
    *
    * Scale shape: one pass shingles the corpus; only DISTINCT
    * (source, xxhash64) 16-byte rows survive to the self-join (the
    * q_dedup_ngram hash-vs-string convention — the oracle decides on
    * strings), and per-hash join fan-out is bounded by the SOURCE
    * count, not the corpus (a shingle row exists once per source no
    * matter how often the shingle repeats inside it), so the pair
    * relation is at most sources² rows per shingle value and the
    * output is the sources×sources matrix.
    */
  def sourceOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.select(col("source"),
        explode(graft.functions.TextFunctions.wordWindows(col("text"), k, 1))
          .as("chunk"))
      .select(col("source"), xxhash64(col("chunk")).as("h"))
      .distinct()
      .persist() // both sides of the pair join and the size aggregate
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val out = pairs
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_shared")).cast(DoubleType))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
      .localCheckpoint()
    sh.unpersist()
    out
  }

  private val sourceOverlapOracle: String =
    """WITH d AS (SELECT source, text, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS n
              FROM documents),
       sh AS (SELECT DISTINCT source, chunk FROM (
                SELECT source,
                       CASE WHEN n <= 3 THEN text
                            ELSE array_to_string(ws[j+1 : j+3], ' ') END AS chunk
                FROM d, LATERAL (SELECT unnest(range(0,
                       CASE WHEN n <= 3 THEN 1 ELSE n - 3 + 1 END)) AS j))),
       sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       pr AS (SELECT a.source AS source_a, b.source AS source_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM sh a JOIN sh b ON a.chunk = b.chunk AND a.source < b.source
              GROUP BY 1, 2)
       SELECT pr.source_a, pr.source_b, pr.n_shared,
              za.n AS n_a, zb.n AS n_b,
              CAST(pr.n_shared AS DOUBLE) / CAST(za.n + zb.n - pr.n_shared AS DOUBLE) AS jaccard
       FROM pr JOIN sz za ON za.source = pr.source_a
               JOIN sz zb ON zb.source = pr.source_b
       ORDER BY 1, 2"""

  /** FIRST-OCCURRENCE NOVELTY score — the curation signal a dedup-aware
    * sampler reads per document: the fraction of a doc's distinct
    * 3-word shingles whose FIRST corpus occurrence (minimum doc_id — the
    * arrival-order convention every incremental family here uses) is
    * this document. A near-copy of earlier content scores near 0, fresh
    * content near 1 — the per-DOC graded complement of the binary
    * near-dup kill (q_dedup_minhash drops twins; this prices partial
    * redundancy, the "soft dedup" weighting published crawl pipelines
    * apply before sampling).
    *
    * Scale shape: distinct (doc, shingle-hash) 16-byte rows; the
    * first-occurrence owner is an aggregate MIN per shingle (map-side
    * partial — the argmax-discipline sibling), joined back on the
    * 8-byte hash; nothing wider than ids ever shuffles (hash-vs-string
    * oracle convention).
    */
  def docNovelty(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.wordWindows(col("text"), k, 1))
          .as("chunk"))
      .select(col("doc_id"), xxhash64(col("chunk")).as("h"))
      .distinct()
      .persist() // the first-owner aggregate and the join probe both read it
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val out = sh.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast(DoubleType) / col("n_shingles").cast(DoubleType))
          .as("novelty"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    sh.unpersist()
    out
  }

  private val docNoveltyOracle: String =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS n
              FROM documents),
       sh AS (SELECT DISTINCT doc_id, chunk FROM (
                SELECT doc_id,
                       CASE WHEN n <= 3 THEN text
                            ELSE array_to_string(ws[j+1 : j+3], ' ') END AS chunk
                FROM d, LATERAL (SELECT unnest(range(0,
                       CASE WHEN n <= 3 THEN 1 ELSE n - 3 + 1 END)) AS j))),
       f AS (SELECT chunk, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
       SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
              CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS novelty
       FROM sh s JOIN f USING (chunk) GROUP BY 1 ORDER BY 1"""

  /** PER-SOURCE GLOBAL UNIQUENESS — the corpus-wide complement of the
    * pairwise [[sourceOverlap]] matrix: for each source, how many of its
    * distinct 3-word shingles appear in NO other source (n_unique) and
    * the resulting uniqueness fraction — the "effective contribution"
    * input a dedup-aware mixture weighting reads (a source that is 90%
    * syndicated content adds far fewer effective tokens than its raw
    * size claims). Same distinct (source, hash) relation as the overlap
    * matrix; the cross-source multiplicity is one aggregate COUNT per
    * hash (map-side partial), joined back on the 8-byte key.
    */
  def sourceUniqueness(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.select(col("source"),
        explode(graft.functions.TextFunctions.wordWindows(col("text"), k, 1))
          .as("chunk"))
      .select(col("source"), xxhash64(col("chunk")).as("h"))
      .distinct()
      .persist() // the multiplicity aggregate and the probe side share it
    val multi = sh.groupBy(col("h")).agg(count(lit(1)).as("ns"))
    val out = sh.join(multi, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ns") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast(DoubleType) / col("n_shingles").cast(DoubleType))
          .as("uniq_frac"))
      .orderBy(col("source"))
      .localCheckpoint()
    sh.unpersist()
    out
  }

  /** DuckDB CTE block defining relation su(source, n_shingles,
    * n_unique, uniq_frac) — the oracle twin of [[sourceUniqueness]],
    * shared by q_source_uniqueness and TrainerOps' q_epoch_cap_mix.
    * Starts after WITH.
    */
  val sourceUniquenessCtes: String =
    """d AS (SELECT source, text, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS n
              FROM documents),
       sh AS (SELECT DISTINCT source, chunk FROM (
                SELECT source,
                       CASE WHEN n <= 3 THEN text
                            ELSE array_to_string(ws[j+1 : j+3], ' ') END AS chunk
                FROM d, LATERAL (SELECT unnest(range(0,
                       CASE WHEN n <= 3 THEN 1 ELSE n - 3 + 1 END)) AS j))),
       m AS (SELECT chunk, count(*) AS ns FROM sh GROUP BY 1),
       su AS (SELECT s.source, CAST(count(*) AS BIGINT) AS n_shingles,
                     CAST(SUM(CASE WHEN m.ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                     CAST(SUM(CASE WHEN m.ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS uniq_frac
              FROM sh s JOIN m USING (chunk) GROUP BY 1)"""

  private val sourceUniquenessOracle: String =
    s"""WITH $sourceUniquenessCtes
       SELECT source, n_shingles, n_unique, uniq_frac FROM su ORDER BY 1"""

  /** Shared by q_bm25, q_bm25_stored and q_bm25_incr: every BM25 path
    * must return the in-query scores bit for bit.
    */
  private val bm25OracleSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
                   tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
                   dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
                   stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
                   dfq AS (SELECT term, count(*) AS df FROM tf
                           WHERE term IN ('hash', 'join', 'vector') GROUP BY 1),
                   scored AS (SELECT tf.doc_id, tf.term,
                                     tf.tf * 2.2::DOUBLE / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (dl.dl / stats.avgdl)))
                                       * ((stats.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE)) AS score
                              FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats)
              SELECT doc_id,
                     coalesce(MAX(CASE WHEN term = 'hash' THEN score END), 0.0)
                     + coalesce(MAX(CASE WHEN term = 'join' THEN score END), 0.0)
                     + coalesce(MAX(CASE WHEN term = 'vector' THEN score END), 0.0) AS bm25
              FROM scored GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 10"""

  /** Shared by q_hybrid_rrf and q_hybrid_rrf_stored. */
  private val hybridRrfOracleSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
                   tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
                   dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
                   stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
                   dfq AS (SELECT term, count(*) AS df FROM tf
                           WHERE term IN ('hash', 'join', 'vector') GROUP BY 1),
                   scored AS (SELECT tf.doc_id, tf.term,
                                     tf.tf * 2.2::DOUBLE / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (dl.dl / stats.avgdl)))
                                       * ((stats.n_docs - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE)) AS score
                              FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats),
                   bm AS (SELECT doc_id,
                                 coalesce(MAX(CASE WHEN term = 'hash' THEN score END), 0.0)
                                 + coalesce(MAX(CASE WHEN term = 'join' THEN score END), 0.0)
                                 + coalesce(MAX(CASE WHEN term = 'vector' THEN score END), 0.0) AS bm25
                          FROM scored GROUP BY doc_id),
                   rb AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
                          FROM bm ORDER BY bm25 DESC, doc_id LIMIT 50),
                   nd AS (SELECT doc_id, COUNT(*) AS n_terms FROM tf GROUP BY 1),
                   iq AS (SELECT doc_id, COUNT(*) AS inter FROM tf
                          WHERE term IN ('hash', 'join', 'vector') GROUP BY 1),
                   jac AS (SELECT iq.doc_id,
                                  CAST(iq.inter AS DOUBLE) / (nd.n_terms + 3 - iq.inter) AS jac
                           FROM iq JOIN nd USING (doc_id)),
                   rj AS (SELECT doc_id, row_number() OVER (ORDER BY jac DESC, doc_id) AS r
                          FROM jac ORDER BY jac DESC, doc_id LIMIT 50)
              SELECT COALESCE(rb.doc_id, rj.doc_id) AS doc_id,
                     COALESCE(1000000000 // (60 + rb.r), 0)
                       + COALESCE(1000000000 // (60 + rj.r), 0) AS rrf
              FROM rb FULL OUTER JOIN rj ON rb.doc_id = rj.doc_id
              ORDER BY rrf DESC, doc_id LIMIT 10"""

  /** RETRIEVAL-QUALITY METRICS (MRR / recall@k / nDCG@k) — the eval
    * harness for the retrieval stack (q_bm25 / q_hybrid_rrf /
    * q_passage_search build rankings; nothing measured them). Every eval
    * doc (doc_id % 97 == 0, the family's split convention) is a QUERY;
    * candidates are train docs sharing ≥ 1 term (the inverted-index
    * contract — ranks are over the retrieved set); the ranking score is
    * idf-weighted distinct-term overlap (Σ ln(n_docs/df) over shared
    * terms — per-term values decimal-rounded then summed exactly, the
    * q_kl_sources discipline); relevance labels are provenance-derived
    * (same source AND lang as the query — weak supervision, fully
    * deterministic). Per query:
    *
    *   first_rel_rank — rank of the first relevant hit in the top k
    *     (NULL if none), mrr = 1/first_rel_rank else 0;
    *   n_rel_top — relevant hits in the top k; recall@k = that over
    *     n_rel_total (NULL when the label set is empty);
    *   dcg/ndcg@k — binary gains, weight 1/log2(rank+1) computed as
    *     ln(rank+1)/ln(2) IDENTICALLY on both engines (a direct log2
    *     can differ from ln/ln in the last ulp), terms decimal-rounded
    *     before the sum; idcg from the ideal prefix min(k, n_rel_total).
    *
    * Scale shape: the score join is an inverted-index join on term (the
    * BM25 shape) — df/n_docs broadcast; the per-query top-k window
    * partitions by query (queries are the tiny side by construction).
    */
  def retrievalMetrics(s: SparkSession, docs: DataFrame, k: Int = 10,
      toks0: Option[DataFrame] = None): DataFrame = {
    val isQ = col("doc_id") % 97 === 0
    // toks0: the (doc_id, term) distinct relation, injectable so the
    // declared query rides the session-shared tf relation (sharedTf's
    // rows ARE the distinct pairs) instead of paying three separate
    // tokenize+distinct corpus passes (dfT, qT, cT below each replanned
    // the pass when toks was a view).
    val toks = toks0.getOrElse(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "").distinct())
    val nTot = docs.agg(count(lit(1)).as("n_docs"))
    // NOTE on the join fan-out: a production corpus applies a stopword /
    // df cut before the posting-list join (a term in >25% of docs
    // carries ~no signal but its posting list is O(corpus)). The fixture
    // has a 31-term vocabulary where every term fails that rule, so the
    // declared row scores all shared terms — the exact-regime anchor
    // convention; the cut is one integer-exact filter on dfT when the
    // corpus supports it
    val dfT = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qT = toks.filter(isQ).select(col("doc_id").as("q_id"), col("term"))
    val cT = toks.filter(!isQ)
    // df filter joins FIRST so stopword terms never reach the
    // posting-list join (inner joins commute; the fan-out doesn't).
    // The idf weight is computed ON THE VOCAB SIDE (one log + decimal
    // round per TERM, before the fan-out) rather than per scored row:
    // the value per term is bit-identical either way — log of the same
    // two longs, same decimal rounding — but the posting-list join
    // multiplies rows by posting-list length, so computing it after the
    // join paid |q_terms × postings| transcendental+decimal casts for
    // |vocab| distinct values.
    val dfW = dfT.crossJoin(nTot)
      .withColumn("w",
        log(col("n_docs").cast(DoubleType) / col("df")).cast(DecimalType(24, 9)))
      .select(col("term"), col("w"))
    val scored = qT.join(broadcast(dfW), Seq("term"))
      .join(cT, Seq("term"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("w")).cast(DoubleType).as("score"))
    val meta = docs.select(col("doc_id"), col("source"), col("lang"))
    val nRel = meta.filter(!isQ)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("nr"))
    val qMeta = meta.filter(isQ).select(col("doc_id").as("q_id"),
        col("source"), col("lang"))
      .join(broadcast(nRel), Seq("source", "lang"), "left")
      .select(col("q_id"), col("source").as("q_source"),
        col("lang").as("q_lang"), coalesce(col("nr"), lit(0L)).as("n_rel_total"))
    val wQ = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val ln2 = log(lit(2.0))
    val top = scored
      .withColumn("rank", row_number().over(wQ).cast(LongType))
      .filter(col("rank") <= k)
      .join(meta, Seq("doc_id"))
      .join(broadcast(qMeta), Seq("q_id"))
      .withColumn("rel",
        (col("source") === col("q_source") && col("lang") === col("q_lang"))
          .cast("int"))
      .groupBy(col("q_id"), col("n_rel_total"))
      .agg(min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"),
        sum(col("rel")).cast(LongType).as("n_rel_top"),
        sum((col("rel") / (log(col("rank").cast(DoubleType) + 1.0) / ln2))
          .cast(DecimalType(24, 9))).cast(DoubleType).as("dcg"))
    // ideal DCG over the prefix min(k, n_rel_total) — same rounded-term
    // sum, built from an exploded rank sequence
    val idcg = qMeta
      .filter(col("n_rel_total") >= 1)
      .select(col("q_id"),
        explode(expr(s"sequence(1, least($k, n_rel_total))")).as("i"))
      .groupBy(col("q_id"))
      .agg(sum((lit(1.0) / (log(col("i").cast(DoubleType) + 1.0) / ln2))
        .cast(DecimalType(24, 9))).cast(DoubleType).as("idcg"))
    top.join(idcg, Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel_total"), col("first_rel_rank"),
        when(col("first_rel_rank").isNull, 0.0)
          .otherwise(lit(1.0) / col("first_rel_rank")).as("mrr"),
        col("n_rel_top"),
        when(col("n_rel_total") === 0, lit(null).cast(DoubleType))
          .otherwise(col("n_rel_top").cast(DoubleType) / col("n_rel_total"))
          .as("recall_k"),
        col("dcg"),
        when(col("idcg").isNull, lit(null).cast(DoubleType))
          .otherwise(col("dcg") / col("idcg")).as("ndcg_k"))
      .orderBy(col("q_id"))
  }

  private def retrievalMetricsOracle(k: Int): String =
    s"""WITH toks AS (SELECT DISTINCT doc_id, t.term
                      FROM documents,
                        LATERAL unnest(string_split(text, ' ')) AS t(term)
                      WHERE t.term <> ''),
       ntot AS (SELECT count(*) AS n_docs FROM documents),
       dft AS (SELECT term, count(*) AS df FROM toks GROUP BY 1),
       sc AS (SELECT q.doc_id AS q_id, c.doc_id,
                     CAST(SUM(CAST(ln(CAST(n.n_docs AS DOUBLE) / d.df)
                       AS DECIMAL(24,9))) AS DOUBLE) AS score
              FROM toks q JOIN toks c USING (term)
              JOIN dft d USING (term) CROSS JOIN ntot n
              WHERE q.doc_id % 97 = 0 AND c.doc_id % 97 <> 0
              GROUP BY 1, 2),
       meta AS (SELECT doc_id, source, lang FROM documents),
       nrel AS (SELECT source, lang, count(*) AS nr FROM meta
                WHERE doc_id % 97 <> 0 GROUP BY 1, 2),
       qm AS (SELECT m.doc_id AS q_id, m.source AS q_source,
                     m.lang AS q_lang, COALESCE(nrel.nr, 0) AS n_rel_total
              FROM meta m LEFT JOIN nrel USING (source, lang)
              WHERE m.doc_id % 97 = 0),
       top AS (SELECT q_id, doc_id, rank FROM (
                 SELECT q_id, doc_id, row_number() OVER (
                   PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
                 FROM sc) WHERE rank <= $k),
       lab AS (SELECT t.q_id, t.rank,
                      CASE WHEN m.source = qm.q_source
                           AND m.lang = qm.q_lang THEN 1 ELSE 0 END AS rel,
                      qm.n_rel_total
               FROM top t JOIN meta m USING (doc_id)
               JOIN qm ON qm.q_id = t.q_id),
       agg AS (SELECT q_id, n_rel_total,
                      MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
                      CAST(SUM(rel) AS BIGINT) AS n_rel_top,
                      CAST(SUM(CAST(rel / (ln(CAST(rank AS DOUBLE) + 1.0)
                        / ln(2.0)) AS DECIMAL(24,9))) AS DOUBLE) AS dcg
               FROM lab GROUP BY 1, 2),
       idcg AS (SELECT q_id,
                       CAST(SUM(CAST(1.0 / (ln(CAST(u.i AS DOUBLE) + 1.0)
                         / ln(2.0)) AS DECIMAL(24,9))) AS DOUBLE) AS idcg
                FROM qm, LATERAL unnest(range(1, least($k, n_rel_total) + 1)) AS u(i)
                WHERE n_rel_total >= 1 GROUP BY 1)
       SELECT a.q_id, a.n_rel_total, a.first_rel_rank,
              CASE WHEN a.first_rel_rank IS NULL THEN 0.0
                   ELSE 1.0 / a.first_rel_rank END AS mrr,
              a.n_rel_top,
              CASE WHEN a.n_rel_total = 0 THEN NULL
                   ELSE CAST(a.n_rel_top AS DOUBLE) / a.n_rel_total END AS recall_k,
              a.dcg,
              CASE WHEN i.idcg IS NULL THEN NULL
                   ELSE a.dcg / i.idcg END AS ndcg_k
       FROM agg a LEFT JOIN idcg i USING (q_id)
       ORDER BY a.q_id"""

  val queries: Seq[Q] = Seq(
    Q("q_retrieval_metrics",
      (s, dir) => retrievalMetrics(s, t(s, dir, "documents"),
        // term-keyed widen out of the size-coalesced cache layout: the
        // posting fan-out join and the dfT aggregate inside
        // retrievalMetrics both key on term, so locally this one cheap
        // exchange restores fan-out parallelism and is reused by the
        // aggregate; at scale it is the identity (Par.sizedWiden)
        toks0 = Some(graft.Par.sizedWiden(s,
            graft.Par.tableBytes(s, dir, "documents"))(col("term"))(
          sharedTf(s, dir).select(col("doc_id"), col("term"))))),
      Some(matCtes(retrievalMetricsOracle(10)))),
    Q("q_source_uniqueness",
      (s, dir) => sourceUniqueness(t(s, dir, "documents")),
      Some(sourceUniquenessOracle)),
    Q("q_doc_novelty",
      (s, dir) => docNovelty(t(s, dir, "documents")),
      Some(docNoveltyOracle)),
    Q("q_source_overlap",
      (s, dir) => sourceOverlap(t(s, dir, "documents")),
      Some(sourceOverlapOracle)),

    // TF-IDF top-3 terms per document. Scoring uses ratio idf (tf * N/df)
    // rather than log idf: the ranking inputs stay integer-exact and the
    // one double op is a single IEEE division, so Spark and DuckDB agree
    // bitwise (libm log is not guaranteed identical across engines; a log
    // variant is a one-expression swap). Plan: tokens -> (doc,term) counts
    // (partial+final agg) -> df by term -> broadcast N -> per-doc top-3
    // via row_number. The df join shuffles O(vocab), never the corpus.
    Q("q_tfidf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the session-shared materialized tf: it feeds BOTH the df
        // aggregation and the scoring join here (cross-subtree plans
        // re-execute — no CSE), and the other retrieval queries reuse the
        // same relation (at warehouse scale tf materializes to a table —
        // sources.TextIndexStore is that form)
        val tf = sharedTf(s, dir)
        val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term").asc)
        tf.join(dft, Seq("term"))
          .crossJoin(broadcast(n))
          .withColumn("score",
            col("tf").cast(DoubleType) * col("n_docs") / col("df"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
          .orderBy(col("doc_id"), col("term"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
                   tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
                   dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
                   scored AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df,
                                     CAST(tf.tf AS DOUBLE) * (SELECT count(*) FROM documents) / dft.df AS score,
                                     row_number() OVER (PARTITION BY tf.doc_id
                                       ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC) AS rn
                              FROM tf JOIN dft USING (term))
              SELECT doc_id, term, tf, df, score FROM scored WHERE rn <= 3
              ORDER BY doc_id, term""")),

    // Corpus-wide top-100 tokens — the Zipf head. A term's corpus count
    // is the sum of its per-doc tf, so this reads the session-shared tf
    // relation instead of re-tokenizing the corpus; partial aggregation
    // combines per-partition sums map-side, and the deterministic
    // (cnt DESC, term ASC) key makes the cut stable under ties.
    Q("q_token_freq",
      (s, dir) =>
        sharedTf(s, dir)
          .groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
          .orderBy(col("cnt").desc, col("term"))
          .limit(100),
      Some("""SELECT term, count(*) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
              WHERE term <> ''
              GROUP BY term ORDER BY cnt DESC, term LIMIT 100""")),

    // Top-50 word bigrams: posexplode keeps token positions, lead() over
    // (doc, pos) forms each adjacent pair — one shuffle on doc_id (the
    // window), then the same partial-agg count/top-k shape as unigrams.
    // (The oracle builds the pair list with a DuckDB list comprehension —
    // same raw adjacency, so identical pairs.)
    Q("q_bigram_freq",
      (s, dir) => {
        val tp = t(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .toDF("doc_id", "pos", "tok")
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        tp.withColumn("nxt", lead(col("tok"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .select(concat_ws(" ", col("tok"), col("nxt")).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("bigram"))
          .limit(50)
      },
      Some("""SELECT bigram, count(*) AS cnt
              FROM (SELECT unnest([ws[i] || ' ' || ws[i + 1]
                                   for i in generate_series(1, len(ws) - 1)]) AS bigram
                    FROM (SELECT string_split(text, ' ') AS ws FROM documents))
              GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""")),

    // Deterministic ~5% corpus sample: keep docs whose md5(doc_id) starts
    // <= '0c' (13/256). Pure per-row filter — no count, no sort, no state;
    // replay-stable and embarrassingly parallel, unlike rand()-based
    // sampling which changes under retries.
    Q("q_hash_sample",
      (s, dir) =>
        t(s, dir, "documents")
          .filter(substring(md5(col("doc_id").cast(StringType)), 1, 2) <= "0c")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, source, n_chars FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '0c'
              ORDER BY doc_id""")),

    // Corpus-health summary: exact-duplicate rate per source — count vs
    // distinct content hash (md5 so both engines hash identically), the
    // first metric any corpus intake dashboard shows. One partial+final
    // aggregate; the division is a single IEEE op (bitwise-portable).
    Q("q_doc_dup_rate",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_distinct"))
          .withColumn("dup_rate",
            lit(1.0) - col("n_distinct").cast(DoubleType) / col("n_docs"))
          .orderBy(col("source")),
      Some("""SELECT source, count(*) AS n_docs,
                     count(DISTINCT md5(text)) AS n_distinct,
                     1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS dup_rate
              FROM documents GROUP BY source ORDER BY source""")),

    // Doc-length distribution per source via discrete percentiles —
    // actual data points, so cross-engine exact (no interpolation).
    Q("q_length_percentiles",
      (s, dir) => {
        t(s, dir, "documents").createOrReplaceTempView("documents_v")
        // Spark's PERCENTILE_DISC returns DOUBLE even for integer input;
        // the picked values are actual data points, so the BIGINT cast is
        // lossless and matches DuckDB's input-typed quantile_disc
        s.sql("""SELECT source,
                        CAST(PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p10,
                        CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50,
                        CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p90,
                        count(*) AS n
                 FROM documents_v GROUP BY source ORDER BY source""")
      },
      Some("""SELECT source,
                     quantile_disc(n_chars, 0.1) AS p10,
                     quantile_disc(n_chars, 0.5) AS p50,
                     quantile_disc(n_chars, 0.9) AS p90,
                     count(*) AS n
              FROM documents GROUP BY source ORDER BY source""")),

    // Deterministic train/val/test assignment (~80/10/10 by md5 prefix):
    // the split is a pure function of the key — stable across reruns,
    // machines, and engine versions, with no global shuffle or count.
    // Summarized per (source, split) so the whole assignment is checked.
    Q("q_train_split",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("h", substring(md5(col("doc_id").cast(StringType)), 1, 2))
          .withColumn("split",
            when(col("h") < "cc", "train")
              .when(col("h") < "e6", "val")
              .otherwise(lit("test")))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("split")),
      Some("""SELECT source, split, count(*) AS n_docs FROM (
                SELECT source,
                       CASE WHEN h < 'cc' THEN 'train'
                            WHEN h < 'e6' THEN 'val'
                            ELSE 'test' END AS split
                FROM (SELECT source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
                      FROM documents))
              GROUP BY source, split ORDER BY source, split""")),

    // Stratified deterministic sample: 20 docs per source, ranked by
    // md5(doc_id) — a reproducible per-stratum quota. One shuffle on the
    // stratum key; rank state is O(1) per partition after the sort.
    Q("q_stratified_sample",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 20)
          .select(col("source"), col("doc_id"), col("rn"))
          .orderBy(col("source"), col("rn"))
      },
      Some("""SELECT source, doc_id, rn FROM (
                SELECT source, doc_id,
                       row_number() OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents)
              WHERE rn <= 20 ORDER BY source, rn""")),

    // Calendar gap fill: generate the full min..max day range (sequence +
    // explode — O(days), driver-free) and left-join daily aggregates, so
    // missing days surface as explicit zero rows — the standard
    // time-series densification before windowed training features.
    Q("q_gap_fill_days",
      (s, dir) => {
        val e = t(s, dir, "events")
        val daily = e.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
        val cal = e.agg(date_trunc("day", min(col("ts"))).as("mn"),
            date_trunc("day", max(col("ts"))).as("mx"))
          .select(explode(sequence(col("mn"), col("mx"),
            expr("interval 1 day"))).as("day"))
        cal.join(daily, Seq("day"), "left")
          .select(col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("total"), lit(0.0)).as("total"))
          .orderBy(col("day"))
      },
      Some("""WITH bounds AS (SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS mn,
                                     CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS mx
                              FROM events),
                   cal AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day FROM bounds),
                   daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                                    count(*) AS n_events,
                                    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
                             FROM events GROUP BY 1)
              SELECT cal.day,
                     coalesce(daily.n_events, 0) AS n_events,
                     coalesce(daily.total, 0.0) AS total
              FROM cal LEFT JOIN daily ON cal.day = daily.day
              ORDER BY cal.day""")),

    // Correlated EXISTS through the SQL entry point — Catalyst rewrites it
    // to a left-semi join (same plan class as q_semi_join), proving the
    // subquery surface, not just the DataFrame API.
    Q("q_exists_subquery",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey, c_name FROM customer c
                 WHERE EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_orderpriority = '1-URGENT')
                 ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderpriority = '1-URGENT')
              ORDER BY c_custkey""")),

    // Trailing-1-hour sliding aggregate per user via a RANGE frame over
    // epoch microseconds — event-time feature engineering without
    // self-joining the stream against itself. One shuffle on user_id;
    // the frame is evaluated in a single ordered pass per key.
    Q("q_range_frame_1h",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0L)
        t(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .select(col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("n_1h"),
            sum(dec2(col("value"))).over(w).cast(DoubleType).as("sum_1h"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
                     count(*) OVER w AS n_1h,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
              ORDER BY event_id""")),

    // Fixed-width histogram of order totals: floor-divide to a bucket id,
    // then partial+final count/sum — O(buckets) shuffle. (floor(x/c) on
    // doubles is one IEEE division, bitwise-identical across engines.)
    Q("q_histogram",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(floor(col("o_totalprice") / 50000.0).cast(LongType).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("bucket")),
      Some("""SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
                     count(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
              FROM orders GROUP BY 1 ORDER BY bucket""")),

    // Grouped distinct-set aggregation to a sorted joined string — the
    // scalar-safe form of collect_set (the driver's compare cannot hash
    // array cells). Broadcast dim join + O(groups × distinct values) agg.
    Q("q_collect_set_str",
      (s, dir) =>
        t(s, dir, "nation")
          .join(t(s, dir, "customer"),
            col("n_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            array_join(array_sort(collect_set(col("c_mktsegment"))), ",").as("segments"),
            count(lit(1)).as("n_cust"))
          .orderBy(col("n_name")),
      Some("""SELECT n_name,
                     string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
                     count(*) AS n_cust
              FROM nation JOIN customer ON n_nationkey = c_nationkey
              GROUP BY n_name ORDER BY n_name""")),

    // Explicit cartesian product of two tiny dims — the one join shape
    // with no keys at all; Spark plans a broadcast nested-loop. Only ever
    // sane when one side is broadcastable (125 rows here).
    Q("q_cross_join",
      (s, dir) =>
        t(s, dir, "region").crossJoin(t(s, dir, "nation"))
          .select(col("r_name"), col("n_name"))
          .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
              ORDER BY r_name, n_name""")),

    // first/last navigation over each user's event history — session
    // entry/exit values. (ts, event_id) ordering makes ties deterministic;
    // last_value needs the full frame (default frames stop at CURRENT ROW).
    Q("q_first_last_window",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            first(col("value")).over(w).as("first_val"),
            last(col("value")).over(wf).as("last_val"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
                     first_value(value) OVER w AS first_val,
                     last_value(value) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              ORDER BY event_id""")),

    // PII-style redaction: every digit run in the payload replaced — the
    // per-row scrub pass every training corpus gets. Pure codegen'd
    // regexp_replace, zero shuffles. (DuckDB needs the 'g' flag; Spark
    // replaces all matches by default.)
    Q("q_pii_redact",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            regexp_replace(col("props"), "[0-9]+", "#").as("props_redacted"))
          .orderBy(col("event_id")),
      Some("""SELECT event_id,
                     regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted
              FROM events ORDER BY event_id""")),

    // BM25 ranked retrieval for a fixed term query. Same statistics
    // pipeline as q_tfidf (the shared tf feeds dl, df AND the scoring
    // join; bm25Scored), but Robertson's saturation formula — with RATIO idf
    // ((N-df+0.5)/(df+0.5), no log) so every arithmetic step is a single
    // IEEE op both engines evaluate identically (libm log is not
    // bit-portable; see the q_tfidf note). The per-document total is a
    // fixed-order expression sum over the pivoted per-term scores, NOT a
    // float SUM() aggregate, because double addition is not associative
    // and aggregate order differs between engines. df/stats broadcast;
    // the corpus-sized shuffles are the tf and dl aggregations only. The
    // scoring, pivot and top-k are TextIndexStore's, the stored paths' own.
    Q("q_bm25",
      (s, dir) => {
        val qterms = Seq("hash", "join", "vector")
        TextIndexStore.topBm25(bm25Scored(sharedTf(s, dir), qterms, Seq("doc_id")), qterms, 10)
      },
      Some(bm25OracleSql)),

    // BM25 over the STORED inverted index (sources.TextIndexStore) — the
    // lake-scale retrieval shape: the index (postings hive-partitioned on
    // xxhash64(term) mod 64, dl/df denormalized onto each posting,
    // n_docs/avgdl in a driver-read sidecar) is built ONCE per corpus, and
    // the query is one partition-PRUNED postings scan (only the query
    // terms' buckets — the plan's PartitionFilters, pinned by
    // RetrievalIndexSpec) and one aggregate, with ZERO corpus access, no
    // broadcast and no joins. Shares q_bm25's oracle verbatim: the
    // oracle proves the stored path returns bit-identical scores to the
    // in-query path.
    Q("q_bm25_stored",
      (s, dir) => {
        val idx = graft.sources.TextIndexStore.ensure(s, dir)
        graft.sources.TextIndexStore.bm25(s, idx, Seq("hash", "join", "vector"))
      },
      Some(bm25OracleSql)),

    // BM25 over the INCREMENTALLY MAINTAINED text index
    // (sources.IncrementalTextIndex): the corpus arrives as TWO append
    // layers (even ids then odd ids -- the streaming maintainer's
    // per-micro-batch shape) and the query runs over the merge-on-read
    // union. Shares the full-corpus oracle VERBATIM with
    // q_bm25/q_bm25_stored: the green row proves scores after
    // incremental maintenance are bit-identical to a batch build (df
    // folds to the same count, avgdl is the same one double division) --
    // the IncrementalIndexSpec pin, now on the hard gate. A fresh temp
    // index per invocation keeps it replay-safe, and closes the last
    // open cell of the 3x2 (text/vector/signature x stored/incremental)
    // declared-query grid.
    Q("q_bm25_incr",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val idx = graft.sources.Scratch.tempDir("graft_ti_incr") + "/idx"
        graft.sources.IncrementalTextIndex.appendBatch(
          s, docs.filter(col("doc_id") % 2 === 0), 0L, idx)
        graft.sources.IncrementalTextIndex.appendBatch(
          s, docs.filter(col("doc_id") % 2 =!= 0), 1L, idx)
        graft.sources.IncrementalTextIndex.bm25(
          s, idx, Seq("hash", "join", "vector"))
      },
      Some(bm25OracleSql)),

    // Hard-negative mining (contrastive-training pairs): for each probe
    // document, the top-5 most lexically similar documents that are NOT
    // near-duplicates (token-set jaccard in (0, 0.5)) — the "similar but
    // wrong" examples a retrieval/embedding trainer needs, where random
    // negatives are too easy and duplicates are false negatives. Cost is
    // the sparse inverted-index intersection (sum over shared terms of
    // df_probe x df, the tfidf_cosine shape): only candidate pairs that
    // share a term ever exist, and the per-pair jaccard is ONE double
    // division of integer distinct-term counts — bitwise across engines;
    // rank ties break on neg_id. At 100 TB the probe batch is the small
    // re-train delta and the corpus side is the pruned postings scan.
    Q("q_hard_negatives",
      (s, dir) => {
        val terms = sharedTf(s, dir).select(col("doc_id"), col("term"))
        val n = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        // widen the probe side out of the size-coalesced cache layout
        // BEFORE the posting fan-out join (whose corpus side broadcasts
        // locally, so the fan-out runs in the probe side's partitioning)
        val probes = graft.Par.sizedWiden(s,
            graft.Par.tableBytes(s, dir, "documents"))(
            col("doc_id"), col("term"))(
          terms.filter(col("doc_id") % 50 === 0))
          .select(col("doc_id").as("probe_id"), col("term"))
        val inter = probes
          .join(terms.withColumnRenamed("doc_id", "neg_id"), Seq("term"))
          .filter(col("probe_id") =!= col("neg_id"))
          .groupBy(col("probe_id"), col("neg_id"))
          .agg(count(lit(1)).as("c"))
        val scored = inter
          .join(broadcast(n.select(col("doc_id").as("probe_id"), col("n").as("na"))),
            Seq("probe_id"))
          .join(broadcast(n.select(col("doc_id").as("neg_id"), col("n").as("nb"))),
            Seq("neg_id"))
          .withColumn("jaccard",
            col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
          .filter(col("jaccard") < 0.5)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("probe_id"))
          .orderBy(col("jaccard").desc, col("neg_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("probe_id"), col("rank").cast(LongType).as("rank"),
            col("neg_id"), col("jaccard"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some("""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
                            FROM documents),
                   t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
                   n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM t2 GROUP BY doc_id),
                   pr AS (SELECT doc_id AS probe_id, term FROM t2 WHERE doc_id % 50 = 0),
                   inter AS (SELECT pr.probe_id, t2.doc_id AS neg_id,
                                    CAST(COUNT(*) AS BIGINT) AS c
                             FROM pr JOIN t2 USING (term)
                             WHERE pr.probe_id <> t2.doc_id
                             GROUP BY 1, 2),
                   scored AS (SELECT i.probe_id, i.neg_id,
                                     CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) AS jaccard
                              FROM inter i
                              JOIN n na ON na.doc_id = i.probe_id
                              JOIN n nb ON nb.doc_id = i.neg_id
                              WHERE CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) < 0.5),
                   ranked AS (SELECT probe_id, neg_id, jaccard,
                                     row_number() OVER (PARTITION BY probe_id
                                       ORDER BY jaccard DESC, neg_id) AS rank
                              FROM scored)
              SELECT probe_id, CAST(rank AS BIGINT) AS rank, neg_id, jaccard
              FROM ranked WHERE rank <= 5
              ORDER BY probe_id, rank""")),

    // Hybrid retrieval via reciprocal-rank fusion: two retrievers score the
    // same query — BM25 (saturated term weighting, the q_bm25 arithmetic)
    // and token-set Jaccard (set overlap, no term weighting) — and their
    // top-50 RANK lists fuse as rrf = Σ 1e9 div (60 + rank). Fusing ranks,
    // not scores, is the point of RRF: the two scoring scales never need
    // calibration, and the arithmetic is pure integer division — bitwise
    // identical across engines where any score-blend would float-drift.
    // Scale shape: both retrievers aggregate the SAME persisted tf
    // relation (one tokenize+count pass over the corpus), each in its own
    // branch: with no exchange under the per-doc aggregate (the cached tf
    // is one partition at sf0.1) there is no shuffle for the two lists to
    // reuse, so the stored path's one aggregate for both would run twice
    // here. Candidate lists are df-bounded (docs containing ≥1 query
    // term); the fusion is TextIndexStore.topRrf, the stored path's own.
    Q("q_hybrid_rrf",
      (s, dir) => {
        val qterms = Seq("hash", "join", "vector")
        val tf = sharedTf(s, dir)
        val inter = tf.filter(col("term").isin(qterms: _*))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("inter"))
        TextIndexStore.topRrf(
          TextIndexStore.perKeyBm25(bm25Scored(tf, qterms, Seq("doc_id")), qterms),
          inter.join(TextIndexStore.docStats(tf, Seq("doc_id")), Seq("doc_id"))
            .withColumn("jac", TextIndexStore.jaccard(qterms.size)),
          10)
      },
      Some(hybridRrfOracleSql)),

    // Hybrid RRF over the STORED index (sources.TextIndexStore) — both
    // retrievers read one per-doc aggregate of the partition-pruned
    // postings scan (the Jaccard denominator n_terms rides on each
    // posting), run once through one reused shuffle: two Spark jobs per
    // call. Zero corpus access (pinned by RetrievalIndexSpec). Shares
    // q_hybrid_rrf's oracle verbatim — the oracle proves the stored path
    // returns the identical fused ranking.
    Q("q_hybrid_rrf_stored",
      (s, dir) => {
        val idx = graft.sources.TextIndexStore.ensure(s, dir)
        graft.sources.TextIndexStore.hybridRrf(s, idx, Seq("hash", "join", "vector"))
      },
      Some(hybridRrfOracleSql)),

    // Token co-occurrence lift (ratio PMI, no log — integer numerator and
    // denominator, ONE double division, bit-identical cross-engine):
    // lift(a,b) = N·df(a,b) / (df(a)·df(b)). The pair space is generated
    // by a doc_id self-join of the DISTINCT (doc, term) set — per-doc
    // cost is vocabulary-bounded (tokens are deduped first), which is
    // what keeps the join quadratic in VOCAB, not in corpus size, at
    // 100 TB. df sides broadcast (vocab-sized).
    // Zipf power-law fit of the corpus token distribution — the
    // vocabulary-health diagnostic a tokenizer/curation pass reads first
    // (natural corpora fit ln(freq) ~ a + b*ln(rank) with b near -1;
    // synthetic or templated corpora show up as a flat or broken slope).
    // Determinism follows the q_bigram_logprob/q_linear_fit convention:
    // each ln() rounds to DECIMAL(24,9) before any arithmetic (hides
    // libm ulp differences), products are IEEE doubles of those exact
    // 9-decimal values rounded to DECIMAL(38,6) before the EXACT decimal
    // sums, and the slope/intercept are a fixed double expression tree
    // over the sums. O(vocab) after the shared tf relation — trivially
    // scale-safe.
    Q("q_zipf_fit",
      (s, dir) => {
        val freq = sharedTf(s, dir).groupBy(col("term"))
          .agg(sum(col("tf")).as("freq"))
        // global rank over the VOCAB relation (one row per distinct term
        // — sublinear in corpus size, ~10^7-10^8 at 100 TB web text); if
        // vocab ever outgrows one task, the rank decomposes like the
        // pack spine: freq-bucket counts -> prefix sum over buckets ->
        // within-bucket row_number
        val ranked = freq.withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("term"))))
        val d9 = (c: org.apache.spark.sql.Column) =>
          c.cast(DecimalType(24, 9)).cast(DoubleType)
        val x = d9(log(col("rank")))
        val y = d9(log(col("freq")))
        val m = DecimalType(38, 6)
        val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
        val slope = (col("n") * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (col("n") * d(col("sxx")) - d(col("sx")) * d(col("sx")))
        ranked
          .agg(count(lit(1)).as("n"),
            sum(x.cast(m)).as("sx"), sum(y.cast(m)).as("sy"),
            sum((x * y).cast(m)).as("sxy"), sum((x * x).cast(m)).as("sxx"))
          .select(col("n").as("n_terms"), slope.as("slope"),
            ((d(col("sy")) - slope * d(col("sx"))) / col("n")).as("intercept"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
              freq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS freq FROM tf GROUP BY term),
              ranked AS (SELECT term, freq,
                                row_number() OVER (ORDER BY freq DESC, term) AS rank
                         FROM freq),
              v AS (SELECT CAST(CAST(CAST(ln(rank) AS DECIMAL(24,9)) AS VARCHAR) AS DOUBLE) AS x,
                           CAST(CAST(CAST(ln(freq) AS DECIMAL(24,9)) AS VARCHAR) AS DOUBLE) AS y
                    FROM ranked),
              a AS (SELECT COUNT(*) AS n,
                           SUM(CAST(x AS DECIMAL(38,6))) AS sx,
                           SUM(CAST(y AS DECIMAL(38,6))) AS sy,
                           SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
                           SUM(CAST(x * x AS DECIMAL(38,6))) AS sxx
                    FROM v),
              b AS (SELECT n,
                           CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                           CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                           CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
                           CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
                    FROM a)
              SELECT n AS n_terms,
                     (n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd) AS slope,
                     (syd - (n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd) * sxd) / n AS intercept
              FROM b""")),

    Q("q_cooccur_lift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the distinct (doc, term) set IS the shared tf's key set — reuse
        // the session-materialized relation instead of re-tokenizing
        val dt = sharedTf(s, dir).select(col("doc_id"), col("term"))
        val dfr = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val out = dt.as("a")
          .join(dt.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
          .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
          .agg(count(lit(1)).as("df_ab"))
          .join(broadcast(dfr.select(col("term").as("term_a"), col("df").as("df_a"))),
            Seq("term_a"))
          .join(broadcast(dfr.select(col("term").as("term_b"), col("df").as("df_b"))),
            Seq("term_b"))
          .crossJoin(broadcast(n))
          .filter(col("df_ab") >= 5)
          .withColumn("lift",
            col("df_ab").cast(DoubleType) * col("n_docs") / (col("df_a") * col("df_b")))
          .select(col("term_a"), col("term_b"), col("df_ab"), col("lift"))
          .orderBy(col("lift").desc, col("term_a"), col("term_b"))
          .limit(20)
        out
      },
      Some("""WITH dt AS (SELECT DISTINCT doc_id, term
                          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
                          WHERE term <> ''),
                   dfr AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
                   n AS (SELECT count(*) AS n_docs FROM documents),
                   pairs AS (SELECT a.term AS term_a, b.term AS term_b, count(*) AS df_ab
                             FROM dt a JOIN dt b
                               ON a.doc_id = b.doc_id AND a.term < b.term
                             GROUP BY 1, 2)
              SELECT term_a, term_b, df_ab,
                     CAST(df_ab AS DOUBLE) * n.n_docs / (fa.df * fb.df) AS lift
              FROM pairs
              JOIN dfr fa ON fa.term = pairs.term_a
              JOIN dfr fb ON fb.term = pairs.term_b, n
              WHERE df_ab >= 5
              ORDER BY lift DESC, term_a, term_b LIMIT 20""")),

    // WEIGHTED cosine near-dup over tf-idf vectors — the similarity
    // family member between set-based Jaccard (term identity only) and
    // embedding cosine (dense vectors): rare shared terms dominate the
    // score. PROBE-BATCH framing (the q_dedup_minhash_stored
    // convention): every 100th doc is the incoming re-crawl delta, scored
    // against the whole corpus — pair generation over the term-inverted
    // index is then Σ df·df_probe, not Σ df², which matters here
    // because the synthetic vocabulary is SMALL and every term is hot
    // (the all-pairs form measured 72 s at sf0.1; the probe form ~2 s).
    // Weights are ratio-idf (tf·N/df — integer product, one IEEE
    // division); per-term dot/norm contributions round to DECIMAL(38,6)
    // BEFORE summing (the q_unigram_logprob convention), so partial-agg
    // order cannot move a bit, and the final cosine is a fixed
    // sqrt/multiply/divide tree (sqrt is correctly-rounded IEEE).
    // Reuses the session-shared tf relation. The full-corpus scale path
    // for weighted cosine is the LSH family (random projections over
    // weighted vectors), whose machinery q_sim_topk_lsh already pins.
    Q("q_tfidf_cosine",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tf = sharedTf(s, dir)
        val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        // widened out of the size-coalesced sharedTf layout before
        // persisting (Par.sizedWiden; identity at scale): the dots
        // fan-out below streams THIS relation against the broadcast probe
        // batch, so its cached partitioning is the fan-out's parallelism;
        // doc_id keying keeps scan partitions doc-contiguous for the
        // (probe, match) map-side combine
        val w = graft.Par.sizedWiden(s,
            graft.Par.tableBytes(s, dir, "documents"))(col("doc_id"))(
          tf.join(dft, Seq("term")).crossJoin(broadcast(n))
            .withColumn("w",
              (col("tf") * col("n_docs")).cast(DoubleType) / col("df"))
            .select(col("doc_id"), col("term"), col("w")))
          .persist() // feeds norms AND both dot sides; unpersisted below
        val norms = w.groupBy(col("doc_id"))
          .agg(sum((col("w") * col("w")).cast(DecimalType(38, 6)))
            .cast(DoubleType).as("nrm2"))
        val probes = w.filter(col("doc_id") % 100 === 0)
        // BROADCAST the probe rows (a probe batch is small by definition —
        // ~n_docs/100 x vocab entries): the corpus-side w then never
        // shuffles by term, and the (probe, match) aggregate's map-side
        // combine sees doc-contiguous scan partitions, so the exchange
        // carries ~|probes| x |docs-per-partition| partial sums instead of
        // the Σ df·df_probe candidate explosion (4.5M rows at sf0.1).
        val dots = broadcast(probes).as("a").join(w.as("b"),
            col("a.term") === col("b.term") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("probe_id"), col("b.doc_id").as("match_id"))
          .agg(sum((col("a.w") * col("b.w")).cast(DecimalType(38, 6)))
            .cast(DoubleType).as("dot"))
        val out = dots
          .join(norms.select(col("doc_id").as("probe_id"), col("nrm2").as("na2")), Seq("probe_id"))
          .join(norms.select(col("doc_id").as("match_id"), col("nrm2").as("nb2")), Seq("match_id"))
          .withColumn("cosine",
            col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))))
          .filter(col("cosine") >= 0.8)
          .select(col("probe_id"), col("match_id"), col("cosine"))
          .orderBy(col("probe_id"), col("match_id"))
          .localCheckpoint()
        w.unpersist()
        out
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
              dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n_docs FROM documents),
              w AS (SELECT doc_id, term,
                           CAST(tf * (SELECT n_docs FROM n) AS DOUBLE) / df AS w
                    FROM tf JOIN dfr USING (term)),
              norms AS (SELECT doc_id,
                               CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE) AS nrm2
                        FROM w GROUP BY 1),
              dots AS (SELECT a.doc_id AS probe_id, b.doc_id AS match_id,
                              CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,6))) AS DOUBLE) AS dot
                       FROM w a JOIN w b
                         ON a.term = b.term AND a.doc_id % 100 = 0
                        AND a.doc_id <> b.doc_id
                       GROUP BY 1, 2)
              SELECT probe_id, match_id,
                     dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)) AS cosine
              FROM dots JOIN norms na ON na.doc_id = probe_id
                        JOIN norms nb ON nb.doc_id = match_id
              WHERE dot / (sqrt(na.nrm2) * sqrt(nb.nrm2)) >= 0.8
              ORDER BY probe_id, match_id""")),

    // Chunk-granularity BM25 passage retrieval — the RAG retrieval shape
    // (chunk -> index -> query -> top passages) as one declared query:
    // documents chunk into the q_chunk_windows geometry (32-word windows,
    // stride 16, codegen WordWindows), BM25 runs over CHUNKS (document
    // length/df statistics at passage granularity — what a passage store
    // actually indexes), and the top-10 passages return as (doc, chunk)
    // coordinates. Same determinism conventions as q_bm25 (fixed query
    // terms, one IEEE tree per term, fixed-order coalesced sum); same
    // plan shape (df/stats broadcast, corpus-sized shuffles are the
    // chunk-tf and chunk-dl aggregations only, TakeOrderedAndProject
    // tail). The chunk tf relation persists for its four consumers and
    // unpersists after the checkpoint (the tfidf_cosine pattern). At
    // 100 TB chunking multiplies rows ~2x at stride k/2 — the passage
    // index is the thing a production retrieval lake stores
    // (TextIndexStore's layout applies unchanged at chunk granularity).
    Q("q_passage_search",
      (s, dir) => {
        val (out, tf) = passageSearchPipeline(s, dir)
        val res = out.localCheckpoint()
        tf.unpersist()
        res
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                   x AS (SELECT doc_id, ws, len(ws) AS n FROM w),
                   chunks AS (SELECT doc_id, j AS cidx,
                                     array_to_string(ws[j*16+1 : j*16+32], ' ') AS ctext
                              FROM x, LATERAL (SELECT unnest(range(0,
                                CASE WHEN n <= 32 THEN 1
                                     ELSE CAST(ceil((n - 32) / 16.0) AS BIGINT) + 1 END)) AS j)),
                   toks AS (SELECT doc_id, cidx, unnest(string_split(ctext, ' ')) AS term
                            FROM chunks),
                   tf AS (SELECT doc_id, cidx, term, count(*) AS tf
                          FROM toks WHERE term <> '' GROUP BY 1, 2, 3),
                   dl AS (SELECT doc_id, cidx, SUM(tf) AS dl FROM tf GROUP BY 1, 2),
                   stats AS (SELECT COUNT(*) AS n_chunks,
                                    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
                   dfq AS (SELECT term, count(*) AS df FROM tf
                           WHERE term IN ('sort', 'stream', 'data') GROUP BY 1),
                   scored AS (SELECT tf.doc_id, tf.cidx, tf.term,
                                     tf.tf * 2.2::DOUBLE / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * (dl.dl / stats.avgdl)))
                                       * ((stats.n_chunks - dfq.df + 0.5::DOUBLE) / (dfq.df + 0.5::DOUBLE)) AS score
                              FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id, cidx), stats)
              SELECT doc_id, cidx,
                     COALESCE(MAX(CASE WHEN term = 'sort' THEN score END), 0.0::DOUBLE)
                       + COALESCE(MAX(CASE WHEN term = 'stream' THEN score END), 0.0::DOUBLE)
                       + COALESCE(MAX(CASE WHEN term = 'data' THEN score END), 0.0::DOUBLE) AS bm25
              FROM scored GROUP BY 1, 2
              ORDER BY bm25 DESC, doc_id, cidx LIMIT 10""")),

    // TRAINABLE quality classifier — multinomial Naive Bayes with add-one
    // smoothing, the CCNet/fastText-style "curated vs web" filter trained
    // IN-ENGINE by distant supervision (positive class = the curated
    // sources src0-src4, negative = the rest; reference ingests per-source
    // feeds — fineventstream README.md:12 — so source labels are free).
    // Training is ONE exploded-token aggregation: the label is a pure
    // function of the same row's `source` column, so no doc-level join
    // ever happens — the shuffle carries O(vocab x partitions) partial
    // (cnt_pos, cnt_neg) pairs with map-side combine, never the token
    // stream. The model is one row per vocabulary term (broadcastable by
    // construction), and the per-term log-likelihood ratio follows the
    // suite's ln-portability convention: each llr is a fixed tree of two
    // IEEE divisions and two libm lns over exact integers, quantized to
    // DECIMAL(24,9) at the boundary so downstream sums are exact.
    Q("q_nb_train",
      (s, dir) => nbModel(s, dir)
        // the gate hashes DOUBLE, not DECIMAL: the cast is exact
        .withColumn("llr", col("llr").cast(DoubleType))
        .orderBy(col("term")),
      Some(s"""$nbModelSql
              SELECT term, CAST(cnt_pos AS BIGINT) AS cnt_pos,
                     CAST(cnt_neg AS BIGINT) AS cnt_neg,
                     CAST(llr AS DOUBLE) AS llr
              FROM model ORDER BY term""")),

    // Scoring pass of the trained NB filter: per-document log-odds of
    // "curated" = ln prior odds + Σ_term tf * llr(term). Reuses the
    // session-shared tf relation (one tokenize pass per corpus, same as
    // q_bm25/q_tfidf) joined against the BROADCAST model — the corpus
    // side never shuffles by term, and the per-doc aggregate's map-side
    // combine means the exchange carries one partial row per document.
    // All sums are exact decimals (tf x DECIMAL(24,9) llr), so partial-agg
    // order cannot move a bit; the one double appears at the output cast.
    // At 100 TB: model = vocab rows (broadcast), scoring = one corpus
    // pass + one thin doc-level exchange — the same plan a production
    // CCNet filter runs.
    Q("q_nb_score",
      (s, dir) => nbScored(s, dir).orderBy(col("doc_id")),
      Some(s"""$nbModelSql,
              priors AS (
                SELECT SUM(CASE WHEN CAST(substring(source, 4) AS INT) < 5
                                THEN 1 ELSE 0 END) AS n_pos,
                       SUM(CASE WHEN CAST(substring(source, 4) AS INT) < 5
                                THEN 0 ELSE 1 END) AS n_neg
                FROM documents),
              scores AS (
                SELECT doc_id, COUNT(*) AS n_terms,
                       SUM(CAST(tf AS DECIMAL(10,0)) * llr) AS sum_llr
                FROM tf JOIN model USING (term) GROUP BY doc_id)
              SELECT s.doc_id, s.n_terms,
                     CAST(CAST(ln(CAST(n_pos AS DOUBLE) / n_neg) AS DECIMAL(24,9))
                          + sum_llr AS DOUBLE) AS score,
                     CAST(ln(CAST(n_pos AS DOUBLE) / n_neg) AS DECIMAL(24,9))
                          + sum_llr > 0 AS pred_curated,
                     CAST(substring(d.source, 4) AS INT) < 5 AS curated
              FROM scores s, priors, documents d
              WHERE d.doc_id = s.doc_id
              ORDER BY s.doc_id""")),

    // Threshold sweep of the trained NB filter — the calibration artifact
    // that picks the production cutoff: for each candidate threshold t,
    // the confusion counts against the distant-supervision label plus
    // recall and F1. Metric forms are chosen to be DIVISION-SAFE (no
    // NULL/0-division edge to mirror): recall = tp/n_pos (n_pos > 0 by
    // construction) and F1 in its 2·TP/(pred_pos + n_pos) form. The
    // 7-point grid explodes BEFORE the aggregate, so the exchange carries
    // 7 partial rows per partition, and the final output is 7 rows — the
    // whole sweep is one corpus-scoring pass regardless of grid size.
    Q("q_nb_eval",
      (s, dir) => {
        val sc = nbScored(s, dir)
          .select(col("score"), col("curated"),
            explode(expr("sequence(-6, 0)")).as("k"))
          .withColumn("t", col("k") * 0.5)
        sc.groupBy(col("t"))
          .agg(
            sum(when(col("score") > col("t"), 1L).otherwise(0L))
              .as("n_pred_pos"),
            sum(when(col("score") > col("t") && col("curated"), 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("curated"), 1L).otherwise(0L)).as("n_pos"))
          .withColumn("recall",
            col("tp").cast(DoubleType) / col("n_pos"))
          .withColumn("f1",
            (col("tp") * 2).cast(DoubleType) /
              (col("n_pred_pos") + col("n_pos")))
          .orderBy(col("t"))
      },
      Some(s"""$nbModelSql,
              priors AS (
                SELECT SUM(CASE WHEN CAST(substring(source, 4) AS INT) < 5
                                THEN 1 ELSE 0 END) AS n_pos,
                       SUM(CASE WHEN CAST(substring(source, 4) AS INT) < 5
                                THEN 0 ELSE 1 END) AS n_neg
                FROM documents),
              scores AS (
                SELECT doc_id,
                       SUM(CAST(tf AS DECIMAL(10,0)) * llr) AS sum_llr
                FROM tf JOIN model USING (term) GROUP BY doc_id),
              scored AS (
                SELECT s.doc_id,
                       CAST(CAST(ln(CAST(n_pos AS DOUBLE) / n_neg)
                              AS DECIMAL(24,9)) + sum_llr AS DOUBLE) AS score,
                       CAST(substring(d.source, 4) AS INT) < 5 AS curated
                FROM scores s, priors, documents d
                WHERE d.doc_id = s.doc_id),
              grid AS (SELECT k * CAST(0.5 AS DOUBLE) AS t
                       FROM (SELECT unnest(range(-6, 1)) AS k))
              SELECT t,
                     CAST(SUM(CASE WHEN score > t THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_pred_pos,
                     CAST(SUM(CASE WHEN score > t AND curated THEN 1 ELSE 0 END)
                          AS BIGINT) AS tp,
                     CAST(SUM(CASE WHEN curated THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_pos,
                     CAST(SUM(CASE WHEN score > t AND curated THEN 1 ELSE 0 END)
                          AS DOUBLE)
                       / SUM(CASE WHEN curated THEN 1 ELSE 0 END) AS recall,
                     CAST(2 * SUM(CASE WHEN score > t AND curated THEN 1 ELSE 0 END)
                          AS DOUBLE)
                       / (SUM(CASE WHEN score > t THEN 1 ELSE 0 END)
                          + SUM(CASE WHEN curated THEN 1 ELSE 0 END)) AS f1
              FROM scored, grid GROUP BY t ORDER BY t"""))
  )

  /** The trained NB model as a shippable fixed-point artifact: per-term
    * llr in NANOS (the DECIMAL(24,9) lattice as a long — exact), plus the
    * prior in nanos and the decision threshold context. This is the form
    * a streaming scorer broadcasts to executors (the fastText deployment
    * shape: model in memory, scoring a pure per-row map) — see
    * streaming.StreamingNbFilter, whose spec pins streaming scores
    * bit-equal to q_nb_score's.
    */
  def nbModelNanos(s: SparkSession, dir: String,
      maxVocab: Int = 1 << 20): (Map[String, Long], Long) = {
    // same driver-safety bound as the BPE trainer's histogram
    // (TextOps.bpeWordHistogram): the term vocabulary is unbounded on
    // web text, so cap the collect at the top `maxVocab` terms by
    // corpus frequency (deterministic tie-break on term) INSIDE the
    // plan — a TakeOrderedAndProject, so only kept rows reach the
    // driver. The default is far above the gate fixture's vocabulary,
    // so the capped path is bit-identical there (StreamingNbFilterSpec
    // still pins streamed scores == q_nb_score's).
    val m = nbModel(s, dir)
      .orderBy((col("cnt_pos") + col("cnt_neg")).desc, col("term"))
      .limit(maxVocab)
      .select(col("term"),
        (col("llr") * lit(1000000000L)).cast(LongType).as("nanos"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = t(s, dir, "documents")
    val pr = docs.agg(
      sum(when(nbIsCurated, 1L).otherwise(0L)).as("n_pos"),
      sum(when(nbIsCurated, 0L).otherwise(1L)).as("n_neg"))
      .select((log(col("n_pos").cast(DoubleType) / col("n_neg"))
        .cast(DecimalType(24, 9)) * lit(1000000000L)).cast(LongType))
      .collect()(0).getLong(0)
    (m, pr)
  }

  /** Scored corpus under the trained NB model: (doc_id, n_terms, score,
    * pred_curated, curated). See q_nb_score for the plan notes.
    */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = nbModel(s, dir).select(col("term"), col("llr"))
    val priors = docs.agg(
      sum(when(nbIsCurated, 1L).otherwise(0L)).as("n_pos"),
      sum(when(nbIsCurated, 0L).otherwise(1L)).as("n_neg"))
    val tf = sharedTf(s, dir)
    val scores = tf.join(broadcast(model), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf").cast(DecimalType(10, 0)) * col("llr")).as("sum_llr"))
    scores.crossJoin(broadcast(priors))
      .withColumn("prior",
        log(col("n_pos").cast(DoubleType) / col("n_neg"))
          .cast(DecimalType(24, 9)))
      .join(docs.select(col("doc_id"), nbIsCurated.as("curated")),
        Seq("doc_id"))
      // bound the exact sum's precision BEFORE adding the prior: a
      // DECIMAL(38,9) + DECIMAL(24,9) addition overflows Spark's
      // 38-digit cap and silently demotes to scale 8, rounding the 9th
      // decimal away from the oracle (observed as a 1e-9 score diff)
      .withColumn("sum9", col("sum_llr").cast(DecimalType(28, 9)))
      .select(col("doc_id"), col("n_terms"),
        (col("prior") + col("sum9")).cast(DoubleType).as("score"),
        ((col("prior") + col("sum9")) > 0).as("pred_curated"),
        col("curated"))
  }

  /** The passage-retrieval pipeline PRE-checkpoint — factored out of
    * q_passage_search (the pagerankRanks convention) so PlanShapeSpec can
    * pin the broadcast/TakeOrdered shape that the Q's localCheckpoint
    * would otherwise hide behind an RDD scan. Returns (result, the
    * persisted chunk-tf relation the caller must unpersist after
    * materializing).
    */
  private[graft] def passageSearchPipeline(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val chunks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.wordWindows(col("text"), 32, 16)))
      .toDF("doc_id", "cidx", "ctext")
      .withColumn("cidx", col("cidx").cast(LongType))
    val tf = chunks.select(col("doc_id"), col("cidx"),
        explode(split(col("ctext"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("cidx"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val qterms = Seq("sort", "stream", "data")
    val keys = Seq("doc_id", "cidx")
    val out = TextIndexStore.topBm25(bm25Scored(tf, qterms, keys), qterms, 10, keys)
    (out, tf)
  }

  /** Label rule for the NB distant supervision: sources src0-src4 are the
    * "curated" positive class. A pure function of the row (no join).
    * private[graft]: the streaming trainer labels identically.
    */
  private[graft] def nbIsCurated =
    expr("cast(substring(source, 4, 10) as int)") < 5

  /** Per-class token counts of a (text, source) corpus slice — the
    * ADDITIVE half of NB training (counts sum across any partition of
    * the corpus, which is what makes the streaming trainer's per-batch
    * layers fold to the batch model exactly).
    */
  private[graft] def nbClassCounts(docs: DataFrame): DataFrame =
    docs.select(nbIsCurated.as("pos"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("cnt_pos"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("cnt_neg"))

  /** The NB model from class counts: add-one smoothing over the joint
    * vocabulary, llr quantized DECIMAL(24,9) (see q_nb_train note). The
    * ONE formula both the batch trainer and the streaming trainer's
    * merge-on-read consume — "same llr" is by construction.
    */
  private[graft] def nbLlr(cls: DataFrame): DataFrame = {
    val tot = cls.agg(sum(col("cnt_pos")).as("tp"),
      sum(col("cnt_neg")).as("tn"), count(lit(1)).as("v"))
    cls.crossJoin(broadcast(tot))
      .withColumn("llr",
        (log((col("cnt_pos") + 1).cast(DoubleType) / (col("tp") + col("v"))) -
          log((col("cnt_neg") + 1).cast(DoubleType) / (col("tn") + col("v"))))
          .cast(DecimalType(24, 9)))
      .select(col("term"), col("cnt_pos"), col("cnt_neg"), col("llr"))
  }

  /** Multinomial-NB model: (term, cnt_pos, cnt_neg, llr). One exploded-
    * token aggregation + one tiny total/vocab aggregate broadcast back.
    */
  private def nbModel(s: SparkSession, dir: String): DataFrame =
    nbLlr(nbClassCounts(t(s, dir, "documents")))

  /** Shared oracle CTE prefix: tokenize, tf, class counts, totals, model.
    * Mirrors nbModel / sharedTf exactly (string_split on ' ', empty terms
    * dropped, add-one smoothing, DECIMAL(24,9) llr).
    */
  private def nbModelSql: String =
    """WITH tok AS (
                SELECT doc_id, CAST(substring(source, 4) AS INT) < 5 AS pos,
                       unnest(string_split(text, ' ')) AS term
                FROM documents),
              tokf AS (SELECT * FROM tok WHERE term <> ''),
              tf AS (SELECT doc_id, term, count(*) AS tf
                     FROM tokf GROUP BY 1, 2),
              cls AS (SELECT term,
                             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cnt_pos,
                             SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cnt_neg
                      FROM tokf GROUP BY term),
              tot AS (SELECT SUM(cnt_pos) AS tp, SUM(cnt_neg) AS tn,
                             COUNT(*) AS v
                      FROM cls),
              model AS (SELECT term, cnt_pos, cnt_neg,
                               CAST(ln(CAST(cnt_pos + 1 AS DOUBLE) / (tp + v))
                                    - ln(CAST(cnt_neg + 1 AS DOUBLE) / (tn + v))
                                    AS DECIMAL(24,9)) AS llr
                        FROM cls, tot)"""
}
