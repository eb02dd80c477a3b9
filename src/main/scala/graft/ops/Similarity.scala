package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.VectorFunctions
import graft.sources.VectorIndexStore

/** Similarity search over the `embeddings` table (ArrayType(FloatType),
  * 64-dim): exact cosine near-dup pairs and brute-force top-k as the
  * oracled baselines, plus a random-hyperplane LSH variant as the scale
  * path (spec'd against the brute force).
  *
  * All arithmetic is promoted to double INSIDE the lambda and folded in
  * index order, matching the oracle's list_reduce exactly — bitwise-equal
  * cosines on both engines.
  */
object Similarity {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** vec_id, embedding, norm (double). Norm computed once per vector, not
    * per pair. Uses the codegen'd FloatDotProduct expression — identical
    * index-ordered double fold as the DuckDB oracle. */
  def withNorm(s: SparkSession, emb: DataFrame): DataFrame =
    emb.withColumn("norm",
      sqrt(VectorFunctions.floatDot(s, col("embedding"), col("embedding"))))

  /** Exact all-pairs cosine >= minCos. O(n^2) — the correctness baseline;
    * at scale lshTopK below bounds the candidate set instead.
    */
  def cosinePairs(s: SparkSession, emb: DataFrame, minCos: Double): DataFrame = {
    val e = withNorm(s, emb)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("norm").as("b_norm"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .filter(col("cosine") >= minCos)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest other vectors. The query side is tiny and broadcast, so
    * the corpus streams through once — no shuffle of the corpus; only the
    * (nQueries x corpus) scored rows hit the top-k window.
    */
  def bruteForceTopK(s: SparkSession, emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = withNorm(s, emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("b_emb"), col("norm").as("b_norm"))
    VectorIndexStore.topK(broadcast(q).crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", VectorFunctions.cosine(s)), k)
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram decontaminate family (q_decontaminate / q_pack_decontaminate):
    * paraphrased eval leakage that shares no token window still lands
    * near the eval point in embedding space. Flags every train vector
    * whose cosine to ANY eval vector (vec_id % 97 == 0, the family's
    * split convention) reaches `minCos`, reporting the best-matching
    * eval vector (argmax, ties to the lower eval id). Scale shape: the
    * eval set is tiny by construction and BROADCASTS (the bruteForceTopK
    * shape) — the corpus streams through once, nothing shuffles before
    * the flag filter; for a fat eval set the bucketed paths (semDedup
    * cells, lshTopK tables, the stored IVF index — wired as
    * [[sources.VectorIndexStore.semanticDecontaminate]] /
    * `q_decontaminate_semantic_ivf`) bound candidates the same way they
    * do for dedup.
    *
    * The argmax is an AGGREGATE (`max(struct(cosine, -eval_id))` — ties
    * to the lower eval id), never a window over the corpus×eval
    * expansion: partial aggregation reduces map-side, so the shuffle
    * carries at most one row per corpus vector per partition instead of
    * the full n_corpus × n_eval expanded relation (at 10⁹ corpus × 10³
    * eval vectors, 10⁹ shuffled rows instead of 10¹²; pinned by
    * EngineMetricsSpec). Zero-norm embeddings are excluded on BOTH legs:
    * cosine against a zero vector is x/0 = NaN/Inf, which would
    * otherwise sort above every real match.
    */
  def semanticDecontaminate(s: SparkSession, emb: DataFrame,
      minCos: Double = 0.3): DataFrame = {
    val e = withNorm(s, emb.filter(col("embedding").isNotNull))
      .filter(col("norm") > 0)
    val ev = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"))
    val tr = e.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"))
    VectorIndexStore.bestEval(
      tr.crossJoin(broadcast(ev)).withColumn("cosine", VectorFunctions.cosine(s)), minCos)
  }

  /** SEMANTIC-DECONTAMINATION PROBE-DEPTH SWEEP — the calibration member
    * for the fat-eval-set path (the q_ivf_recall discipline pointed at
    * decontamination): per IVF probe depth, how many of the true leak
    * flags the cell-routed pass recovers, and the candidate volume that
    * depth pays — the recall×price table a team reads before fixing
    * `nprobe` for an eval-suite decontamination run, where a missed
    * flag is leaked eval data (so the acceptable recall floor is much
    * higher than for search). ONE shared pass: centroids, train-side
    * cell assignments and eval probes are computed once at the WIDEST
    * depth; each candidate pair records `first_probe` (each train
    * vector lives in exactly one cell, so a pair appears at most once)
    * and every narrower depth is a filter over the same scored
    * relation. At nprobe = nlist the sweep's own widest row IS the
    * truth (coverage provably complete), so recall@max = 1 by
    * construction — deterministic end-to-end, fully SQL-oracled.
    */
  def semanticDecontaminateSweep(s: SparkSession, embRaw: DataFrame,
      minCos: Double = 0.3, nlist: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    val maxP = probes.max
    val emb = embRaw.filter(col("embedding").isNotNull)
    val centroids = refinedCentroids(s, emb, nlist)
    val e = withNorm(s, emb).filter(col("norm") > 0)
    val tr = nearestCells(s, e.filter(col("vec_id") % 97 =!= 0), centroids, 1)
      .select(col("vec_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"), col("cells")(0).as("cell"))
    val ev = nearestCells(s, e.filter(col("vec_id") % 97 === 0), centroids, maxP)
      .select(col("vec_id").as("eval_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"), posexplode(col("cells")).as(Seq("pos", "cell")))
    // un-hinted on the cell key (the VectorIndexStore.semanticDecontaminate
    // seam): AQE broadcasts a small eval suite at runtime and keeps a fat
    // one (eval × maxP exploded embedding rows) shuffle-side — a forced
    // broadcast here contradicted the fat-eval regime this sweep calibrates
    val cand = ev.join(tr, Seq("cell"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .select(col("vec_id"), col("eval_id"),
        (col("pos") + 1).as("first_probe"), col("cosine"))
      .persist() // every probe depth filters this one scored relation
    cand.count()
    val truth = cand.groupBy(col("vec_id"))
      .agg(max(col("cosine")).as("mc")).filter(col("mc") >= minCos)
      .agg(count(lit(1)).as("n_true"))
    val rows = probes.map { p =>
      val flags = cand.filter(col("first_probe") <= p)
        .groupBy(col("vec_id")).agg(max(col("cosine")).as("mc"))
        .filter(col("mc") >= minCos)
        .agg(count(lit(1)).as("n_flagged"))
      flags.crossJoin(cand.filter(col("first_probe") <= p)
          .agg(count(lit(1)).as("n_cand")))
        .select(lit(p).as("nprobe"), col("n_flagged"), col("n_cand"))
    }
    val out = rows.reduce(_ unionAll _).crossJoin(truth)
      .select(col("nprobe"), col("n_flagged"), col("n_true"),
        // zero-guard: no pair reaching minCos means recall is undefined —
        // NULL on both engines (Spark would emit NaN/Infinity, DuckDB
        // errors int division by zero; the oracle mirrors with NULLIF)
        when(col("n_true") === 0, lit(null).cast(DoubleType))
          .otherwise(col("n_flagged").cast(DoubleType) / col("n_true"))
          .as("recall"),
        col("n_cand"))
      .orderBy(col("nprobe")).localCheckpoint()
    cand.unpersist()
    out
  }

  // DuckDB mirror of the decontamination probe sweep: shared kmeans CTEs,
  // eval probes at the widest depth with rank kept, one scored candidate
  // relation, per-depth flag counts as filters over it (the q_ivf_recall
  // sharing discipline).
  private def sqlSemanticDeconSweep(minCos: Double, nlist: Int,
      probes: Seq[Int]): String = {
    def dc(a: String, c: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $c.c[i]::DOUBLE)), (acc, x) -> acc + x)"
    val maxP = probes.max
    val perP = probes.map { p =>
      s"""f$p AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
                SELECT vec_id FROM sc WHERE first_probe <= $p
                GROUP BY vec_id HAVING MAX(cosine) >= $minCos)),
          r$p AS (SELECT CAST($p AS INT) AS nprobe,
                   (SELECT n FROM f$p) AS n_flagged,
                   CAST((SELECT count(*) FROM sc WHERE first_probe <= $p) AS BIGINT) AS n_cand)"""
    }.mkString(",\n")
    val unions = probes.map(p => s"SELECT * FROM r$p").mkString(" UNION ALL ")
    // recall division NULLIF-guarded to mirror the Spark-side zero guard
    s"""WITH ${sqlKmeansCtes(nlist)},
           probe AS (SELECT vec_id AS eval_id, cell, rn FROM (
                       SELECT a.vec_id, c.cell,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${dc("a", "c")} DESC, c.cell DESC) AS rn
                       FROM e a CROSS JOIN cent c
                       WHERE a.vec_id % 97 = 0 AND ${sqlNorm("a")} > 0)
                     WHERE rn <= $maxP),
           sc AS (SELECT s.vec_id, p.eval_id, p.rn AS first_probe,
                         ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine
                  FROM probe p JOIN asg s ON s.cell = p.cell
                  JOIN embeddings a ON a.vec_id = p.eval_id
                  JOIN embeddings b ON b.vec_id = s.vec_id
                  WHERE s.vec_id % 97 <> 0 AND ${sqlNorm("b")} > 0),
           truth AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM (
                       SELECT vec_id FROM sc
                       GROUP BY vec_id HAVING MAX(cosine) >= $minCos)),
           $perP
         SELECT nprobe, n_flagged, (SELECT n_true FROM truth) AS n_true,
                CAST(n_flagged AS DOUBLE)
                  / NULLIF((SELECT n_true FROM truth), 0) AS recall,
                n_cand
         FROM ($unions) ORDER BY nprobe"""
  }

  /** Random-hyperplane LSH top-k — the 100 TB path. Rows with a null
    * embedding produce a null code and are EXCLUDED from candidates (a
    * vector that doesn't exist can't be a neighbor). `tables` independent
    * sign codes of `planesPerTable` hyperplanes per vector (planes derived
    * from xxhash64, so fully deterministic and shippable to every executor
    * as an expression); candidates = corpus vectors sharing any table's
    * bucket with the query, then exact cosine re-rank. Probed buckets bound
    * the join fan-out the way IVF probe-lists do. Defaults (16x4) are tuned
    * for this corpus's weak correlations (max cosine ~0.5 — recall 0.8+
    * needs many short codes); clustered real-world embeddings discriminate
    * far better per plane.
    */
  def lshTopK(s: SparkSession, emb: DataFrame, nQueries: Int, k: Int, tables: Int = 16,
      planesPerTable: Int = 4): DataFrame = {
    val nPlanes = tables * planesPerTable
    // Deterministic plane vectors (seeded) baked into ONE fused
    // MultiPlaneCode expression — a single pass over the embedding
    // computes all sign bits and packs the per-table codes (the previous
    // shape, 64 separate FloatDotProduct evaluations per row, re-read the
    // ArrayData 64x).
    val rnd = new scala.util.Random(42)
    val planes: Seq[Seq[Float]] =
      Seq.fill(nPlanes)(Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    // planesPerTable == 0 is the EXACT REGIME: zero hyperplanes means a
    // zero-bit signature, so every (non-null) vector lands in the one
    // universal bucket and banding is provably lossless — candidate
    // recall is 1.0 BY CONSTRUCTION, for any data, and the pipeline's
    // output equals the brute-force oracle while still exercising the
    // full LSH plumbing (code column, bucket explode, bucket join,
    // candidate dedup, exact re-rank). The q_hll_union convention:
    // oracle the exact regime, spec-pin the raw production parameters.
    val codes = (if (planesPerTable == 0)
        emb.withColumn("code",
          when(col("embedding").isNotNull, array(lit(0))))
      else
        emb.withColumn("code",
          VectorFunctions.multiPlaneCode(col("embedding"), planes, planesPerTable)))
      .select(col("vec_id"), col("embedding"), col("code"))
    val e = withNorm(s, codes)
    val buckets = e.select(col("vec_id"), col("embedding"), col("norm"),
        posexplode(col("code")).as(Seq("tbl", "bkt")))
    val q = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"), col("tbl"), col("bkt"))
    val c = buckets
      .select(col("vec_id").as("n_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"), col("tbl"), col("bkt"))
    val cand = broadcast(q).join(c, Seq("tbl", "bkt"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "a_emb", "a_norm", "n_id", "b_emb", "b_norm")
      .dropDuplicates("q_id", "n_id")
    VectorIndexStore.topK(cand.withColumn("cosine", VectorFunctions.cosine(s)), k)
  }

  /** Embedding near-dup pairs via LSH buckets — the scale path for
    * cosine dedup: only vectors sharing a bucket in some table are
    * compared, then exact-verified, so precision is 1 and the quadratic
    * compare is confined to bucket-local candidates. Null embeddings are
    * excluded (null code -> no buckets), same as lshTopK.
    */
  def embedNearDupLsh(s: SparkSession, emb: DataFrame, minCos: Double,
      tables: Int = 16, planesPerTable: Int = 4): DataFrame = {
    val rnd = new scala.util.Random(42)
    val planes: Seq[Seq[Float]] =
      Seq.fill(tables * planesPerTable)(Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))
    // Candidate generation carries ONLY ids — embeddings re-attach after
    // dedup, so the bucket self-join shuffles 16-byte rows, not vectors
    // (carrying the arrays through was ~900 MB of shuffle at sf0.1, 9 s;
    // this shape is ~1 s). All bucket codes come from one fused
    // MultiPlaneCode pass over the vector. planesPerTable == 0 is the
    // EXACT REGIME (one universal bucket, banding provably lossless —
    // same convention as lshTopK): candidates = all pairs, output = the
    // exact near-dup set, and the pipeline is oracle-able.
    val buckets = (if (planesPerTable == 0)
        emb.withColumn("code", when(col("embedding").isNotNull, array(lit(0))))
      else
        emb.withColumn("code",
          VectorFunctions.multiPlaneCode(col("embedding"), planes, planesPerTable)))
      .select(col("vec_id"), posexplode(col("code")).as(Seq("tbl", "bkt")))
    val cand = buckets.select(col("vec_id").as("a_id"), col("tbl"), col("bkt"))
      .join(buckets.select(col("vec_id").as("b_id"), col("tbl"), col("bkt")),
        Seq("tbl", "bkt"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val e = withNorm(s, emb)
    cand
      .join(broadcast(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"))), Seq("a_id"))
      .join(broadcast(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"))), Seq("b_id"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .filter(col("cosine") >= minCos)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** IVF (inverted-file) top-k — the second scale path the brief names.
    * One k-means-style refinement builds `nlist` centroids (seeded from the
    * first `nlist` vectors — deterministic); every corpus vector is
    * assigned to its nearest centroid (the inverted lists); each query
    * probes its `nprobe` closest cells and exact-reranks only those lists.
    * Centroids are collect()ed — bounded at nlist x dim, the one
    * driver-side structure an IVF index legitimately keeps — and shipped
    * back as literal arrays through the codegen'd dot product.
    */
  /** Top-n nearest centroids per row by dot score (ties -> larger cell id,
    * mirrored by every oracle's ORDER BY score DESC, cell DESC). One fused
    * codegen pass — all centroid dots plus the top-n selection — against a
    * flat float[] reference object (functions/VectorFunctions.NearestCells);
    * no join, no per-row struct sort, no interpreted HOF.
    */
  private def nearestCells(s: SparkSession, df: DataFrame,
      cents: Seq[(Int, Seq[Float])], n: Int): DataFrame =
    df.withColumn("cells", VectorFunctions.nearestCells(col("embedding"), cents, n))

  /** Deterministic k-means: seed centroids = the first `k` vectors by id,
    * one Lloyd refinement with decimal-exact per-dimension means (a plain
    * avg(float) varies in the last bits with partial-agg order, which can
    * flip assignments near cell boundaries). Returns the refined
    * centroids — collect()ed, bounded at k x dim, the one driver-side
    * structure a clustering index legitimately keeps.
    */
  /** Session memo for [[refinedCentroids]]: ~10 query paths each
    * re-derived the same k-list over the same embedding pool (two
    * collects + one distributed per-dim mean pass per call, ~0.3 s at
    * sf0.1). The result is a deterministic, kilobyte-scale driver value,
    * so it memoizes per session in a [[graft.SessionMemo]]: keyed on k +
    * the canonicalized ANALYZED PLAN (what sameResult compares — a
    * filtered or otherwise different pool never collides) and guarded by
    * the (path, len, mtime) fingerprint of every input file (a regenerated
    * corpus evicts, never serves stale centroids). Non-file relations
    * (checkpoints, test frames) skip the memo entirely. First consumer
    * pays the build inside its own timed region.
    */
  private[graft] val centroidMemo = new graft.SessionMemo[
    (Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    Seq[(Int, Seq[Float])]]()

  private def inputFingerprint(s: SparkSession, df: DataFrame)
      : Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty) return None
    Some(files.sorted.map(f => s"$f:${Tables.fingerprint(s, f)}").mkString(";"))
  }

  def refinedCentroids(s: SparkSession, emb: DataFrame, k: Int)
      : Seq[(Int, Seq[Float])] =
    centroidMemo(s, (k, emb.queryExecution.analyzed.canonicalized),
      inputFingerprint(s, emb))(buildCentroids(s, emb, k))

  private def buildCentroids(s: SparkSession, emb: DataFrame, k: Int)
      : Seq[(Int, Seq[Float])] = {
    val seed = emb.filter(col("vec_id") < k).select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toIndexedSeq))
    val assigned0 = nearestCells(s, emb, seed.toIndexedSeq, 1)
      .withColumn("cell", col("cells")(0)).drop("cells")
    assigned0
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      // decimal-exact mean (float widened to double, rounded to 7
      // decimals in decimal, then summed exactly): independent of
      // partial-aggregation order
      .agg((sum(col("v").cast(DoubleType).cast(DecimalType(18, 7)))
        .cast(DoubleType) / count(lit(1))).as("m"))
      .groupBy(col("cell")).agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .withColumn("centroid", expr("transform(ps, x -> CAST(x.m AS FLOAT))"))
      .select(col("cell"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toIndexedSeq)).toIndexedSeq
  }

  /** (vec_id, cell): every vector's refined-centroid assignment — the
    * clustering stage SemDeDup and IVF share. Null embeddings excluded.
    */
  def kmeansAssign(s: SparkSession, embRaw: DataFrame, k: Int): DataFrame = {
    val emb = embRaw.filter(col("embedding").isNotNull)
    val cents = refinedCentroids(s, emb, k)
    nearestCells(s, emb, cents, 1)
      .select(col("vec_id"), col("cells")(0).cast(LongType).as("cell"))
  }

  def ivfTopK(s: SparkSession, embRaw: DataFrame, nQueries: Int, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    // same null-embedding contract as the LSH paths: a vector that
    // doesn't exist is neither a seed, a corpus candidate, nor a query
    val emb = embRaw.filter(col("embedding").isNotNull)
    val centroids = refinedCentroids(s, emb, nlist)
    val e = withNorm(s, emb)
    val corpus = nearestCells(s, e, centroids, 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"), col("cells")(0).as("cell"))
    val queries = nearestCells(s, e.filter(col("vec_id") < nQueries), centroids, nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"), explode(col("cells")).as("cell"))
    VectorIndexStore.topK(broadcast(queries).join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", VectorFunctions.cosine(s)), k)
  }

  /** IVF CALIBRATION SWEEP (the vector sibling of q_lsh_geometry): per
    * probe depth, recall@k of the IVF result against the exact
    * brute-force truth, plus the candidate volume that depth pays — the
    * measured recall×price table a team reads before fixing `nprobe`
    * for a lake-scale embedding store, as hash-checked numbers instead
    * of a formula in a comment.
    *
    * ONE shared pass for every geometry: centroids and corpus
    * assignments are built once; queries probe at the WIDEST depth and
    * each candidate pair records `first_probe` — the 1-based probe
    * position that first reaches it — so a narrower depth's candidate
    * set is a filter over the same relation, never a re-join (the
    * q_lsh_geometry sharing discipline). Truth is one brute-force top-k
    * pass. IVF is deterministic end-to-end (seeded k-means, dot-ordered
    * probes, index-ordered cosine), so the full sweep oracles as SQL.
    */
  def ivfRecallSweep(s: SparkSession, embRaw: DataFrame, nQueries: Int,
      k: Int, nlist: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val maxP = probes.max
    val emb = embRaw.filter(col("embedding").isNotNull)
    val centroids = refinedCentroids(s, emb, nlist)
    val e = withNorm(s, emb)
    val corpus = nearestCells(s, e, centroids, 1)
      .select(col("vec_id").as("n_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"), col("cells")(0).as("cell"))
    val queries = nearestCells(s, e.filter(col("vec_id") < nQueries),
        centroids, maxP)
      .select(col("vec_id").as("q_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"), posexplode(col("cells")).as(Seq("pos", "cell")))
    // cosine BEFORE the group-by: identical inputs give bitwise-identical
    // values on every duplicate route, so min() is a deterministic pick
    val cand = broadcast(queries).join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .groupBy(col("q_id"), col("n_id"))
      .agg((min(col("pos")) + 1).as("first_probe"),
        min(col("cosine")).as("cosine"))
      .persist() // every probe depth filters this one relation
    val truth = bruteForceTopK(s, emb, nQueries, k)
      .select(col("q_id"), col("n_id")).persist()
    val rows = probes.map { p =>
      val sub = cand.filter(col("first_probe") <= p)
      val topk = VectorIndexStore.topK(sub, k)
        .select(col("q_id"), col("n_id"), lit(1).as("f"))
      val counts = truth.join(topk, Seq("q_id", "n_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("f"), lit(0))).cast(LongType).as("n_found"))
      counts.crossJoin(sub.agg(count(lit(1)).as("n_cand")))
        .select(lit(p).as("nprobe"), col("n_true"), col("n_found"),
          (col("n_found").cast(DoubleType) / col("n_true")).as("recall"),
          col("n_cand"))
    }
    val out = rows.reduce(_ unionAll _).orderBy(col("nprobe")).localCheckpoint()
    cand.unpersist()
    truth.unpersist()
    out
  }

  // DuckDB mirror of the IVF recall sweep: shared kmeans CTEs, probes at
  // the widest depth with their rank kept, MIN(rank) per candidate pair
  // (first_probe), one truth pass, then one (top-k ∩ truth) count per
  // probe depth — the same single-pass sharing as the Spark side.
  private def sqlIvfRecall(nlist: Int, nQueries: Int, k: Int,
      probes: Seq[Int]): String = {
    def dc(a: String, c: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $c.c[i]::DOUBLE)), (acc, x) -> acc + x)"
    val maxP = probes.max
    val perP = probes.map { p =>
      s"""k$p AS (SELECT q_id, n_id FROM (
               SELECT q_id, n_id,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, n_id) AS rnk
               FROM sc WHERE first_probe <= $p) WHERE rnk <= $k),
          r$p AS (SELECT CAST($p AS INT) AS nprobe,
                   CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
                   CAST((SELECT COUNT(*) FROM truth t JOIN k$p x
                         ON t.q_id = x.q_id AND t.n_id = x.n_id) AS BIGINT) AS n_found,
                   CAST((SELECT COUNT(*) FROM sc WHERE first_probe <= $p) AS BIGINT) AS n_cand)"""
    }.mkString(",\n")
    val unions = probes.map(p => s"SELECT * FROM r$p").mkString(" UNION ALL ")
    s"""WITH ${sqlKmeansCtes(nlist)},
           probe AS (SELECT vec_id AS q_id, cell, rn FROM (
                       SELECT a.vec_id, c.cell,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${dc("a", "c")} DESC, c.cell DESC) AS rn
                       FROM e a CROSS JOIN cent c WHERE a.vec_id < $nQueries)
                     WHERE rn <= $maxP),
           cand AS (SELECT p.q_id, s.vec_id AS n_id, MIN(p.rn) AS first_probe
                    FROM probe p JOIN asg s ON s.cell = p.cell
                    WHERE s.vec_id <> p.q_id GROUP BY 1, 2),
           sc AS (SELECT c.q_id, c.n_id, c.first_probe,
                         ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine
                  FROM cand c JOIN embeddings a ON a.vec_id = c.q_id
                              JOIN embeddings b ON b.vec_id = c.n_id),
           truth AS (SELECT q_id, n_id FROM (
                       SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, b.vec_id) AS rnk
                       FROM e a JOIN e b ON b.vec_id <> a.vec_id
                       WHERE a.vec_id < $nQueries) WHERE rnk <= $k),
           $perP
         SELECT nprobe, n_true, n_found,
                CAST(n_found AS DOUBLE) / n_true AS recall, n_cand
         FROM ($unions) ORDER BY nprobe"""
  }

  /** SemDeDup (Abbas et al. 2023 shape): k-means-cluster the embeddings,
    * then WITHIN each cluster drop every vector that has a lower-id
    * near-duplicate (cosine >= minCos) in the same cluster. The cluster
    * stage confines the quadratic compare to cell-local candidates — the
    * semantic-dedup scale path where LSH recall is not acceptable; at
    * 100 TB, k grows with the corpus so cells stay bounded (k ~ n/cell
    * budget), keeping each cell's all-pairs a single-task-sized job.
    */
  def semDedup(s: SparkSession, embRaw: DataFrame, k: Int, minCos: Double): DataFrame = {
    val emb = embRaw.filter(col("embedding").isNotNull)
    // assignments feed both the pair generation and the final anti-join;
    // persist -> materialize -> unpersist (re-execution would recluster)
    val asg = kmeansAssign(s, emb, k).persist()
    asg.count()
    val e = withNorm(s, emb).join(asg, Seq("vec_id"))
    val a = e.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = e.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("norm").as("b_norm"))
    val dropped = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .filter(col("cosine") >= minCos)
      .select(col("b_id").as("vec_id")).distinct()
    val out = asg.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell")).localCheckpoint()
    asg.unpersist()
    out
  }

  /** SEMDEDUP CALIBRATION SWEEP — the semantic member of the calibration
    * triple (q_lsh_geometry for text banding, q_ivf_recall for vector
    * probes, this for the SemDeDup cosine threshold): per threshold, how
    * many vectors the cell-local near-dup rule would drop, plus the
    * constant cell-local candidate volume the clustering confines the
    * quadratic to. ONE shared pass: cluster once, score every cell-local
    * pair once; each threshold is a filter over the same scored relation.
    * Deterministic end-to-end (seeded k-means, index-ordered cosine) —
    * fully SQL-oracled.
    */
  def semDedupSweep(s: SparkSession, embRaw: DataFrame, k: Int,
      thresholds: Seq[Double] = Seq(0.3, 0.4, 0.5)): DataFrame = {
    val emb = embRaw.filter(col("embedding").isNotNull)
    val asg = kmeansAssign(s, emb, k).persist()
    asg.count()
    val e = withNorm(s, emb).join(asg, Seq("vec_id"))
    val a = e.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = e.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("norm").as("b_norm"))
    val pairs = a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .select(col("b_id"), col("cosine"))
      .persist() // every threshold filters this one scored relation
    pairs.count()
    val nDf = emb.agg(count(lit(1)).as("n_vectors"))
    val cDf = pairs.agg(count(lit(1)).as("n_cand"))
    val rows = thresholds.map { th =>
      pairs.filter(col("cosine") >= th)
        .agg(countDistinct(col("b_id")).as("n_dropped"))
        .crossJoin(nDf).crossJoin(cDf)
        .select(lit(th).as("min_cos"), col("n_vectors"), col("n_dropped"),
          (col("n_vectors") - col("n_dropped")).as("n_kept"),
          (col("n_dropped").cast(DoubleType) / col("n_vectors"))
            .as("drop_rate"),
          col("n_cand"))
    }
    val out = rows.reduce(_ unionAll _).orderBy(col("min_cos"))
      .localCheckpoint()
    pairs.unpersist()
    asg.unpersist()
    out
  }

  private def sqlSemDedupSweep(k: Int, thresholds: Seq[Double]): String = {
    val perT = thresholds.zipWithIndex.map { case (th, i) =>
      s"""r$i AS (SELECT CAST($th AS DOUBLE) AS min_cos,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_vectors,
                 (SELECT CAST(COUNT(DISTINCT b_id) AS BIGINT) FROM prs
                  WHERE cosine >= CAST($th AS DOUBLE)) AS n_dropped,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM prs) AS n_cand)"""
    }.mkString(",\n")
    val unions = thresholds.indices.map(i => s"SELECT * FROM r$i")
      .mkString(" UNION ALL ")
    s"""WITH ${sqlKmeansCtes(k)},
           prs AS (SELECT v.vec_id AS b_id,
                          ${sqlDot("ea", "eb")} / (${sqlNorm("ea")} * ${sqlNorm("eb")}) AS cosine
                   FROM asg a JOIN asg v ON a.cell = v.cell AND a.vec_id < v.vec_id
                   JOIN embeddings ea ON ea.vec_id = a.vec_id
                   JOIN embeddings eb ON eb.vec_id = v.vec_id),
           $perT
         SELECT min_cos, n_vectors, n_dropped,
                n_vectors - n_dropped AS n_kept,
                CAST(n_dropped AS DOUBLE) / n_vectors AS drop_rate,
                n_cand
         FROM ($unions) ORDER BY min_cos"""
  }

  /** Deterministic PQ codebook: per contiguous subspace, the subvectors of
    * the first `nCent` vectors by id (the same seed convention as
    * [[refinedCentroids]]). Driver-side and bounded at nSub x nCent x
    * subDim — the structure a PQ index ships to every executor.
    */
  def pqCodebook(emb: DataFrame, nSub: Int, nCent: Int): Seq[Seq[Seq[Float]]] = {
    val seeds = emb.filter(col("embedding").isNotNull && col("vec_id") < nCent)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toIndexedSeq)
    val subDim = seeds.head.length / nSub
    (0 until nSub).map(s =>
      seeds.toIndexedSeq.map(v => v.slice(s * subDim, (s + 1) * subDim)))
  }

  /** IVF-PQ top-k — the compressed-candidate scale path: the corpus side
    * carries ONLY (cell, 8 x 4-bit PQ codes), never the vectors, so at
    * 100 TB candidate generation shuffles ~9 bytes/vector instead of
    * 256. Scoring is asymmetric-distance (ADC): a per-query lookup table
    * of subspace-centroid partial dots (nQueries x nSub x nCent rows,
    * broadcast) joined against the candidates' exploded codes; partial
    * dots are decimal-rounded before the sum so the approximate ranking
    * is replay-deterministic. The approx top k x `rerank` then exact
    * re-ranks through one broadcast of the (tiny) candidate list against
    * the corpus — precision of the final k is exact-cosine.
    */
  /** Everything through the ADC approx scores — shared by [[ivfPqTopK]]
    * and [[ivfPqRerankSweep]]: (the re-rank vectors (n_id, b_emb,
    * b_norm), q probe relation, approx (q_id, n_id, approx_dot)). The
    * corpus side carries only (cell, codes); embeddings re-enter only at
    * the exact re-rank.
    */
  private def pqApproxStage(s: SparkSession, embRaw: DataFrame,
      nQueries: Int, nlist: Int, nprobe: Int, nSub: Int, nCent: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val emb = embRaw.filter(col("embedding").isNotNull)
    val cents = refinedCentroids(s, emb, nlist)
    val cb = pqCodebook(emb, nSub, nCent)
    val subDim = cb.head.head.length
    // corpus index rows: cell + packed codes — no embeddings
    val corpus = nearestCells(s, emb, cents, 1)
      .select(col("vec_id").as("n_id"), col("cells")(0).as("cell"),
        VectorFunctions.pqCodes(col("embedding"), cb).as("codes"))
    val e = withNorm(s, emb)
    val q = nearestCells(s, e.filter(col("vec_id") < nQueries), cents, nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("cells"))
    // ADC lookup table: dot(query subvector, codebook centroid) per
    // (q_id, subspace, centroid)
    val cbDf = cb.zipWithIndex.flatMap { case (centsSub, sub) =>
      centsSub.zipWithIndex.map { case (v, cid) => (sub, cid, v) }
    }.toDF("sub", "cid", "cv")
    (e.select(col("vec_id").as("n_id"), col("embedding").as("b_emb"), col("norm").as("b_norm")),
      q, VectorIndexStore.pqApprox(s, q, cbDf, subDim, corpus, col("n_id")))
  }

  def ivfPqTopK(s: SparkSession, embRaw: DataFrame, nQueries: Int, k: Int,
      nlist: Int = 16, nprobe: Int = 4, nSub: Int = 8, nCent: Int = 16,
      rerank: Int = 4): DataFrame = {
    val (vectors, q, approx) =
      pqApproxStage(s, embRaw, nQueries, nlist, nprobe, nSub, nCent)
    // exact re-rank: broadcast the small pool; the corpus streams once
    VectorIndexStore.topK(VectorIndexStore.exactRerank(s,
      VectorIndexStore.pqPool(approx, k * rerank).select(col("q_id"), col("n_id")),
      q, vectors), k)
  }

  /** IVF-PQ RERANK-FACTOR SWEEP — the compressed-index member of the
    * calibration family: per rerank factor r, recall@k of the ADC-pooled
    * + exact-reranked result against the brute-force truth, plus the
    * exact-rerank volume r pays (the only stage that touches real
    * vectors). ONE shared pass: the ADC approx scores are computed once,
    * the exact cosine is computed once over the WIDEST pool (each row
    * keeps its approx rank), and every narrower factor is a filter —
    * the q_ivf_recall sharing discipline applied to the rerank axis.
    */
  def ivfPqRerankSweep(s: SparkSession, embRaw: DataFrame, nQueries: Int,
      k: Int, reranks: Seq[Int] = Seq(1, 2, 4), nlist: Int = 16,
      nprobe: Int = 4, nSub: Int = 8, nCent: Int = 16): DataFrame = {
    val maxR = reranks.max
    val (vectors, q, approx) =
      pqApproxStage(s, embRaw, nQueries, nlist, nprobe, nSub, nCent)
    val ex = VectorIndexStore.exactRerank(s,
        VectorIndexStore.pqPool(approx, k * maxR).select(col("q_id"), col("n_id"), col("arn")),
        q, vectors)
      .select(col("q_id"), col("n_id"), col("arn"), col("cosine"))
      .persist() // every rerank factor filters this one scored pool
    val truth = bruteForceTopK(s, embRaw.filter(col("embedding").isNotNull),
        nQueries, k)
      .select(col("q_id"), col("n_id")).persist()
    val rows = reranks.map { r =>
      val sub = ex.filter(col("arn") <= k * r)
      val topk = VectorIndexStore.topK(sub, k)
        .select(col("q_id"), col("n_id"), lit(1).as("f"))
      truth.join(topk, Seq("q_id", "n_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("f"), lit(0))).cast(LongType).as("n_found"))
        .crossJoin(sub.agg(count(lit(1)).as("n_rerank")))
        .select(lit(r).as("rerank"), col("n_true"), col("n_found"),
          (col("n_found").cast(DoubleType) / col("n_true")).as("recall"),
          col("n_rerank"))
    }
    val out = rows.reduce(_ unionAll _).orderBy(col("rerank")).localCheckpoint()
    ex.unpersist()
    truth.unpersist()
    out
  }

  // DuckDB mirror of the deterministic k-means assignment: seed = first k
  // vectors, argmax-dot assign (ties -> larger cell, mirroring the
  // reversed struct sort), decimal-exact refined means cast to FLOAT,
  // then the final argmax-dot assignment.
  private def sqlKmeansCtes(k: Int,
      pred: String = "embedding IS NOT NULL"): String = {
    def d(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"
    s"""e AS (SELECT vec_id, embedding FROM embeddings WHERE $pred),
        seed AS (SELECT CAST(vec_id AS BIGINT) AS cell, embedding AS c FROM e WHERE vec_id < $k),
        s0 AS (SELECT vec_id, cell FROM (
                 SELECT a.vec_id, s.cell,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY ${d("a.embedding", "s.c")} DESC, s.cell DESC) AS rn
                 FROM e a CROSS JOIN seed s) WHERE rn = 1),
        cm AS (SELECT s0.cell, t.i,
                      CAST(CAST(SUM(CAST(CAST(e.embedding[t.i] AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE)
                           / COUNT(*) AS FLOAT) AS m
               FROM s0 JOIN e USING (vec_id) CROSS JOIN range(1, 65) t(i)
               GROUP BY s0.cell, t.i),
        cent AS (SELECT cell, list(m ORDER BY i) AS c FROM cm GROUP BY cell),
        asg AS (SELECT vec_id, cell FROM (
                  SELECT a.vec_id, c.cell,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY ${d("a.embedding", "c.c")} DESC, c.cell DESC) AS rn
                  FROM e a CROSS JOIN cent c) WHERE rn = 1)"""
  }

  // DuckDB mirror of the full IVF query: the kmeans CTEs give the refined
  // centroids (cent) and every vector's cell (asg); each query probes its
  // `nprobe` top-dot centroids (ties -> larger cell, the NearestCells
  // convention), candidates are the probed cells' members, and the final
  // ranking is the exact index-ordered cosine — the same SQL serves the
  // in-query and stored-index forms, proving the stored path faithful.
  private def sqlIvfTopK(nlist: Int, nprobe: Int, nQueries: Int, k: Int): String = {
    def dc(a: String, c: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $c.c[i]::DOUBLE)), (acc, x) -> acc + x)"
    s"""WITH ${sqlKmeansCtes(nlist)},
           probe AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT a.vec_id, c.cell,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${dc("a", "c")} DESC, c.cell DESC) AS rn
                       FROM e a CROSS JOIN cent c WHERE a.vec_id < $nQueries)
                     WHERE rn <= $nprobe),
           cand AS (SELECT p.q_id, s.vec_id AS n_id
                    FROM probe p JOIN asg s ON s.cell = p.cell
                    WHERE s.vec_id <> p.q_id)
         SELECT q_id, rank, n_id, cosine FROM (
           SELECT c.q_id, c.n_id,
                  ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine,
                  row_number() OVER (PARTITION BY c.q_id
                    ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, c.n_id) AS rank
           FROM cand c JOIN embeddings a ON a.vec_id = c.q_id
                       JOIN embeddings b ON b.vec_id = c.n_id)
         WHERE rank <= $k ORDER BY q_id, rank"""
  }

  // DuckDB mirror of the INCREMENTAL IVF query: the vintage (centroids)
  // comes from clustering only the BASE predicate's vectors, but the
  // whole corpus — base + appended — is assigned onto those frozen
  // centroids for candidate generation, exactly the frozen-vintage
  // append semantics of sources.IncrementalVectorIndex.
  private def sqlIvfIncrTopK(nlist: Int, nprobe: Int, nQueries: Int, k: Int,
      basePred: String): String = {
    def dc(a: String, c: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $c.c[i]::DOUBLE)), (acc, x) -> acc + x)"
    s"""WITH ${sqlKmeansCtes(nlist, s"embedding IS NOT NULL AND ($basePred)")},
           all_e AS (SELECT vec_id, embedding FROM embeddings
                     WHERE embedding IS NOT NULL),
           asg_all AS (SELECT vec_id, cell FROM (
                         SELECT a.vec_id, c.cell,
                                row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY ${dc("a", "c")} DESC, c.cell DESC) AS rn
                         FROM all_e a CROSS JOIN cent c) WHERE rn = 1),
           probe AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT a.vec_id, c.cell,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${dc("a", "c")} DESC, c.cell DESC) AS rn
                       FROM all_e a CROSS JOIN cent c WHERE a.vec_id < $nQueries)
                     WHERE rn <= $nprobe),
           cand AS (SELECT p.q_id, s.vec_id AS n_id
                    FROM probe p JOIN asg_all s ON s.cell = p.cell
                    WHERE s.vec_id <> p.q_id)
         SELECT q_id, rank, n_id, cosine FROM (
           SELECT c.q_id, c.n_id,
                  ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine,
                  row_number() OVER (PARTITION BY c.q_id
                    ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, c.n_id) AS rank
           FROM cand c JOIN embeddings a ON a.vec_id = c.q_id
                       JOIN embeddings b ON b.vec_id = c.n_id)
         WHERE rank <= $k ORDER BY q_id, rank"""
  }

  // DuckDB mirror of the full IVF-PQ query — the kmeans CTEs (centroids,
  // cell assignments) + the q_pq_codes CTEs (codebook, argmin-L2 codes)
  // + the ADC pipeline: per-query decimal-exact partial-dot LUT, summed
  // approximate scores over the probed cells' code rows, top k x rerank
  // pool, exact cosine re-rank. Every approximate score is an exact
  // DECIMAL sum, so the approximate RANKING is engine-independent and
  // the whole pipeline oracles — IVF-PQ is deterministic end-to-end,
  // not seed-dependent.
  // Everything through the ADC approx scores, shared by the single-factor
  // mirror and the rerank sweep.
  private def sqlPqApproxCtes(nlist: Int, nprobe: Int, nQueries: Int,
      nSub: Int, nCent: Int): String = {
    val subDim = 64 / nSub
    def dc(a: String, c: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $c.c[i]::DOUBLE)), (acc, x) -> acc + x)"
    s"""${sqlKmeansCtes(nlist)},
           cb AS (SELECT s.s, CAST(c.vec_id AS INT) AS cid,
                         list_transform(range(1, ${subDim + 1}), i -> c.embedding[s.s*$subDim + i]) AS cv
                  FROM e c CROSS JOIN (SELECT unnest(range(0, $nSub)) AS s) s
                  WHERE c.vec_id < $nCent),
           dist AS (SELECT a.vec_id, cb.s, cb.cid,
                           list_reduce(list_prepend(0.0, list_transform(range(1, ${subDim + 1}),
                             i -> (a.embedding[cb.s*$subDim + i]::DOUBLE - cb.cv[i]::DOUBLE)
                                * (a.embedding[cb.s*$subDim + i]::DOUBLE - cb.cv[i]::DOUBLE))),
                             (acc, x) -> acc + x) AS d
                    FROM e a CROSS JOIN cb),
           code AS (SELECT vec_id, s, cid FROM (
                      SELECT vec_id, s, cid,
                             row_number() OVER (PARTITION BY vec_id, s
                               ORDER BY d ASC, cid ASC) AS rn
                      FROM dist) WHERE rn = 1),
           probe AS (SELECT vec_id AS q_id, cell FROM (
                       SELECT a.vec_id, c.cell,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${dc("a", "c")} DESC, c.cell DESC) AS rn
                       FROM e a CROSS JOIN cent c WHERE a.vec_id < $nQueries)
                     WHERE rn <= $nprobe),
           lut AS (SELECT q.vec_id AS q_id, cb.s, cb.cid,
                          CAST(list_reduce(list_prepend(0.0, list_transform(range(1, ${subDim + 1}),
                            i -> q.embedding[cb.s*$subDim + i]::DOUBLE * cb.cv[i]::DOUBLE)),
                            (acc, x) -> acc + x) AS DECIMAL(24,9)) AS pdot
                   FROM e q CROSS JOIN cb WHERE q.vec_id < $nQueries),
           approx AS (SELECT p.q_id, sa.vec_id AS n_id, SUM(l.pdot) AS ad
                      FROM probe p JOIN asg sa ON sa.cell = p.cell
                           JOIN code cd ON cd.vec_id = sa.vec_id
                           JOIN lut l ON l.q_id = p.q_id AND l.s = cd.s AND l.cid = cd.cid
                      WHERE sa.vec_id <> p.q_id
                      GROUP BY 1, 2)"""
  }

  private def sqlIvfPqTopK(nlist: Int, nprobe: Int, nQueries: Int, k: Int,
      nSub: Int, nCent: Int, rerank: Int): String =
    s"""WITH ${sqlPqApproxCtes(nlist, nprobe, nQueries, nSub, nCent)},
           pool AS (SELECT q_id, n_id FROM (
                      SELECT q_id, n_id,
                             row_number() OVER (PARTITION BY q_id
                               ORDER BY ad DESC, n_id) AS rn
                      FROM approx) WHERE rn <= ${k * rerank})
         SELECT q_id, rank, n_id, cosine FROM (
           SELECT p.q_id, p.n_id,
                  ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine,
                  row_number() OVER (PARTITION BY p.q_id
                    ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, p.n_id) AS rank
           FROM pool p JOIN embeddings a ON a.vec_id = p.q_id
                       JOIN embeddings b ON b.vec_id = p.n_id)
         WHERE rank <= $k ORDER BY q_id, rank"""

  private def sqlIvfPqRerank(nlist: Int, nprobe: Int, nQueries: Int, k: Int,
      nSub: Int, nCent: Int, reranks: Seq[Int]): String = {
    val maxR = reranks.max
    val perR = reranks.map { r =>
      s"""k$r AS (SELECT q_id, n_id FROM (
               SELECT q_id, n_id,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, n_id) AS rnk
               FROM ex WHERE arn <= ${k * r}) WHERE rnk <= $k),
          r$r AS (SELECT CAST($r AS INT) AS rerank,
                   CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
                   CAST((SELECT COUNT(*) FROM truth t JOIN k$r x
                         ON t.q_id = x.q_id AND t.n_id = x.n_id) AS BIGINT) AS n_found,
                   CAST((SELECT COUNT(*) FROM ex WHERE arn <= ${k * r}) AS BIGINT) AS n_rerank)"""
    }.mkString(",\n")
    val unions = reranks.map(r => s"SELECT * FROM r$r").mkString(" UNION ALL ")
    s"""WITH ${sqlPqApproxCtes(nlist, nprobe, nQueries, nSub, nCent)},
           poolm AS (SELECT q_id, n_id, rn AS arn FROM (
                       SELECT q_id, n_id,
                              row_number() OVER (PARTITION BY q_id
                                ORDER BY ad DESC, n_id) AS rn
                       FROM approx) WHERE rn <= ${k * maxR}),
           ex AS (SELECT p.q_id, p.n_id, p.arn,
                         ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine
                  FROM poolm p JOIN embeddings a ON a.vec_id = p.q_id
                               JOIN embeddings b ON b.vec_id = p.n_id),
           truth AS (SELECT q_id, n_id FROM (
                       SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                              row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, b.vec_id) AS rnk
                       FROM e a JOIN e b ON b.vec_id <> a.vec_id
                       WHERE a.vec_id < $nQueries) WHERE rnk <= $k),
           $perR
         SELECT rerank, n_true, n_found,
                CAST(n_found AS DOUBLE) / n_true AS recall, n_rerank
         FROM ($unions) ORDER BY rerank"""
  }

  // DuckDB mirror of semanticDecontaminate — shared verbatim by the
  // brute-force row and the stored-IVF row (the IVF row runs in the
  // exact regime, nprobe = nlist: every cell is probed, so every
  // (train, eval) pair is scored exactly once and the result set equals
  // the brute force BY CONSTRUCTION — the q_hll_union convention).
  // Zero-norm vectors are excluded on both legs, mirroring the NaN
  // guard in the Spark code.
  private def sqlSemanticDecon(minCos: Double): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings z
                   WHERE z.embedding IS NOT NULL AND ${sqlNorm("z")} > 0),
               p AS (SELECT t.vec_id, q.vec_id AS eval_id,
                            ${sqlDot("q", "t")} / (${sqlNorm("q")} * ${sqlNorm("t")}) AS cosine
                     FROM e t, e q WHERE q.vec_id % 97 = 0 AND t.vec_id % 97 <> 0),
               r AS (SELECT vec_id, eval_id, cosine,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, eval_id) AS rnk
                     FROM p)
               SELECT vec_id, eval_id AS best_eval_id, cosine AS best_cosine
               FROM r WHERE rnk = 1 AND cosine >= $minCos ORDER BY vec_id"""

  // DuckDB mirror of the double-promoted, index-ordered fold.
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE)), (acc, x) -> acc + x)"
  private def sqlNorm(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $a.embedding[i]::DOUBLE)), (acc, x) -> acc + x))"

  /** IN-CONTEXT PRETRAINING pack layout + coherence readout (Shi et al.
    * 2023, "In-Context Pretraining: Language Modeling Beyond Document
    * Boundaries" — public paper, semantics only): instead of packing
    * documents in arrival order, order them by semantic CLUSTER so each
    * packed context window holds related documents — the model learns
    * cross-document attention over genuinely related neighbors. The
    * layout here is the deterministic cluster-sort form: assign every
    * vector its kmeans cell (the q_kmeans machinery — seeded,
    * decimal-exact refinement), order by (cell, vec_id), cut packs of
    * `docsPerPack`. Output per pack: doc count, DISTINCT cells, and the
    * majority cell + its doc count — the coherence readout a data team
    * inspects before committing the layout (a pack spanning many cells
    * defeats the purpose; majority share near 1 is the goal).
    *
    * Scale shape: the global (cell, vec_id) ordering is computed WITHOUT
    * a single-partition global window — per-cell bases (nlist rows,
    * broadcast — the chunkOffsetSpine discipline) + a within-cell
    * row_number, then two bounded aggregates; nothing wider than
    * (vec_id, cell, seq) longs shuffles.
    */
  def inContextPack(s: SparkSession, embRaw: DataFrame, nlist: Int = 16,
      docsPerPack: Long = 64L): DataFrame = {
    val emb = embRaw.filter(col("embedding").isNotNull)
    val centroids = refinedCentroids(s, emb, nlist)
    val asg = nearestCells(s, emb, centroids, 1)
      .select(col("vec_id"), col("cells")(0).as("cell"))
    val sizes = asg.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
    // nlist rows: the bounded global window is the spine, not the corpus
    val wCell = Window.orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = sizes
      .withColumn("base", coalesce(sum(col("cn")).over(wCell), lit(0L)))
      .select(col("cell"), col("base"))
    val wIn = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val packed = asg.join(broadcast(bases), Seq("cell"))
      .withColumn("seq", col("base") + row_number().over(wIn) - 1)
      .withColumn("pack", expr(s"seq div ${docsPerPack}L"))
    val pc = packed.groupBy(col("pack"), col("cell")).agg(count(lit(1)).as("c"))
    pc.groupBy(col("pack"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_cells"),
        max(struct(col("c"), (-col("cell")).cast(LongType).as("nc"))).as("m"))
      .select(col("pack"), col("n_docs"), col("n_cells"),
        (-col("m.nc")).as("majority_cell"), col("m.c").as("majority_docs"))
      .orderBy(col("pack"))
  }

  /** The in-context layout COMPOSED with the pack spine: real token
    * offsets for the embedded slice of the corpus (embeddings align
    * with the first documents by id — the fixture's CLIP-style pairing,
    * also used by q_caption_pairs/q_clip_gate), laid out in (cell,
    * doc_id) order so the offsets are exactly what the shard writer
    * would consume to pack related documents adjacently. Same two-level
    * spine as [[inContextPack]] but in TOKENS: per-cell token bases
    * (nlist rows, broadcast) + a within-cell cumulative token window —
    * no global window, nothing wider than (doc_id, cell, n, offset)
    * longs shuffles.
    */
  def inContextPackOffsets(s: SparkSession, emb: DataFrame, docs: DataFrame,
      nlist: Int = 16, budget: Long = 256L): DataFrame = {
    val asg = kmeansAssign(s, emb, nlist)
    val sized = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .join(asg.select(col("vec_id").as("doc_id"), col("cell")), Seq("doc_id"))
    val cellTotals = sized.groupBy(col("cell")).agg(sum(col("n_tokens")).as("ct"))
    // nlist rows (one per cell): the bounded global window is the spine,
    // never the corpus
    val wCell = Window.orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = cellTotals
      .withColumn("base", coalesce(sum(col("ct")).over(wCell), lit(0L)))
      .select(col("cell"), col("base"))
    val wIn = Window.partitionBy(col("cell")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sized.join(broadcast(bases), Seq("cell"))
      .withColumn("offset",
        col("base") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("cell"), col("n_tokens"), col("offset"),
        expr(s"offset div ${budget}L").as("shard"))
      .orderBy(col("doc_id"))
  }

  private def sqlInContextPackOffsets(nlist: Int, budget: Int): String =
    s"""WITH ${sqlKmeansCtes(nlist)},
        sz AS (SELECT d.doc_id, CAST(a.cell AS BIGINT) AS cell,
                      CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
               FROM documents d JOIN asg a ON a.vec_id = d.doc_id),
        o AS (SELECT doc_id, cell, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY cell, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
              FROM sz)
        SELECT doc_id, cell, n_tokens, off AS offset, off // $budget AS shard
        FROM o ORDER BY doc_id"""

  private def sqlInContextPack(nlist: Int, docsPerPack: Int): String =
    s"""WITH ${sqlKmeansCtes(nlist)},
        sq AS (SELECT vec_id, cell,
                      row_number() OVER (ORDER BY cell, vec_id) - 1 AS seq
               FROM asg),
        pk AS (SELECT seq // $docsPerPack AS pack, cell FROM sq),
        pc AS (SELECT pack, cell, count(*) AS c FROM pk GROUP BY 1, 2),
        agg AS (SELECT pack, CAST(SUM(c) AS BIGINT) AS n_docs,
                       CAST(COUNT(*) AS BIGINT) AS n_cells
                FROM pc GROUP BY 1),
        mj AS (SELECT pack, cell, c,
                      row_number() OVER (PARTITION BY pack
                        ORDER BY c DESC, cell) AS rn
               FROM pc)
        SELECT a.pack, a.n_docs, a.n_cells,
               CAST(mj.cell AS BIGINT) AS majority_cell,
               CAST(mj.c AS BIGINT) AS majority_docs
        FROM agg a JOIN mj ON mj.pack = a.pack AND mj.rn = 1
        ORDER BY a.pack"""

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * public paper, semantics only): align two embedding pools (source /
    * target language sentences under a multilingual encoder — here the
    * deterministic vec_id parity split) by MUTUAL nearest neighbors under
    * the RATIO margin, not raw cosine. Raw-cosine thresholds fail because
    * hubness makes some vectors near everything; the margin normalizes
    * each pair's cosine by the mean cosine of both endpoints' k-NN
    * neighborhoods:
    *
    *   margin(x, y) = cos(x, y) / ((avgTopK(x) + avgTopK(y)) / 2)
    *
    * and a pair is MINED iff y is x's margin-argmax AND x is y's
    * margin-argmax (mutual best) AND the margin clears `minMargin`.
    * Output is therefore a partial MATCHING: every src_id and tgt_id
    * appears at most once (spec-pinned).
    *
    * Determinism discipline: cosines are the index-ordered double fold
    * (FloatDotProduct == the oracle's list_reduce); the k-NN averages sum
    * the top-k cosines in ASCENDING VALUE order (sort_array fold — a
    * plain avg(double) varies in the last bits with partial-agg order);
    * both argmaxes are AGGREGATES `max(struct(margin, -id, cosine))`
    * (ties to the lower id), never a window over the scored expansion,
    * so partial aggregation reduces map-side. Zero-norm vectors are
    * excluded on both legs (cosine = x/0).
    *
    * This brute form scores all src×tgt pairs — the exact-regime anchor
    * (the q_embed_neardup discipline). The scale path is
    * [[bitextMineIvf]]: candidates routed through shared k-means cells,
    * declared at the exact regime (nprobe = nlist) where cell routing is
    * provably lossless, so it shares THIS oracle verbatim.
    */
  def bitextMine(s: SparkSession, embRaw: DataFrame, k: Int = 4,
      minMargin: Double = 1.05): DataFrame = {
    val e = withNorm(s, embRaw.filter(col("embedding").isNotNull))
      .filter(col("norm") > 0)
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"))
    val tgt = e.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"))
    val scored = src.crossJoin(tgt)
      .withColumn("cosine", VectorFunctions.cosine(s))
      .select(col("src_id"), col("tgt_id"), col("cosine"))
    mineFromScored(scored, k, minMargin)
  }

  /** The margin/mutual-best tail shared by the brute and IVF-routed
    * miners: per-side top-k neighborhood averages (ascending-value
    * sorted fold), margin per scored pair, aggregate argmax both
    * directions, mutual join + threshold.
    */
  private[graft] def mineFromScored(scored: DataFrame, k: Int,
      minMargin: Double): DataFrame = {
    def knnAvg(side: String, other: String): DataFrame = {
      val w = Window.partitionBy(col(side))
        .orderBy(col("cosine").desc, col(other))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(col(side))
        .agg(sort_array(collect_list(col("cosine"))).as("cs"))
        .select(col(side),
          (expr("aggregate(cs, 0.0D, (acc, x) -> acc + x)") / size(col("cs")))
            .as(s"avg_$side"))
    }
    val m = scored
      .join(knnAvg("src_id", "tgt_id"), Seq("src_id"))
      .join(knnAvg("tgt_id", "src_id"), Seq("tgt_id"))
      .withColumn("margin",
        col("cosine") / ((col("avg_src_id") + col("avg_tgt_id")) / 2.0))
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"))
    val fbest = m.groupBy(col("src_id"))
      .agg(max(struct(col("margin"), (-col("tgt_id")).as("nt"),
        col("cosine").as("cos"))).as("b"))
      .select(col("src_id"), (-col("b.nt")).as("tgt_id"),
        col("b.cos").as("cosine"), col("b.margin").as("margin"))
    val bbest = m.groupBy(col("tgt_id"))
      .agg(max(struct(col("margin"), (-col("src_id")).as("ns"))).as("b"))
      .select(col("tgt_id").as("bt_id"), (-col("b.ns")).as("bs_id"))
    fbest.join(bbest,
        fbest("tgt_id") === bbest("bt_id") && fbest("src_id") === bbest("bs_id"))
      .filter(col("margin") >= minMargin)
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"))
      .orderBy(col("src_id"))
  }

  /** Bitext mining routed through shared k-means cells — the 100 TB
    * shape: src probes its `nprobe` nearest cells, tgt lives in exactly
    * one cell, candidates are the cell-join (never the src×tgt
    * expansion). Declared at the EXACT regime (nprobe = nlist — every
    * pair scored exactly once, coverage provably complete), so the row
    * shares [[bitextMine]]'s oracle verbatim; SimilaritySpec pins
    * brute == routed row-for-row and the narrow-probe matching
    * property. The cell join is un-hinted (the semanticDecontaminate
    * seam): AQE broadcasts a small probe side at runtime and keeps a
    * fat one shuffle-side.
    */
  def bitextMineIvf(s: SparkSession, embRaw: DataFrame, k: Int = 4,
      minMargin: Double = 1.05, nlist: Int = 16, nprobe: Int = 16): DataFrame = {
    val emb = embRaw.filter(col("embedding").isNotNull)
    val centroids = refinedCentroids(s, emb, nlist)
    val e = withNorm(s, emb).filter(col("norm") > 0)
    val src = nearestCells(s, e.filter(col("vec_id") % 2 === 0), centroids, nprobe)
      .select(col("vec_id").as("src_id"), col("embedding").as("a_emb"),
        col("norm").as("a_norm"), explode(col("cells")).as("cell"))
    val tgt = nearestCells(s, e.filter(col("vec_id") % 2 =!= 0), centroids, 1)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"), col("cells")(0).as("cell"))
    val scored = src.join(tgt, Seq("cell"))
      .withColumn("cosine", VectorFunctions.cosine(s))
      .select(col("src_id"), col("tgt_id"), col("cosine"))
    mineFromScored(scored, k, minMargin)
  }

  // DuckDB mirror of the miner: one scored CTE feeds the two k-NN
  // average legs (ascending-value sorted fold), the margin relation and
  // both argmax directions — matCtes so the shared pass runs once.
  private def sqlBitextMine(k: Int, minMargin: Double): String = {
    def knn(side: String, other: String) =
      s"""(SELECT $side, list_reduce(list_prepend(0.0, list_sort(list(cosine))),
                    (acc, x) -> acc + x) / len(list(cosine)) AS avg_$side
           FROM (SELECT $side, $other, cosine, row_number() OVER (
                   PARTITION BY $side ORDER BY cosine DESC, $other) AS rn
                 FROM scored)
           WHERE rn <= $k GROUP BY $side)"""
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings z
                   WHERE z.embedding IS NOT NULL AND ${sqlNorm("z")} > 0),
           scored AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
                  ${sqlDot("s", "t")} / (${sqlNorm("s")} * ${sqlNorm("t")}) AS cosine
                FROM e s, e t WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 <> 0),
           fa AS ${knn("src_id", "tgt_id")},
           ba AS ${knn("tgt_id", "src_id")},
           m AS (SELECT sc.src_id, sc.tgt_id, sc.cosine,
                        sc.cosine / ((fa.avg_src_id + ba.avg_tgt_id) / 2.0) AS margin
                 FROM scored sc JOIN fa USING (src_id) JOIN ba USING (tgt_id)),
           fb AS (SELECT src_id, tgt_id, cosine, margin, row_number() OVER (
                    PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
                  FROM m),
           bb AS (SELECT src_id, tgt_id, row_number() OVER (
                    PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS rn
                  FROM m)
         SELECT f.src_id, f.tgt_id, f.cosine, f.margin
         FROM fb f JOIN bb b ON f.src_id = b.src_id AND f.tgt_id = b.tgt_id
           AND b.rn = 1
         WHERE f.rn = 1 AND f.margin >= $minMargin ORDER BY f.src_id"""
  }

  val queries: Seq[Q] = Seq(

    Q("q_decontaminate_semantic",
      (s, dir) => semanticDecontaminate(s, t(s, dir, "embeddings"), 0.3),
      Some(sqlSemanticDecon(0.3))),

    // In-context pretraining layout: packs cut from the (cell, vec_id)
    // cluster-sorted order, per-pack coherence readout (distinct cells +
    // majority share). SimilaritySpec pins that the layout beats the
    // arrival-order baseline on coherence.
    Q("q_pack_incontext",
      (s, dir) => inContextPack(s, t(s, dir, "embeddings")),
      Some(sqlInContextPack(16, 64))),

    // The layout composed with the pack spine: real token offsets for
    // the embedded slice in (cell, doc_id) order — exactly what the
    // shard writer consumes to pack related documents adjacently.
    Q("q_pack_incontext_offsets",
      (s, dir) => inContextPackOffsets(s, t(s, dir, "embeddings"),
        t(s, dir, "documents")),
      Some(sqlInContextPackOffsets(16, 256))),

    // FAT-EVAL-SET semantic decontamination — the same flag/argmax
    // semantics routed through the STORED IVF index
    // (sources.VectorIndexStore): eval probes read their vectors and
    // nprobe nearest cells from the index; candidates are a cell-PRUNED
    // scan of the inverted lists, never a corpus pass. This is the shape
    // for a real eval SUITE (MMLU+GSM8K+HumanEval can reach 10⁵–10⁶
    // vectors — too fat to broadcast against every corpus partition
    // without cell pruning). Declared in the EXACT REGIME (nprobe =
    // nlist = all cells probed), where cell routing is provably lossless
    // — every (train, eval) pair is scored exactly once — so the row
    // shares the brute-force oracle verbatim; SimilaritySpec pins
    // brute == indexed row-for-row on the fixture and the narrow-probe
    // recall behavior.
    Q("q_decontaminate_semantic_ivf",
      (s, dir) => {
        val idx = graft.sources.VectorIndexStore.ensure(s, dir)
        graft.sources.VectorIndexStore.semanticDecontaminate(s, idx, 0.3,
          nprobe = graft.sources.VectorIndexStore.NList)
      },
      Some(sqlSemanticDecon(0.3))),

    // Probe-depth calibration for the fat-eval decontamination path:
    // measured flag recall + candidate volume per nprobe, one shared
    // scored pass (see semanticDecontaminateSweep). matCtes: the shared
    // relation feeds one leg per depth.
    Q("q_decontaminate_semantic_sweep",
      (s, dir) => semanticDecontaminateSweep(s, t(s, dir, "embeddings"), 0.3),
      Some(matCtes(sqlSemanticDeconSweep(0.3, nlist = 16,
        probes = Seq(1, 2, 4, 8, 16))))),

    // Margin-based bitext mining (Artetxe & Schwenk): mutual
    // margin-argmax pairs across the parity split. Brute all-pairs —
    // the exact-regime anchor; matCtes so the scored pass feeds the
    // two k-NN legs + margin relation once.
    Q("q_bitext_mine",
      (s, dir) => bitextMine(s, t(s, dir, "embeddings"), k = 4, minMargin = 1.05),
      Some(matCtes(sqlBitextMine(k = 4, minMargin = 1.05)))),

    // The same mining routed through shared k-means cells at the exact
    // regime (nprobe = nlist) — provably lossless, shares the brute
    // oracle verbatim; narrow-probe behavior spec-pinned.
    Q("q_bitext_mine_ivf",
      (s, dir) => bitextMineIvf(s, t(s, dir, "embeddings"), k = 4,
        minMargin = 1.05, nlist = 16, nprobe = 16),
      Some(matCtes(sqlBitextMine(k = 4, minMargin = 1.05)))),

    // The index-once-mine-many form: both pools read vectors/norms/cells
    // from the persisted VectorIndexStore; exact regime shares the brute
    // oracle verbatim (VectorIndexSpec pins equality + narrow probe).
    Q("q_bitext_mine_stored",
      (s, dir) => {
        val idx = graft.sources.VectorIndexStore.ensure(s, dir)
        graft.sources.VectorIndexStore.bitextMine(s, idx, k = 4,
          minMargin = 1.05, nprobe = graft.sources.VectorIndexStore.NList)
      },
      Some(matCtes(sqlBitextMine(k = 4, minMargin = 1.05)))),

    Q("q_embed_neardup",
      (s, dir) => cosinePairs(s, t(s, dir, "embeddings"), 0.5)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""SELECT a_id, b_id, cosine FROM (
                 SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                        ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine
                 FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
               WHERE cosine >= 0.5 ORDER BY a_id, b_id""")),

    // LAION-style CLIP-score gate — the cross-modal alignment filter a
    // multimodal corpus runs after caption pairing (q_caption_pairs does
    // the structural checks; this is the semantic one): a pair survives
    // iff cosine(image embedding, caption embedding) clears the
    // threshold. Pairing convention on the synthetic embeddings table:
    // pair p = (vec_id 2p as the image tower's vector, vec_id 2p+1 as
    // the caption tower's) — the stub stands in for the CLIP encoders
    // the way decodeStub stands in for codecs; the Spark-side shape
    // (pair equi-join on pair_id, one codegen float dot per row, gate) is
    // the real one and is what's measured. One co-partitioned join of
    // two projections of the same scan; only 64-float rows move; at
    // 100 TB the pair id is the lake layout key so the join is
    // zero-exchange under bucketing. Keep flag reported (not filtered):
    // the gate's both sides hash-match the oracle.
    Q("q_clip_gate",
      (s, dir) => {
        val e = withNorm(s, t(s, dir, "embeddings"))
        val img = e.filter(col("vec_id") % 2 === 0)
          .select(expr("vec_id div 2").as("pair_id"),
            col("embedding").as("a_emb"), col("norm").as("a_norm"))
        val cap = e.filter(col("vec_id") % 2 === 1)
          .select(expr("vec_id div 2").as("pair_id"),
            col("embedding").as("b_emb"), col("norm").as("b_norm"))
        img.join(cap, Seq("pair_id"))
          .withColumn("clip_score", VectorFunctions.cosine(s))
          .select(col("pair_id"), col("clip_score"),
            (col("clip_score") >= 0.1).as("keep"))
          .orderBy(col("pair_id"))
      },
      Some(s"""SELECT a.vec_id // 2 AS pair_id,
                      ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS clip_score,
                      ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) >= 0.1 AS keep
               FROM embeddings a JOIN embeddings b
                 ON a.vec_id % 2 = 0 AND b.vec_id = a.vec_id + 1
               ORDER BY pair_id""")),

    Q("q_sim_topk",
      (s, dir) => bruteForceTopK(s, t(s, dir, "embeddings"), nQueries = 20, k = 5)
        .orderBy(col("q_id"), col("rank")),
      Some(s"""SELECT q_id, rank, n_id, cosine FROM (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                        ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, b.vec_id) AS rank
                 FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
                 WHERE a.vec_id < 20)
               WHERE rank <= 5 ORDER BY q_id, rank""")),

    // LSH top-k in the EXACT REGIME (planesPerTable = 0: one universal
    // bucket, banding provably lossless for any data — see lshTopK), so
    // the full LSH pipeline is oracled end-to-end against the brute-force
    // SQL. The raw production parameters (16 tables x 4 planes) stay
    // recall-spec-pinned in SimilaritySpec — the q_hll_union convention
    // for sketch families: oracle the exact regime, spec the raw one.
    Q("q_sim_topk_lsh",
      (s, dir) => lshTopK(s, t(s, dir, "embeddings"), nQueries = 20, k = 5,
          tables = 1, planesPerTable = 0)
        .orderBy(col("q_id"), col("rank")),
      Some(s"""SELECT q_id, rank, n_id, cosine FROM (
                 SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                        ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine,
                        row_number() OVER (PARTITION BY a.vec_id
                          ORDER BY ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) DESC, b.vec_id) AS rank
                 FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
                 WHERE a.vec_id < 20 AND a.embedding IS NOT NULL
                   AND b.embedding IS NOT NULL)
               WHERE rank <= 5 ORDER BY q_id, rank""")),

    // IVF is deterministic end-to-end (seeded k-means, dot-ordered probe,
    // exact re-rank), so unlike a seeded sketch it ADMITS a full SQL
    // mirror — oracled since round 7 rather than spec-pinned.
    // IVF CALIBRATION SWEEP — the artifact a team reads before fixing
    // nprobe for a 100 TB embedding store: measured recall@5 against
    // the exact truth per probe depth, with the candidate volume each
    // depth pays (n_cand), all from ONE shared centroid/assignment/
    // candidate pass (see ivfRecallSweep). Deterministic end-to-end,
    // so the whole sweep sits on the DuckDB gate.
    Q("q_ivf_recall",
      (s, dir) => ivfRecallSweep(s, t(s, dir, "embeddings"),
        nQueries = 20, k = 5),
      // matCtes: the shared scoring pass feeds one leg per probe depth;
      // inlined, DuckDB re-ran it per leg (measured 10.0 -> 0.6 s)
      Some(matCtes(sqlIvfRecall(nlist = 16, nQueries = 20, k = 5,
        probes = Seq(1, 2, 4, 8))))),

    Q("q_sim_topk_ivf",
      (s, dir) => ivfTopK(s, t(s, dir, "embeddings"), nQueries = 20, k = 5)
        .orderBy(col("q_id"), col("rank")),
      Some(sqlIvfTopK(nlist = 16, nprobe = 4, nQueries = 20, k = 5))),

    // IVF top-k over the STORED vector index (sources.VectorIndexStore) —
    // the lake-scale ANN shape: centroids + cell-partitioned inverted
    // lists are built ONCE per corpus, and the query is a cell-PRUNED
    // lists scan (PartitionFilters on the hive `cell` column, pinned by
    // VectorIndexSpec) with ZERO corpus access — query vectors and
    // candidates both come from the index. Shares q_sim_topk_ivf's
    // oracle verbatim: the oracle proves the stored path bit-identical
    // to the in-query path.
    Q("q_sim_topk_ivf_stored",
      (s, dir) => {
        val idx = graft.sources.VectorIndexStore.ensure(s, dir)
        graft.sources.VectorIndexStore.ivfTopK(s, idx, nQueries = 20, k = 5)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(sqlIvfTopK(nlist = 16, nprobe = 4, nQueries = 20, k = 5))),

    // LSH near-dup in the EXACT REGIME (planesPerTable = 0, same
    // convention as q_sim_topk_lsh): banding is provably lossless, so the
    // bucket-join pipeline is oracled against the exact all-pairs SQL;
    // the raw 16x4 production shape stays precision/recall-spec-pinned
    // in SimilaritySpec.
    Q("q_embed_neardup_lsh",
      (s, dir) => embedNearDupLsh(s, t(s, dir, "embeddings"), 0.5,
          tables = 1, planesPerTable = 0)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""SELECT a_id, b_id, cosine FROM (
                 SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                        ${sqlDot("a", "b")} / (${sqlNorm("a")} * ${sqlNorm("b")}) AS cosine
                 FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                 WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL)
               WHERE cosine >= 0.5 ORDER BY a_id, b_id""")),

    // Deterministic k-means assignment (seed = first 8 ids, one
    // decimal-exact Lloyd refinement) — the clustering stage SemDeDup and
    // IVF share, oracled end-to-end (seed assign -> refined means ->
    // final assign all mirrored in SQL).
    Q("q_kmeans",
      (s, dir) => kmeansAssign(s, t(s, dir, "embeddings"), 8)
        .orderBy(col("vec_id")),
      Some(s"""WITH ${sqlKmeansCtes(8)}
               SELECT vec_id, cell FROM asg ORDER BY vec_id""")),

    // SemDeDup: within-cluster cosine dedup — keep a vector unless a
    // lower-id same-cell vector matches it at cosine >= 0.4.
    // SemDeDup threshold calibration: the drop-rate-vs-threshold table a
    // team reads before fixing minCos for a semantic-dedup pass, from
    // ONE clustering + ONE cell-local scoring pass (see semDedupSweep).
    Q("q_semdedup_sweep",
      (s, dir) => semDedupSweep(s, t(s, dir, "embeddings"), 8),
      Some(sqlSemDedupSweep(8, Seq(0.3, 0.4, 0.5)))),

    Q("q_semdedup",
      (s, dir) => semDedup(s, t(s, dir, "embeddings"), 8, 0.4)
        .orderBy(col("vec_id")),
      Some(s"""WITH ${sqlKmeansCtes(8)}
               SELECT v.vec_id, v.cell FROM asg v
               WHERE NOT EXISTS (
                 SELECT 1 FROM asg a
                 JOIN embeddings ea ON ea.vec_id = a.vec_id
                 JOIN embeddings eb ON eb.vec_id = v.vec_id
                 WHERE a.cell = v.cell AND a.vec_id < v.vec_id
                   AND ${sqlDot("ea", "eb")} / (${sqlNorm("ea")} * ${sqlNorm("eb")}) >= 0.4)
               ORDER BY vec_id""")),

    // Product-quantization codes, packed to one bigint (8 subspaces x
    // 4-bit codes): the embedding-compression step of an IVF-PQ index,
    // oracled against a full SQL replication of the argmin-L2 assignment.
    Q("q_pq_codes",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cb = pqCodebook(emb, nSub = 8, nCent = 16)
        emb.filter(col("embedding").isNotNull)
          .select(col("vec_id"),
            VectorFunctions.pqCodes(col("embedding"), cb).as("codes"))
          // 8-element fold — interpreted HOF is fine at this arity
          .select(col("vec_id"),
            expr("aggregate(codes, 0L, (acc, x) -> acc * 16 + x)").as("pq"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
                   cb AS (SELECT s.s, CAST(c.vec_id AS INT) AS cid,
                                 list_transform(range(1, 9), i -> c.embedding[s.s*8 + i]) AS cv
                          FROM e c CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
                          WHERE c.vec_id < 16),
                   dist AS (SELECT a.vec_id, cb.s, cb.cid,
                                   list_reduce(list_prepend(0.0, list_transform(range(1, 9),
                                     i -> (a.embedding[cb.s*8 + i]::DOUBLE - cb.cv[i]::DOUBLE)
                                        * (a.embedding[cb.s*8 + i]::DOUBLE - cb.cv[i]::DOUBLE))),
                                     (acc, x) -> acc + x) AS d
                            FROM e a CROSS JOIN cb),
                   code AS (SELECT vec_id, s, cid FROM (
                              SELECT vec_id, s, cid,
                                     row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY d ASC, cid ASC) AS rn
                              FROM dist) WHERE rn = 1)
              SELECT vec_id,
                     list_reduce(list_prepend(0::BIGINT, list(cid ORDER BY s)),
                       (acc, x) -> acc * 16 + x) AS pq
              FROM code GROUP BY vec_id ORDER BY vec_id""")),

    // IVF-PQ top-k: compressed candidates + ADC scoring + exact re-rank.
    // Deterministic end-to-end (seeded codebook, decimal-exact partial
    // dots), so it admits a full SQL mirror — oracled since round 7;
    // SimilaritySpec additionally measures recall vs the brute force.
    // IVF-PQ rerank calibration: recall@5 vs the exact-rerank volume
    // each factor pays — the compressed-index member of the calibration
    // family (see ivfPqRerankSweep).
    Q("q_ivfpq_rerank",
      (s, dir) => ivfPqRerankSweep(s, t(s, dir, "embeddings"),
        nQueries = 20, k = 5),
      // matCtes: one leg per rerank factor (measured 9.0 -> 1.6 s)
      Some(matCtes(sqlIvfPqRerank(nlist = 16, nprobe = 4, nQueries = 20, k = 5,
        nSub = 8, nCent = 16, reranks = Seq(1, 2, 4))))),

    Q("q_ivfpq_topk",
      (s, dir) => ivfPqTopK(s, t(s, dir, "embeddings"), nQueries = 20, k = 5)
        .orderBy(col("q_id"), col("rank")),
      Some(sqlIvfPqTopK(nlist = 16, nprobe = 4, nQueries = 20, k = 5,
        nSub = 8, nCent = 16, rerank = 4))),

    // IVF-PQ over the STORED vector index: candidates from the
    // cell-pruned codes table, ADC LUT from the stored codebook, exact
    // re-rank against the pruned lists — zero corpus access (plan-pinned
    // by VectorIndexSpec), same oracle as the in-query form.
    // IVF over the INCREMENTALLY MAINTAINED vector index
    // (sources.IncrementalVectorIndex): the vintage is frozen on the
    // even-id half of the corpus (baseBuild: centroids + codebook), the
    // odd-id half arrives as an APPEND assigned onto the frozen
    // centroids, and the query runs over the merged per-batch
    // partitions. The oracle mirrors exactly that: cluster the base
    // predicate, assign the whole corpus onto those centroids — so the
    // green row proves the frozen-vintage append semantics, not just
    // the read path. A fresh temp index per invocation keeps the query
    // self-contained (replay-safe: stale batches can never leak in).
    Q("q_sim_topk_ivf_incr",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding"))
        val idx = graft.sources.Scratch.tempDir("graft_ivf_incr") + "/idx"
        graft.sources.IncrementalVectorIndex.baseBuild(
          s, emb.filter(col("vec_id") % 2 === 0), idx)
        graft.sources.IncrementalVectorIndex.appendBatch(
          s, emb.filter(col("vec_id") % 2 =!= 0), 1L, idx)
        graft.sources.IncrementalVectorIndex.ivfTopK(s, idx, nQueries = 20, k = 5)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(sqlIvfIncrTopK(nlist = 16, nprobe = 4, nQueries = 20, k = 5,
        basePred = "vec_id % 2 = 0"))),

    Q("q_ivfpq_topk_stored",
      (s, dir) => {
        val idx = graft.sources.VectorIndexStore.ensure(s, dir)
        graft.sources.VectorIndexStore.ivfPqTopK(s, idx, nQueries = 20, k = 5)
          .orderBy(col("q_id"), col("rank"))
      },
      Some(sqlIvfPqTopK(nlist = 16, nprobe = 4, nQueries = 20, k = 5,
        nSub = 8, nCent = 16, rerank = 4))),

    // Per-vector uint8 quantization audit (min/max affine scheme): scale
    // and RMS reconstruction error per embedding — the compression-loss
    // metric logged before switching a 100 TB vector store to int8.
    // Per-dim errors are decimal-rounded then summed exactly (posexplode +
    // grouped decimal sum, the q_embed_centroids convention), so both
    // engines agree bitwise; round() operands are non-negative, where
    // Spark's HALF_UP equals DuckDB's half-away-from-zero.
    Q("q_embed_quantize",
      (s, dir) => {
        val mn = array_min(col("embedding")).cast(DoubleType)
        val mx = array_max(col("embedding")).cast(DoubleType)
        val e = t(s, dir, "embeddings")
          .filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding"), mn.as("mn"),
            ((mx - mn) / 255d).as("scale"))
        e.select(col("vec_id"), col("mn"), col("scale"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .withColumn("err",
            when(col("scale") === 0d, lit(0d))
              .otherwise(col("v").cast(DoubleType) - (col("mn") +
                round((col("v").cast(DoubleType) - col("mn")) / col("scale"))
                  * col("scale"))))
          .groupBy(col("vec_id"), col("scale"))
          .agg(count(lit(1)).as("dim"),
            sum((col("err") * col("err")).cast(DecimalType(20, 12))).as("se"))
          .select(col("vec_id"), col("scale"),
            sqrt(col("se").cast(DoubleType) / col("dim")).as("rmse"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (
                SELECT vec_id,
                       CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
                       (CAST(list_aggregate(embedding, 'max') AS DOUBLE) -
                        CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255 AS scale,
                       embedding
                FROM embeddings WHERE embedding IS NOT NULL),
              d AS (
                SELECT vec_id, scale, t.i,
                       CASE WHEN scale = 0 THEN 0
                            ELSE CAST(embedding[t.i] AS DOUBLE) - (mn +
                                 round((CAST(embedding[t.i] AS DOUBLE) - mn) / scale)
                                 * scale) END AS err
                FROM e CROSS JOIN range(1, 65) t(i))
              SELECT vec_id, scale,
                     sqrt(CAST(SUM(CAST(err * err AS DECIMAL(20,12))) AS DOUBLE)
                          / COUNT(*)) AS rmse
              FROM d GROUP BY vec_id, scale ORDER BY vec_id""")),

    // Per-label centroid, one row per (label, dimension) — grouped vector
    // arithmetic with decimal-exact means so both engines agree bitwise.
    Q("q_embed_centroids",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
          .select(col("label"), (col("pos0") + 1).cast(LongType).as("pos"), col("v"))
          .groupBy(col("label"), col("pos"))
          .agg(count(lit(1)).as("n"),
            (sum(col("v").cast(DoubleType).cast(DecimalType(18, 7)))
              .cast(DoubleType) / count(lit(1))).as("mean"))
          .orderBy(col("label"), col("pos")),
      Some("""SELECT label, i AS pos, COUNT(*) AS n,
                     CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*) AS mean
              FROM embeddings CROSS JOIN range(1, 65) t(i)
              GROUP BY label, i ORDER BY label, pos"""))
  )
}
