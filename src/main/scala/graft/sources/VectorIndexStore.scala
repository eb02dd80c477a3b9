package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions

/** Persisted ANN index for the similarity family — the vector sibling of
  * [[TextIndexStore]], completing the index-once-query-many story for
  * both retrieval modalities: the in-query builders (`q_sim_topk_ivf`,
  * `q_ivfpq_topk`, `ops/Similarity.scala`) recompute centroids, cell
  * assignments and PQ codes on every run; at 100 TB an embedding store
  * is indexed ONCE and every query is a pruned read of the index, never
  * a corpus pass.
  *
  * Layout (all parquet under `indexDir`):
  *
  *   centroids/              (cell INT, centroid ARRAY<FLOAT>) — nlist rows
  *   lists/cell=<0..15>/     (vec_id, embedding, norm) — the IVF inverted
  *                           lists: the corpus, hive-partitioned by its
  *                           nearest-centroid cell, vec_id-sorted in-file
  *   codes/cell=<0..15>/     (vec_id, codes ARRAY<INT>) — 8x4-bit PQ
  *                           codes per vector, same cell partitioning
  *   codebook/               (sub INT, cid INT, cv ARRAY<FLOAT>) — the PQ
  *                           subspace codebook (nSub x nCent rows)
  *   _FINGERPRINT            freshness marker (source (len, mtime) + layout
  *                           version), written LAST
  *
  * Partition pruning is the scale story, exactly as the text index's
  * term-hash buckets: a query probes `nprobe` cells, so the candidate
  * scan reads nprobe/nlist of the lists (or codes) bytes — the plan's
  * PartitionFilters, pinned by VectorIndexSpec. Centroids are the one
  * bounded driver-side structure an IVF index legitimately keeps
  * (nlist x dim floats), collect()ed once per query and shipped to
  * executors inside the fused NearestCells / FloatDotProduct codegen
  * expressions.
  *
  * Faithfulness: the build runs the SAME deterministic clustering as the
  * in-query path (`Similarity.refinedCentroids` — seed = first nlist
  * vectors, one decimal-exact Lloyd refinement), floats and doubles
  * round-trip parquet bit-exactly, and the query-side arithmetic is the
  * identical codegen expression — so the stored path returns
  * bit-identical rows to `q_sim_topk_ivf` and shares its oracle.
  *
  * Freshness + concurrency follow TextIndexStore: `_FINGERPRINT` records
  * the source `embeddings.parquet` (len, mtime) and the layout version;
  * `ensure` rebuilds on mismatch; the build stages into a temp dir and
  * swaps into place with one FS rename so a concurrent reader sees a
  * complete old index or a complete new one, never a half-built tree.
  *
  * Reference telemetry scope (MantissaMr/fineventstream README.md:1-40)
  * has no vector search; this family is part of the NS training-data
  * extension surface.
  */
object VectorIndexStore {

  /** nlist: inverted-list cell count. 16 matches the in-query IVF queries
    * at test SF; at 100 TB nlist grows with the corpus (cells stay
    * task-sized) — it is a build parameter, not a code constant.
    */
  val NList = 16
  val NSub = 8
  val NCent = 16

  /** Bumped when the index LAYOUT changes; part of the fingerprint so an
    * old-layout index reads as stale instead of failing reads.
    */
  private val FormatVersion = 1

  /** `<root>/graft_vector_index/<sfDir>` (StoreLifecycle.defaultDir). */
  def defaultIndexDir(spark: SparkSession, sfDir: String): String =
    StoreLifecycle.defaultDir(spark, "graft_vector_index", sfDir)

  private def fingerprintOf(spark: SparkSession, sfDir: String): String =
    StoreLifecycle.marker(spark, FormatVersion, s"$sfDir/embeddings.parquet")

  /** An index vintage: the refined centroids and PQ codebook of the
    * non-null embeddings `emb` (the clustering the in-query path runs),
    * and the writes of its `centroids/` and `codebook/` tables, one file
    * each, into the directory each write is given.
    */
  private[sources] final class Vintage(spark: SparkSession, emb: DataFrame) {
    val cents = graft.ops.Similarity.refinedCentroids(spark, emb, NList)
    val cb = graft.ops.Similarity.pqCodebook(emb, NSub, NCent)
    def writes: Seq[String => Unit] = {
      import spark.implicits._
      val centDf = cents.toDF("cell", "centroid")
      val cbDf = cb.zipWithIndex.flatMap { case (sub, s) =>
        sub.zipWithIndex.map { case (cv, cid) => (s, cid, cv) }
      }.toDF("sub", "cid", "cv")
      Seq(dir => centDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids"),
        dir => cbDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook"))
    }
  }

  /** Build (or rebuild) the index: one clustering pass (the deterministic
    * k-means the in-query path runs), one assignment pass writing the
    * cell-partitioned lists and PQ codes. Paid once, amortized over every
    * query.
    */
  def build(spark: SparkSession, sfDir: String, indexDir: String): Unit = {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .filter(col("embedding").isNotNull)
    val v = new Vintage(spark, emb)

    // one pass computes the cell assignment; lists carry the vector and
    // its norm (so queries never recompute norms), codes carry only the
    // packed PQ codes — the compressed candidate representation
    val assigned = graft.ops.Similarity.withNorm(spark, emb)
      .withColumn("cell", VectorFunctions.nearestCells(col("embedding"), v.cents, 1)(0))
      .persist()
    val lists = assigned
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
      .transform(graft.Par.byKey(col("cell")))
      .sortWithinPartitions(col("vec_id"))
    val codes = assigned
      .select(col("vec_id"),
        VectorFunctions.pqCodes(col("embedding"), v.cb).as("codes"), col("cell"))
      .transform(graft.Par.byKey(col("cell")))
      .sortWithinPartitions(col("vec_id"))
    // four independent writes (one persisted relation, disjoint stage
    // paths) — overlapped by the lifecycle, marker written last
    try StoreLifecycle.build(spark, indexDir, fingerprintOf(spark, sfDir))(Seq[String => Unit](
      tmp => lists.write.partitionBy("cell").parquet(s"$tmp/lists"),
      tmp => codes.write.partitionBy("cell").parquet(s"$tmp/codes")) ++
      v.writes: _*)
    finally assigned.unpersist()
  }

  /** Build iff missing or stale (StoreLifecycle.ensure); returns the index dir. */
  def ensure(spark: SparkSession, sfDir: String,
      indexDir0: String = null): String = synchronized {
    val indexDir = Option(indexDir0).getOrElse(defaultIndexDir(spark, sfDir))
    StoreLifecycle.ensure(spark, indexDir, fingerprintOf(spark, sfDir))(
      build(spark, sfDir, indexDir))
  }

  /** Stored centroids, collect()ed — bounded at nlist x dim, cell-sorted
    * (NearestCells tie-breaks by cell id, so order is cosmetic).
    */
  def loadCentroids(spark: SparkSession, indexDir: String): Seq[(Int, Seq[Float])] =
    centroidsOf(graft.Tables.read(spark, s"$indexDir/centroids"))

  /** A `centroids/` table's (cell, centroid) rows, collect()ed. */
  private[sources] def centroidsOf(table: DataFrame): Seq[(Int, Seq[Float])] =
    table.collect().map(r => (r.getInt(0), r.getSeq[Float](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq

  /** The `nprobe` `cents` cells nearest each row's `embedding`. */
  private def probedCells(cents: Seq[(Int, Seq[Float])], nprobe: Int): Column =
    VectorFunctions.nearestCells(col("embedding"), cents, nprobe)

  /** One probe of the inverted lists, shared by every vector query over
    * a store or its incremental twin: each `probes` row (vec_id,
    * embedding, norm) explodes to its `nprobe` nearest cells as
    * (`probeId`, a_emb, a_norm, cell), and each (probe, candidate) pair
    * of a shared cell gets its `cosine` (the in-query path's fused
    * dot-product codegen). ONE bounded job (<= nlist rows back) yields
    * the probed cells, the literal IN list that makes the
    * `candidates(cells)` scan prune its `cell` partitions at planning,
    * and the exploded probe-row count that decides the join: at or under
    * `broadcastRows` the probe side is broadcast; above, the join is left
    * un-hinted on `cell` (a fat probe side — ~300 B a row — broadcast to
    * every executor would pin GBs; AQE picks shuffle-hash, or broadcast
    * again if runtime stats say the side is small after all).
    */
  private def probePairs(spark: SparkSession, cents: Seq[(Int, Seq[Float])],
      probes: DataFrame, probeId: String, nprobe: Int, broadcastRows: Long)(
      candidates: Seq[Long] => DataFrame): DataFrame = {
    val q = probes
      .select(col("vec_id").as(probeId), col("embedding").as("a_emb"),
        col("norm").as("a_norm"),
        explode(probedCells(cents, nprobe)).as("cell"))
    val cellCounts = q.groupBy(col("cell")).agg(count(lit(1)).as("cn"))
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1)))
    val probeSide = if (cellCounts.map(_._2).sum <= broadcastRows) broadcast(q) else q
    probeSide.join(candidates(cellCounts.map(_._1).sorted), Seq("cell"))
      .withColumn("cosine", VectorFunctions.cosine(spark))
  }

  /** The `k` best-scored candidates of each query: scored (q_id, n_id,
    * cosine) rows ranked by cosine, ties to the lower n_id, as (q_id,
    * rank bigint, n_id, cosine) — the tail of every vector top-k, stored
    * and in-query.
    */
  private[graft] def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"), col("cosine"))

  /** Each scored train vector's best eval match at or above `minCos`:
    * the argmax is an AGGREGATE (`max(struct(cosine, -eval_id))`, ties to
    * the lower eval id), so partial aggregation shuffles at most one row
    * per train vector per partition, never the train x eval expansion.
    */
  private[graft] def bestEval(scored: DataFrame, minCos: Double): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_eval"))).as("best"))
      .filter(col("best.cosine") >= minCos)
      .select(col("vec_id"), (-col("best.neg_eval")).as("best_eval_id"),
        col("best.cosine").as("best_cosine"))
      .orderBy(col("vec_id"))

  /** IVF top-k over the STORED index: probe each query's `nprobe` nearest
    * cells, scan ONLY those cells' inverted lists (hive partition pruning
    * on `cell` — the plan's PartitionFilters), exact-rerank with the same
    * fused dot-product codegen as the in-query path. The corpus file is
    * never touched: query vectors and candidates both come from the
    * index. Bit-identical to `Similarity.ivfTopK` (shared oracle).
    */
  def ivfTopK(spark: SparkSession, indexDir: String, nQueries: Int, k: Int,
      nprobe: Int = 4): DataFrame =
    ivfTopKOver(spark, loadCentroids(spark, indexDir),
      graft.Tables.read(spark, s"$indexDir/lists"), nQueries, k, nprobe)

  /** [[ivfTopK]] over the given centroids and inverted lists, however
    * they are stored (the batch layout or an incremental twin's layers).
    */
  private[sources] def ivfTopKOver(spark: SparkSession, cents: Seq[(Int, Seq[Float])],
      lists: DataFrame, nQueries: Int, k: Int, nprobe: Int): DataFrame =
    topK(probePairs(spark, cents, lists.filter(col("vec_id") < nQueries), "q_id", nprobe,
        broadcastRows = Long.MaxValue) { probed =>
        lists.filter(col("cell").isin(probed: _*))
          .select(col("vec_id").as("n_id"), col("embedding").as("b_emb"),
            col("norm").as("b_norm"), col("cell"))
      }
      .filter(col("q_id") =!= col("n_id")), k)

  /** FAT-EVAL-SET semantic decontamination over the STORED index — the
    * scale form of `ops.Similarity.semanticDecontaminate` (same
    * flag/argmax semantics, same eval split convention vec_id % 97 == 0):
    * every eval probe reads its vector and its `nprobe` nearest cells
    * from the index; candidates are a cell-PRUNED scan of the inverted
    * lists restricted to train vectors — the corpus file is never
    * touched, and an eval suite too fat to broadcast against every
    * corpus partition only meets the cells it probes. Each train vector
    * lives in exactly ONE cell, so a (train, eval) pair is scored at most
    * once; at nprobe = nlist every cell is probed and the pair coverage
    * is provably complete — the EXACT REGIME the declared row runs in,
    * sharing the brute-force oracle. The argmax is the same AGGREGATE
    * (max(struct(cosine, -eval_id)), ties to the lower eval id) as the
    * in-query form: partial aggregation means the shuffle carries at most
    * one row per train vector per partition, never the train×eval
    * expansion. Zero-norm vectors are excluded on both legs (cosine
    * against a zero vector is NaN).
    *
    * The join strategy is size-conditional, never forced
    * (`broadcastEvalRows`, see [[probePairs]]): the 10⁵–10⁶-vector eval
    * suites this row exists for are too fat to broadcast. Same results
    * either way — VectorIndexSpec pins row equality across the seam and
    * the un-hinted fat-regime plan shape.
    */
  def semanticDecontaminate(spark: SparkSession, indexDir: String,
      minCos: Double, nprobe: Int = 4,
      broadcastEvalRows: Long = 100000L): DataFrame = {
    val lists = graft.Tables.read(spark, s"$indexDir/lists")
      .filter(col("norm") > 0)
    bestEval(probePairs(spark, loadCentroids(spark, indexDir),
        lists.filter(col("vec_id") % 97 === 0), "eval_id", nprobe, broadcastEvalRows) { probed =>
        lists.filter(col("vec_id") % 97 =!= 0 && col("cell").isin(probed: _*))
          .select(col("vec_id"), col("embedding").as("b_emb"),
            col("norm").as("b_norm"), col("cell"))
      }, minCos)
  }

  /** Margin-based bitext mining over the STORED index — the
    * index-once-mine-many form of [[graft.ops.Similarity.bitextMine]]:
    * both pools read vectors, norms and cell assignments from the
    * persisted lists (nothing recomputed); the src side probes its
    * `nprobe` nearest cells, the tgt side is a literal-IN
    * partition-pruned scan of its STORED cells, and the margin /
    * mutual-argmax tail is shared verbatim
    * ([[graft.ops.Similarity.mineFromScored]]). Declared at the exact
    * regime (nprobe = NList — every pair scored once, coverage
    * provably complete) so the row shares the brute oracle verbatim.
    * The probe-side broadcast is size-conditional (`broadcastSrcRows`,
    * see [[probePairs]]).
    */
  def bitextMine(spark: SparkSession, indexDir: String, k: Int = 4,
      minMargin: Double = 1.05, nprobe: Int = NList,
      broadcastSrcRows: Long = 100000L): DataFrame = {
    val lists = graft.Tables.read(spark, s"$indexDir/lists")
      .filter(col("norm") > 0)
    val scored = probePairs(spark, loadCentroids(spark, indexDir),
        lists.filter(col("vec_id") % 2 === 0), "src_id", nprobe, broadcastSrcRows) { probed =>
        lists.filter(col("vec_id") % 2 =!= 0 && col("cell").isin(probed: _*))
          .select(col("vec_id").as("tgt_id"), col("embedding").as("b_emb"),
            col("norm").as("b_norm"), col("cell"))
      }
      .select(col("src_id"), col("tgt_id"), col("cosine"))
    graft.ops.Similarity.mineFromScored(scored, k, minMargin)
  }

  /** IVF-PQ top-k over the STORED index: candidates come from the
    * cell-pruned `codes` table (≈9 bytes/vector — the compressed shuffle
    * the in-query path documents), ADC-scored against a broadcast lookup
    * table built from the stored codebook, then the top k x rerank pool
    * exact-reranks against the pruned `lists`. The same PQ stage as
    * `Similarity.ivfPqTopK` ([[pqApprox]], [[pqPool]], [[exactRerank]];
    * equality pinned by VectorIndexSpec).
    */
  def ivfPqTopK(spark: SparkSession, indexDir: String, nQueries: Int, k: Int,
      nprobe: Int = 4, rerank: Int = 4): DataFrame = {
    val cents = loadCentroids(spark, indexDir)
    val lists = graft.Tables.read(spark, s"$indexDir/lists")
    val q = lists.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"),
        probedCells(cents, nprobe).as("cells"))
    val probed = q.select(explode(col("cells")).as("cell")).distinct()
      .collect().map(_.getInt(0).toLong).sorted
    val approx = pqApprox(spark, q, broadcast(graft.Tables.read(spark, s"$indexDir/codebook")),
      64 / NSub, graft.Tables.read(spark, s"$indexDir/codes").filter(col("cell").isin(probed: _*)),
      col("vec_id").as("n_id"))
    val rer = lists.filter(col("cell").isin(probed: _*))
      .select(col("vec_id").as("n_id"), col("embedding").as("b_emb"),
        col("norm").as("b_norm"))
    topK(exactRerank(spark, pqPool(approx, k * rerank).select(col("q_id"), col("n_id")), q, rer), k)
  }

  /** The ADC stage of an IVF-PQ query, stored or in-query: a lookup table
    * of dot(query subvector, codebook centroid) per (q_id, sub, cid)
    * (`codebook` rows (sub, cid, cv), each `subDim` floats), joined
    * against the exploded codes of every candidate in a probed cell, and
    * summed per (q_id, n_id) as `approx_dot`. `q` is (q_id, q_emb, cells);
    * `codes` carries (cell, codes) and the candidate id `nId` names.
    * Partial dots are decimal-rounded before the sum, so the approximate
    * ranking is replay-deterministic.
    */
  private[graft] def pqApprox(spark: SparkSession, q: DataFrame, codebook: DataFrame,
      subDim: Int, codes: DataFrame, nId: Column): DataFrame = {
    val lut = q.select(col("q_id"), col("q_emb")).crossJoin(codebook)
      .withColumn("pdot",
        VectorFunctions.floatDot(spark,
          slice(col("q_emb"), col("sub") * subDim + 1, lit(subDim)), col("cv"))
          .cast(DecimalType(24, 9)))
      .select(col("q_id"), col("sub"), col("cid"), col("pdot"))
    broadcast(q.select(col("q_id"), explode(col("cells")).as("cell"))).join(codes, Seq("cell"))
      .select(col("q_id"), nId, posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(lut), Seq("q_id", "sub", "cid"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("pdot")).as("approx_dot"))
      .filter(col("q_id") =!= col("n_id"))
  }

  /** The re-rank pool: each query's `n` best ADC candidates, with their
    * approximate rank `arn`.
    */
  private[graft] def pqPool(approx: DataFrame, n: Int): DataFrame =
    approx.withColumn("arn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("approx_dot").desc, col("n_id"))))
      .filter(col("arn") <= n)

  /** The exact cosine of each pooled (q_id, n_id): the (small) pool
    * broadcasts against the candidate `vectors` (n_id, b_emb, b_norm),
    * and the queries `q` (q_id, q_emb, q_norm) broadcast onto it.
    */
  private[graft] def exactRerank(spark: SparkSession, pool: DataFrame, q: DataFrame,
      vectors: DataFrame): DataFrame =
    broadcast(pool)
      .join(vectors, Seq("n_id"))
      .join(broadcast(q.select(col("q_id"), col("q_emb").as("a_emb"),
        col("q_norm").as("a_norm"))), Seq("q_id"))
      .withColumn("cosine", VectorFunctions.cosine(spark))
}
