package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Streaming-maintained ANN index — the MAINTENANCE half of the stored
  * vector-index story, completing the four-quadrant symmetry: batch text
  * ([[TextIndexStore]]), incremental text ([[IncrementalTextIndex]]),
  * batch vector ([[VectorIndexStore]]), incremental vector (this).
  * Embedding stores are append-heavy at 100 TB — new documents embed
  * continuously, and re-clustering the corpus per batch would be a
  * corpus pass per micro-batch.
  *
  * The index VINTAGE is its centroid set (and PQ codebook), FROZEN at
  * `baseBuild` — standard IVF practice: appends assign new vectors to
  * the existing cells; the cells drift from optimal as the distribution
  * shifts, and a periodic re-cluster (a new base build) is the
  * re-balancing event, exactly like a search engine's segment rebuild.
  * Queries are therefore comparable across appends: same centroids,
  * same probe order, results as if the whole corpus had been indexed in
  * one shot (pinned by IncrementalVectorIndexSpec).
  *
  * Layout (parquet under `indexDir`):
  *
  *   centroids/                        frozen at base build
  *   codebook/                         frozen at base build
  *   lists/cell=<N>/__batch_id=<M>/    (vec_id, embedding, norm)
  *   codes/cell=<N>/__batch_id=<M>/    (vec_id, codes)
  *
  * Every append writes ONLY its own `__batch_id` partitions (dynamic
  * partition overwrite, per-writer option), so a crash-replayed batch
  * overwrites itself with the same bytes and the index CONVERGES —
  * the IncrementalTextIndex discipline. The read side is the batch
  * store's own query core over `lists/` with the batch dimension folded
  * in by the scan (hive partition discovery walks both levels, cell then
  * __batch_id), every table read with the writer's schema so no read
  * infers one; read cost grows with batch count until [[compactTo]]
  * folds the deltas into the batch [[VectorIndexStore]] layout — whose
  * query path then serves the stream-built index verbatim.
  */
object IncrementalVectorIndex {

  // the writer's schema of each table: a read with it infers nothing
  private val Schemas = Map(
    "centroids" -> "cell INT, centroid ARRAY<FLOAT>",
    "codebook" -> "sub INT, cid INT, cv ARRAY<FLOAT>",
    "lists" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, norm DOUBLE, cell INT, __batch_id BIGINT",
    "codes" -> "vec_id BIGINT, codes ARRAY<INT>, cell INT, __batch_id BIGINT")

  private def table(spark: SparkSession, indexDir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$indexDir/$name")

  private def loadCentroids(spark: SparkSession, indexDir: String): Seq[(Int, Seq[Float])] =
    VectorIndexStore.centroidsOf(table(spark, indexDir, "centroids"))

  /** Freeze the vintage: centroids + PQ codebook from the base corpus,
    * then index the base corpus itself as batch 0.
    */
  def baseBuild(spark: SparkSession, base: DataFrame, indexDir: String): Unit = {
    val emb = base.filter(col("embedding").isNotNull)
    new VectorIndexStore.Vintage(spark, emb).writes.foreach(_(indexDir))
    appendBatch(spark, emb, 0L, indexDir)
  }

  private def loadCodebook(spark: SparkSession, indexDir: String): Seq[Seq[Seq[Float]]] = {
    val rows = table(spark, indexDir, "codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toIndexedSeq))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)
  }

  /** Index one embedding batch against the FROZEN vintage: assign to the
    * existing cells, write this batch's own lists/codes partitions.
    * Idempotent per (batchId, batch) — a replay converges.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String): Unit = {
    val cents = loadCentroids(spark, indexDir)
    val cb = loadCodebook(spark, indexDir)
    val assigned = graft.ops.Similarity.withNorm(spark,
        batch.filter(col("embedding").isNotNull))
      .withColumn("cell", VectorFunctions.nearestCells(col("embedding"), cents, 1)(0))
      .withColumn("__batch_id", lit(batchId))
      .persist()
    // two independent writes over the one persisted batch relation, to
    // disjoint paths — overlapped
    StoreLifecycle.appendLayer(spark, indexDir)(
      () => StoreLifecycle.replacePartitions(assigned
          .select(col("vec_id"), col("embedding"), col("norm"), col("cell"),
            col("__batch_id"))
          .transform(graft.Par.byKey(col("cell")))
          .sortWithinPartitions(col("vec_id")),
        s"$indexDir/lists", "cell", "__batch_id"),
      () => StoreLifecycle.replacePartitions(assigned
          .select(col("vec_id"),
            VectorFunctions.pqCodes(col("embedding"), cb).as("codes"), col("cell"),
            col("__batch_id"))
          .transform(graft.Par.byKey(col("cell")))
          .sortWithinPartitions(col("vec_id")),
        s"$indexDir/codes", "cell", "__batch_id"))
    assigned.unpersist()
    ()
  }

  /** IVF top-k over the maintained index: the batch store's core
    * ([[VectorIndexStore.ivfTopK]]) over the layered lists — the batch
    * dimension is folded in by partition discovery, so on the same
    * vintage + corpus the two index forms return identical rows
    * (spec-pinned). Cell pruning still bites: `cell=` is the outer
    * partition level.
    */
  def ivfTopK(spark: SparkSession, indexDir: String, nQueries: Int, k: Int,
      nprobe: Int = 4): DataFrame =
    VectorIndexStore.ivfTopKOver(spark, loadCentroids(spark, indexDir),
      table(spark, indexDir, "lists"), nQueries, k, nprobe)

  /** Fold the per-batch partitions into the batch [[VectorIndexStore]]
    * layout (no batch dimension), copying the frozen centroids/codebook —
    * after which `VectorIndexStore.ivfTopK`/`ivfPqTopK` serve the
    * stream-built index verbatim (spec-pinned identical). Same
    * staged build and swap as the other stores. The fingerprint marks
    * the store stream-built: `ensure` against a corpus file would
    * correctly treat it as a different vintage.
    */
  def compactTo(spark: SparkSession, indexDir: String, storeDir: String): Unit = {
    val lists = table(spark, indexDir, "lists")
      .select(col("vec_id"), col("embedding"), col("norm"), col("cell"))
      .transform(graft.Par.byKey(col("cell")))
      .sortWithinPartitions(col("vec_id"))
    val codes = table(spark, indexDir, "codes")
      .select(col("vec_id"), col("codes"), col("cell"))
      .transform(graft.Par.byKey(col("cell")))
      .sortWithinPartitions(col("vec_id"))
    val cents = table(spark, indexDir, "centroids")
    val cb = table(spark, indexDir, "codebook")
    StoreLifecycle.build(spark, storeDir, s"stream-compacted|$indexDir")(
      tmp => lists.write.partitionBy("cell").parquet(s"$tmp/lists"),
      tmp => codes.write.partitionBy("cell").parquet(s"$tmp/codes"),
      tmp => cents.coalesce(1).write.parquet(s"$tmp/centroids"),
      tmp => cb.coalesce(1).write.parquet(s"$tmp/codebook"))
  }

  /** Wire a (vec_id, embedding) stream into continuous index
    * maintenance against a frozen vintage — the lake job: each
    * micro-batch lands as its own partitions, and the index is
    * queryable between batches.
    */
  def start(embeddings: DataFrame, indexDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(embeddings, checkpoint) { (batch, id) =>
      // batch ids from the stream start at 0, which baseBuild used for
      // the base corpus — offset so appends never collide with it
      appendBatch(batch.sparkSession, batch, id + 1L, indexDir)
    }
}
