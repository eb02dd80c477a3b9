package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PACKED-TRAINING-SHARD WRITER — the final hand-off artifact of the
  * whole pipeline (ingest → curate → dedup → tokenize → pack → SHIP):
  * documents become fixed-budget token-id sequences (the Megatron-style
  * training shard shape: every sequence holds exactly `budget` token ids
  * except the final partial one), materialized as parquet partitioned by
  * shard (`seqsPerShard` consecutive sequences per shard directory).
  *
  * Reference cites: the reference ships its lake artifacts as
  * hive-partitioned batches (processor_stock_quotes.py:68-73); this is
  * the same partitioned-sink discipline applied to the training-token
  * hand-off. Token ids use the functions.BpeVocab scheme, so the DuckDB
  * oracle of q_pack_shards replays ids arithmetically.
  *
  * Scale shape: token ids are computed in ONE codegen pass per document
  * (functions.BpeEncodeIds); global offsets come from the same two-phase
  * prefix sum as ops.TextOps.tokenShards (per-chunk totals → prefix sum
  * over the FEW chunk rows → within-chunk window), so no global
  * single-partition scan of documents ever happens. Each document then
  * explodes into its (usually 1-2) overlapping sequences carrying the
  * SLICE of its id array — token arrays shuffle once, grouped by
  * sequence, never one row per token — and each sequence reassembles its
  * contributions by document offset. A 100 TB corpus streams through at
  * input bandwidth with one grouped shuffle of exactly the output bytes.
  */
object PackedShards {

  val DefaultBudget = 256L
  val DefaultSeqsPerShard = 8L

  /** The writers' default id column when no `idsExpr` override is
    * given: `exact = true` selects the ROUND-TRIP tokenizer
    * (functions.BpeCodec.encodeDocExact — shards become byte-lossless,
    * detokenizable artifacts), else `fullCharset` selects the
    * byte-fallback budget tokenizer, else the letters-only fixture
    * convention. Same ids, same oracle arithmetic — the modes differ
    * only in pre-tokenization.
    */
  private def defaultIds(codecId: String, fullCharset: Boolean,
      exact: Boolean): org.apache.spark.sql.Column =
    if (exact) graft.functions.BpeEncodeIds.bpeIdsExact(col("text"), codecId)
    else graft.functions.BpeEncodeIds.bpeIds(col("text"), codecId, fullCharset)
  private val DocsPerChunk = 1024L
  private[graft] val ChunksPerSuper = 1024L

  /** (chunk, chunk_off): exclusive prefix sum over per-chunk token
    * totals (`chunk`, `cs`), computed in TWO window levels so no single
    * task ever scans the whole chunk spine: per-superchunk totals get
    * the (single-task, but ≤ corpus/(docsPerChunk·chunksPerSuper) rows)
    * global prefix sum, then chunks prefix-sum WITHIN their superchunk,
    * partitioned and parallel. Level arithmetic at the design point:
    * 10^11 docs / 1024 docs-per-chunk = ~10^8 chunk rows — a serial
    * window over those was the round-10 scale finding — / 1024
    * chunks-per-super = ~10^5 superchunk rows for the one serial stage,
    * and every within-super partition is ≤ 1024 rows. (For a planned
    * 100 TB batch pack, also raise docsPerChunk to ~10^6 so the
    * chunk-offset relation itself stays broadcastable.)
    */
  private[graft] def chunkOffsetSpine(chunkTotals: DataFrame,
      baseOffset: Long, chunksPerSuper: Long): DataFrame = {
    val withSuper = chunkTotals
      .withColumn("sc", expr(s"chunk div ${chunksPerSuper}L"))
    val wSuper = Window.orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOffsets = withSuper.groupBy(col("sc"))
      .agg(sum(col("cs")).as("ss"))
      .withColumn("sc_off", coalesce(sum(col("ss")).over(wSuper), lit(0L)))
      .select(col("sc"), col("sc_off"))
    val wIn = Window.partitionBy(col("sc")).orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withSuper.join(broadcast(superOffsets), Seq("sc"))
      .withColumn("chunk_off",
        col("sc_off") + coalesce(sum(col("cs")).over(wIn), lit(0L))
          + baseOffset)
      .select(col("chunk"), col("chunk_off"))
  }

  /** (doc_id, tids, n_tokens, offset): every non-empty document with its
    * token-id array and global starting token offset (doc_id order),
    * starting at `baseOffset`. The two-phase tokenShards prefix sum,
    * with the chunk-offset spine itself two-level ([[chunkOffsetSpine]]).
    */
  private[graft] def withOffsets(docs: DataFrame,
      idsCol: org.apache.spark.sql.Column,
      baseOffset: Long = 0L,
      docsPerChunk: Long = DocsPerChunk,
      chunksPerSuper: Long = ChunksPerSuper): DataFrame =
    offsetsFromEncoded(widenForEncode(docs)
      .select(col("doc_id"), idsCol.as("tids")),
      baseOffset, docsPerChunk, chunksPerSuper)

  /** Spread the ENCODE pass: the codec kernel (greedy merge loop per
    * document) is CPU-dense while the corpus file is a few MB at bench
    * SF, so the scan is 1-2 splits and the whole encode ran as ONE task
    * (profiled: 3 x 1.3 s single-task encode stages in
    * q_pack_shards_trained_full at 32 cores). The keyed repartition
    * carries raw text once and puts the encode AFTER the exchange;
    * sizedWiden is the identity once the corpus outgrows
    * advisory x width, where the scan is already parallel (guide §2.2:
    * per-row kernel cost is invisible to a byte heuristic).
    */
  private def widenForEncode(docs: DataFrame): DataFrame =
    graft.Par.sizedWiden(docs.sparkSession,
      graft.Par.planBytes(docs))(col("doc_id"))(docs)

  /** [[withOffsets]] over an ALREADY-ENCODED (doc_id, tids) relation —
    * the seam the session-shared encode cache ([[PackEncode]]) feeds, so
    * one encode pass can price several layouts. Same plan shape as
    * [[withOffsets]]: the docs form is exactly this over a one-pass
    * encode projection.
    */
  private[graft] def offsetsFromEncoded(encoded: DataFrame,
      baseOffset: Long = 0L,
      docsPerChunk: Long = DocsPerChunk,
      chunksPerSuper: Long = ChunksPerSuper): DataFrame = {
    val sized = encoded
      .withColumn("n_tokens", size(col("tids")).cast(LongType))
      .filter(col("n_tokens") > 0)
      .withColumn("chunk", floor(col("doc_id") / docsPerChunk))
      .persist() // chunk totals and the probe side both read it
    val chunkOffsets = chunkOffsetSpine(
      sized.groupBy(col("chunk")).agg(sum(col("n_tokens")).as("cs")),
      baseOffset, chunksPerSuper)
    val wIn = Window.partitionBy(col("chunk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = sized.join(broadcast(chunkOffsets), Seq("chunk"))
      .withColumn("offset",
        col("chunk_off") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("tids"), col("n_tokens"), col("offset"))
      .localCheckpoint()
    sized.unpersist()
    out
  }

  /** [[withOffsets]] in a DETERMINISTIC SHUFFLED order — the layout a
    * pre-training corpus needs: training sequences are fixed at pack
    * time, so document-order randomization must happen BEFORE packing,
    * and at 100 TB "shuffle the corpus" must not be a job — it's just a
    * different SORT KEY. The order is the ops.PipelineOps.epochShuffle
    * convention exactly (md5 of `seed:doc_id`; chunk = the first
    * `hexPrefix` hex chars, a prefix of the full-hash order, so
    * chunk-offset + in-chunk position is the global shuffled position
    * for ANY width — spec-pinned consistent with epochShuffle's
    * shuffle_pos AND invariant across widths, meaning the data-loader
    * sharding and the packed layout agree on one permutation and the
    * knob is pure parallelism). The in-chunk prefix-sum window (which
    * carries the full tids arrays) holds ~corpus/16^w rows per task:
    * the default w=4 (65,536 chunks) keeps that to ~1.5e6 rows at the
    * 10^11-doc design point, where w=2 would re-create a 4e8-row serial
    * stage; the chunk spine stays two-level (chunksPerSuper) so the
    * wider chunk relation never prefix-sums in one task either. A new
    * seed is a fresh epoch's layout with zero state.
    */
  private[graft] def shuffledOffsets(docs: DataFrame,
      idsCol: org.apache.spark.sql.Column, seed: String,
      chunksPerSuper: Long = ChunksPerSuper,
      hexPrefix: Int = 4): DataFrame =
    shuffledOffsetsFromEncoded(
      widenForEncode(docs).select(col("doc_id"), idsCol.as("tids")), seed,
      chunksPerSuper, hexPrefix)

  /** [[shuffledOffsets]] over an ALREADY-ENCODED (doc_id, tids) relation
    * (the [[PackEncode]] seam): the shuffled layout of a corpus whose
    * plain layout is already materialized derives from the cached tids —
    * a re-key + spine, no second encode pass.
    */
  private[graft] def shuffledOffsetsFromEncoded(encoded: DataFrame,
      seed: String,
      chunksPerSuper: Long = ChunksPerSuper,
      hexPrefix: Int = 4): DataFrame = {
    require(hexPrefix >= 1 && hexPrefix <= 6,
      s"hexPrefix must be 1..6, got $hexPrefix")
    val sized = encoded
      .withColumn("n_tokens", size(col("tids")).cast(LongType))
      .filter(col("n_tokens") > 0)
      .withColumn("h",
        md5(concat(lit(seed + ":"), col("doc_id").cast(StringType))))
      .withColumn("chunk",
        expr(s"conv(substring(h, 1, $hexPrefix), 16, 10)").cast(LongType))
      .persist()
    val chunkOffsets = chunkOffsetSpine(
      sized.groupBy(col("chunk")).agg(sum(col("n_tokens")).as("cs")),
      baseOffset = 0L, chunksPerSuper)
    val wIn = Window.partitionBy(col("chunk"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val out = sized.join(broadcast(chunkOffsets), Seq("chunk"))
      .withColumn("offset",
        col("chunk_off") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("tids"), col("n_tokens"), col("offset"))
      .localCheckpoint()
    sized.unpersist()
    out
  }

  /** [[writeBatch]] in the deterministic shuffled order of
    * [[shuffledOffsets]] — same artifact shape, same one-shuffle plan,
    * documents permuted by md5(seed:doc_id).
    */
  def writeBatchShuffled(spark: SparkSession, docs: DataFrame,
      outDir: String, seed: String,
      budget: Long = DefaultBudget,
      seqsPerShard: Long = DefaultSeqsPerShard,
      codecId: String = "fixture", fullCharset: Boolean = false,
      idsExpr: Option[org.apache.spark.sql.Column] = None,
      exact: Boolean = false,
      precomputedOffsets: Option[DataFrame] = None): DataFrame = {
    require(budget > 0 && seqsPerShard > 0)
    val offs = precomputedOffsets.getOrElse(
      shuffledOffsets(docs, idsExpr.getOrElse(
        defaultIds(codecId, fullCharset, exact)),
        seed))
    val rel = packedSharded(offs, budget, seqsPerShard)
    rel.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    readBack(spark, rel, outDir)
  }

  /** Read an artifact back with the WRITER'S schema instead of paying a
    * footer-inference job per read (guide §6: the writer knows the
    * schema; `spark.read.parquet` otherwise lists the shard dirs AND
    * runs a schema-inference job over a footer before the real scan).
    * The shard partition column reads back as the written LongType
    * rather than the discovery default int — callers already cast.
    */
  private def readBack(spark: SparkSession, written: DataFrame,
      outDir: String): DataFrame =
    spark.read.schema(written.schema).parquet(outDir)

  /** (seq, offset, chunk): each document's contribution rows — the slice
    * of its id array falling in each of its (usually 1-2) overlapping
    * sequences.
    */
  private def contributions(offs: DataFrame, budget: Long): DataFrame =
    offs
      .withColumn("seq", explode(sequence(
        expr(s"offset div ${budget}L"),
        expr(s"(offset + n_tokens - 1) div ${budget}L"))))
      .withColumn("cfrom",
        (greatest(col("seq") * budget - col("offset"), lit(0L)) + 1)
          .cast(IntegerType))
      .withColumn("clen",
        (least((col("seq") + 1) * budget, col("offset") + col("n_tokens"))
          - greatest(col("seq") * budget, col("offset"))).cast(IntegerType))
      // start of this doc's span WITHIN the sequence — the attention/
      // loss boundary metadata a trainer consumes alongside the ids
      .withColumn("sstart",
        (greatest(col("offset"), col("seq") * budget) - col("seq") * budget)
          .cast(IntegerType))
      .select(col("seq"), col("offset"), col("doc_id"), col("sstart"),
        slice(col("tids"), col("cfrom"), col("clen")).as("chunk"))

  private def assemble(grouped: org.apache.spark.sql.RelationalGroupedDataset)
      : DataFrame =
    grouped
      // offset leads the struct so array_sort orders contributions by
      // global document position — both the token stream and the span
      // map reassemble in that one order
      .agg(collect_list(struct(col("offset"), col("doc_id"), col("sstart"),
          col("chunk"))).as("cl"),
        count(lit(1)).as("n_docs"))
      .withColumn("tokens",
        expr("flatten(transform(array_sort(cl), x -> x.chunk))"))
      .withColumn("doc_spans",
        expr("""transform(array_sort(cl),
                 x -> struct(x.doc_id AS doc_id, x.sstart AS start,
                             size(x.chunk) AS len))"""))
      .drop("cl")
      .withColumn("n_tokens", size(col("tokens")).cast(LongType))

  /** (seq, tokens, doc_spans, n_tokens, n_docs): the packed sequences of
    * a doc-offset relation — each sequence reassembles its contributions
    * in offset order, with the per-doc (doc_id, start, len) span map.
    */
  private[graft] def packed(offs: DataFrame, budget: Long): DataFrame =
    assemble(contributions(offs, budget).groupBy(col("seq")))
      .select(col("seq"), col("tokens"), col("doc_spans"), col("n_tokens"),
        col("n_docs"))

  /** The shard-aware form writeBatch uses: repartition the CONTRIBUTION
    * rows by shard, then group by (shard, seq) — hash(shard) satisfies
    * the (shard, seq) clustering requirement, so the aggregation reuses
    * the partitioning and the whole pack runs on ONE shuffle (the
    * groupBy-then-repartition first cut paid two full shuffles of the
    * packed bytes), with every shard's rows co-located for the one-file
    * write.
    */
  private def packedSharded(offs: DataFrame, budget: Long,
      seqsPerShard: Long): DataFrame =
    assemble(
      contributions(offs, budget)
        .withColumn("shard", expr(s"seq div ${seqsPerShard}L"))
        .transform(graft.Par.byKey(col("shard")))
        .groupBy(col("shard"), col("seq")))
      .select(col("shard"), col("seq"), col("tokens"), col("doc_spans"),
        col("n_tokens"), col("n_docs"))

  /** Pack `docs` (doc_id, text) into fixed-budget token-id sequences and
    * write them to `outDir` partitioned by shard. Returns the written
    * relation. Overwrite mode: the writer is a deterministic function of
    * its input, so a re-run converges byte-for-byte.
    */
  def writeBatch(spark: SparkSession, docs: DataFrame, outDir: String,
      budget: Long = DefaultBudget,
      seqsPerShard: Long = DefaultSeqsPerShard,
      codecId: String = "fixture", fullCharset: Boolean = false,
      idsExpr: Option[org.apache.spark.sql.Column] = None,
      docsPerChunk: Long = DocsPerChunk,
      chunksPerSuper: Long = ChunksPerSuper,
      exact: Boolean = false,
      precomputedOffsets: Option[DataFrame] = None): DataFrame = {
    require(budget > 0 && seqsPerShard > 0)
    val offs = precomputedOffsets.getOrElse(
      withOffsets(docs, idsExpr.getOrElse(
        defaultIds(codecId, fullCharset, exact)),
        docsPerChunk = docsPerChunk, chunksPerSuper = chunksPerSuper))
    // packedSharded co-locates every shard's rows on its ONE shuffle, so
    // the partitioned write emits exactly one file per shard directory —
    // a contiguous, whole-file unit the trainer streams. (The first cut
    // wrote per-task files per shard — ~370 dirs × small files at sf0.1,
    // the classic small-file explosion, millions of tiny files at
    // 100 TB; the second cut fixed that with a SECOND full shuffle;
    // this shape needs neither.)
    val rel = packedSharded(offs, budget, seqsPerShard)
    rel.write.mode("overwrite").partitionBy("shard").parquet(outDir)
    readBack(spark, rel, outDir)
  }

  /** RESUMABLE batch pack — the operational form of [[writeBatch]] for
    * the 100 TB design point, where "overwrite-all, restart from zero"
    * is not deployable: a pack that dies at 90% must resume at the last
    * complete unit of work. The RollupMaintenance `__batch_id`
    * applied-marker discipline, applied to SHARD RANGES:
    *
    *  1. The offset relation (doc_id, tids, n_tokens, offset) is staged
    *     ONCE to `outDir/_offsets` (underscore-prefixed: invisible to
    *     the shard partition discovery), in doc_id ≈ offset order, with
    *     a `_offsets/_DONE` marker committed after the write. A crash
    *     mid-staging just re-stages — withOffsets is deterministic.
    *  2. Shards group into ranges of `shardsPerRange`; each range's
    *     documents are read back from the staged offsets with an
    *     OFFSET-INTERVAL filter, which parquet min/max row-group stats
    *     prune to ~the range's own rows (offsets are monotone in the
    *     staged order) — so resuming N-of-M ranges costs O(N/M of the
    *     corpus), not M extra full scans.
    *  3. A range writes its shard partitions (dynamic partition
    *     overwrite), THEN its `_ranges/r<id>.done` marker. Crash between
    *     the two → the range rewrites on resume, byte-identical
    *     (deterministic input → deterministic artifact); marker present
    *     → the range is skipped untouched.
    *
    * The resume contract is the standard one: all attempts run against
    * the SAME input relation (a changed corpus is a new pack in a new
    * outDir). `onRangeWritten` fires after each range's data write and
    * before its marker — the spec's kill-injection and skip-audit seam
    * (it runs on the submitting range's worker thread when ranges run
    * concurrently).
    *
    * Range GEOMETRY at scale: the commit unit should be sized from
    * data, not guessed — pass `targetRangeTokens` (e.g. ~2.5e10 tokens
    * ≈ 100 GB of int32 ids, a few minutes of cluster work lost on the
    * worst crash) and `shardsPerRange` is derived as
    * ceil(targetRangeTokens / (budget·seqsPerShard)). A 100 TB corpus
    * (~2.5e13 tokens) then packs as ~1,000 ranges. At that range count
    * a strictly serial driver loop wastes the cluster between small
    * jobs, so `maxConcurrentRanges` submits independent ranges from a
    * bounded pool: ranges write DISJOINT `shard=` partitions (each
    * write job stages under its own `.spark-staging-<uuid>`), markers
    * stay per-range, and a failure in any range fails the call after
    * the pool drains — every completed range keeps its marker, so the
    * resume semantics are unchanged (spec-pinned byte-identical).
    */
  def writeBatchResumable(spark: SparkSession, docs: DataFrame,
      outDir: String,
      budget: Long = DefaultBudget,
      seqsPerShard: Long = DefaultSeqsPerShard,
      shardsPerRange: Long = 64L,
      codecId: String = "fixture", fullCharset: Boolean = false,
      idsExpr: Option[org.apache.spark.sql.Column] = None,
      onRangeWritten: Long => Unit = _ => (),
      shuffleSeed: Option[String] = None,
      targetRangeTokens: Option[Long] = None,
      maxConcurrentRanges: Int = 1,
      exact: Boolean = false,
      precomputedOffsets: Option[DataFrame] = None): DataFrame = {
    require(budget > 0 && seqsPerShard > 0 && shardsPerRange > 0)
    require(maxConcurrentRanges >= 1,
      s"maxConcurrentRanges must be >= 1, got $maxConcurrentRanges")
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    def touch(p: String): Unit =
      fs.create(new org.apache.hadoop.fs.Path(p), true).close()

    val offsetsDir = s"$outDir/_offsets"
    if (!exists(s"$offsetsDir/_DONE")) {
      // with a shuffleSeed, the staged offsets carry the shuffled layout
      // (shuffledOffsets) — a restartable 100 TB SHUFFLED pack; offsets
      // remain contiguous per hash-bucket chunk, so the interval filter's
      // row-group pruning still holds
      precomputedOffsets.getOrElse {
        val ids = idsExpr.getOrElse(defaultIds(codecId, fullCharset, exact))
        if (shuffleSeed.isDefined) shuffledOffsets(docs, ids, shuffleSeed.get)
        else withOffsets(docs, ids)
      }
        // sortWithinPartitions keeps offset monotone per file so row-group
        // min/max stats carry the pruning
        .sortWithinPartitions(col("offset"))
        .write.mode("overwrite").parquet(offsetsDir)
      touch(s"$offsetsDir/_DONE")
    }
    // the staged schema is the withOffsets contract — naming it skips the
    // read-side footer-inference job (guide §6); nullable throughout so
    // required/optional parquet fields both bind
    val offs = spark.read.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("tids", ArrayType(IntegerType)),
        StructField("n_tokens", LongType),
        StructField("offset", LongType))))
      .parquet(offsetsDir)
    val totalRow = offs.agg(max(col("offset") + col("n_tokens"))).collect()(0)
    require(!totalRow.isNullAt(0),
      "writeBatchResumable: input has no non-empty documents")
    val totalTokens = totalRow.getLong(0)
    val tokensPerShard = budget * seqsPerShard
    val rangeShards = targetRangeTokens match {
      case Some(t) =>
        require(t > 0, s"targetRangeTokens must be > 0, got $t")
        math.max(1L, (t + tokensPerShard - 1) / tokensPerShard)
      case None => shardsPerRange
    }
    val tokensPerRange = tokensPerShard * rangeShards
    val nRanges = (totalTokens + tokensPerRange - 1) / tokensPerRange
    def writeRange(r: Long): Unit = {
      val lo = r * tokensPerRange
      val hi = (r + 1) * tokensPerRange
      // docs whose token interval intersects the range's — the
      // stats-prunable filter; the seq-range filter below then drops
      // the overlap sequences that belong to the neighbor ranges
      val slice = offs.filter(col("offset") + col("n_tokens") > lo &&
        col("offset") < hi)
      StoreLifecycle.replacePartitions(
        packedSharded(slice, budget, seqsPerShard)
          .filter(col("shard") >= r * rangeShards &&
            col("shard") < (r + 1) * rangeShards),
        outDir, "shard")
      onRangeWritten(r)
      touch(s"$outDir/_ranges/r$r.done")
    }
    val todo = (0L until nRanges).filterNot(r => exists(s"$outDir/_ranges/r$r.done"))
    if (maxConcurrentRanges == 1 || todo.size <= 1) todo.foreach(writeRange)
    else {
      // independent ranges: disjoint shard partitions, per-job staging
      // dirs — safe to run concurrently; failures propagate after all
      // submitted ranges settle so completed ranges keep their markers
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(maxConcurrentRanges, todo.size))
      try {
        val futs = todo.map { r =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = writeRange(r)
          })
        }
        val errs = futs.flatMap { f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(e.getCause)
          }
        }
        errs.headOption.foreach(throw _)
      } finally pool.shutdownNow()
    }
    // schema only — packedSharded is lazy, nothing executes here
    readBack(spark, packedSharded(offs, budget, seqsPerShard), outDir)
  }
}
