package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming-maintained index's contract:
  *
  *  1. after N appended batches, BM25 over the incremental index equals
  *     BM25 over a batch-rebuilt TextIndexStore on the SAME union corpus
  *     — merge-on-read loses nothing;
  *  2. a crash-replayed batch converges (per-batch partition overwrite,
  *     no df double-count — the failure mode a maintained-in-place df
  *     would have);
  *  3. the read path partition-prunes on the query terms' buckets;
  *  4. the streaming job wires end-to-end and the index is queryable
  *     after each micro-batch.
  */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val qterms = Seq("hash", "join", "vector")

  private def tmp(): String =
    Scratch.tempDir("graft_incr_index")

  /** Split the sf0.001 documents into two halves by doc_id parity. */
  private def halves() = {
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    (docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0))
  }

  test("incremental index over 2 batches == batch rebuild over the union") {
    val dir = tmp()
    val (b0, b1) = halves()
    IncrementalTextIndex.appendBatch(spark, b0, 0L, s"$dir/idx")
    IncrementalTextIndex.appendBatch(spark, b1, 1L, s"$dir/idx")
    val incr = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // reference: the batch-built store over the full corpus
    val full = TextIndexStore.ensure(spark, sf0001)
    val batch = TextIndexStore.bm25(spark, full, qterms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(incr == batch, s"incr=$incr\nbatch=$batch")
  }

  test("replaying a batch converges: same scores, no df double-count") {
    val dir = tmp()
    val (b0, b1) = halves()
    IncrementalTextIndex.appendBatch(spark, b0, 0L, s"$dir/idx")
    IncrementalTextIndex.appendBatch(spark, b1, 1L, s"$dir/idx")
    val before = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .collect().map(_.toString).toSeq
    // the crash-replay: batch 1 again, same id, same data
    IncrementalTextIndex.appendBatch(spark, b1, 1L, s"$dir/idx")
    val after = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .collect().map(_.toString).toSeq
    assert(before == after, "replayed batch changed the index")
    // and the stats tables did not double: one corpusstats row per batch
    assert(spark.read.parquet(s"$dir/idx/corpusstats").count() == 2)
  }

  test("read path partition-prunes postings and termdelta on the query buckets") {
    val dir = tmp()
    val (b0, _) = halves()
    IncrementalTextIndex.appendBatch(spark, b0, 0L, s"$dir/idx")
    val plan = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter:\n$plan")
    assert(!plan.contains("documents.parquet"),
      "incremental read path must never touch the corpus")
  }

  test("compaction folds deltas into the batch layout served by the stored-index read path") {
    val dir = tmp()
    val (b0, b1) = halves()
    IncrementalTextIndex.appendBatch(spark, b0, 0L, s"$dir/idx")
    IncrementalTextIndex.appendBatch(spark, b1, 1L, s"$dir/idx")
    IncrementalTextIndex.compactTo(spark, s"$dir/idx", s"$dir/store")
    // the compacted store is read by TextIndexStore.bm25 — the exact
    // q_bm25_stored read path — and scores bit-identically to both the
    // merge-on-read form and a from-corpus batch rebuild
    val compacted = TextIndexStore.bm25(spark, s"$dir/store", qterms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val incr = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(compacted == incr, s"compacted=$compacted\nincr=$incr")
    val full = TextIndexStore.ensure(spark, sf0001)
    val batch = TextIndexStore.bm25(spark, full, qterms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(compacted == batch)
    // hybrid RRF reads n_terms and the _STATS sidecar too — the whole store layout is live
    val rrfStore = TextIndexStore.hybridRrf(spark, s"$dir/store", qterms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rrfBatch = TextIndexStore.hybridRrf(spark, full, qterms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rrfStore == rrfBatch)
  }

  test("streaming job maintains the index across micro-batches") {
    val dir = tmp()
    val in = MemoryStream[(Long, String)]
    val q = IncrementalTextIndex.start(
      in.toDF().toDF("doc_id", "text"), s"$dir/idx", s"$dir/ckpt")
    in.addData((1L, "hash join hash"), (2L, "vector scan"))
    q.processAllAvailable()
    val afterB0 = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .count()
    assert(afterB0 == 2, s"both docs must score after batch 0: $afterB0")
    in.addData((3L, "hash vector join"))
    q.processAllAvailable()
    q.stop()
    val docsScored = IncrementalTextIndex.bm25(spark, s"$dir/idx", qterms)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docsScored == Set(1L, 2L, 3L), s"$docsScored")
  }
}
