package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The maintained-signature-store contract: per-batch appends are
  * replay-convergent, the union of batches probes identically to the
  * batch-built store, and compaction is match-set-neutral.
  */
class IncrementalSignatureStoreSpec extends SparkSpec {

  private val (bands, rows) = (16, 4)

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private def probes = docs.filter(col("doc_id") % 5 === 0)

  private def matchSet(dir: String): Set[(Long, Long, Double)] =
    IncrementalSignatureStore.nearDupMatches(spark, dir, probes,
        0.6, bands, rows, maxBucket = graft.ops.TextDedup.MaxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("two appended batches probe identically to the batch-built store") {
    val dir = Scratch.tempDir("sig_incr")
    IncrementalSignatureStore.appendBatch(spark,
      docs.filter(col("doc_id") % 2 === 0), 1L, dir, bands, rows)
    IncrementalSignatureStore.appendBatch(spark,
      docs.filter(col("doc_id") % 2 === 1), 2L, dir, bands, rows)
    val incr = matchSet(dir)
    val batchIdx = SignatureStore.ensure(spark, sf0001, bands, rows)
    val batch = SignatureStore.nearDupMatches(spark, batchIdx, probes,
        0.6, bands, rows, maxBucket = graft.ops.TextDedup.MaxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == batch,
      s"incr=${incr.size} batch=${batch.size}; " +
        s"missing=${(batch -- incr).take(3)} extra=${(incr -- batch).take(3)}")
    assert(incr.nonEmpty, "fixture must produce at least one match")

    // replay convergence: re-appending a batch rewrites its own
    // partitions with the same bytes — the match set cannot change
    IncrementalSignatureStore.appendBatch(spark,
      docs.filter(col("doc_id") % 2 === 1), 2L, dir, bands, rows)
    assert(matchSet(dir) == incr, "replayed batch changed the match set")

    // compaction folds COMMITTED layers into the reserved -1 layer and
    // keeps the newest batch layer unfolded (replay safety); matches are
    // byte-identical
    IncrementalSignatureStore.compact(spark, dir)
    assert(matchSet(dir) == incr, "compaction changed the match set")
    val layers = spark.read.parquet(s"$dir/arrays")
      .select(col("__batch_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(layers == Set(StoreLifecycle.CompactedLayer, 2L),
      s"expected folded layer + newest batch, found $layers")

    // the reason the newest layer stays unfolded: a crash-replay of the
    // LAST micro-batch after compaction must still converge
    IncrementalSignatureStore.appendBatch(spark,
      docs.filter(col("doc_id") % 2 === 1), 2L, dir, bands, rows)
    assert(matchSet(dir) == incr,
      "replay of the last batch after compaction changed the match set")
  }

  test("streaming job maintains the store across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Scratch.tempDir("sig_stream")
    val corpus = docs.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalSignatureStore.start(
      in.toDF().toDF("doc_id", "text"), s"$dir/idx", s"$dir/ckpt",
      bands, rows)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    assert(matchSet(s"$dir/idx").nonEmpty)
    // the stream-maintained store probes identically to the batch build
    val batchIdx = SignatureStore.ensure(spark, sf0001, bands, rows)
    val batch = SignatureStore.nearDupMatches(spark, batchIdx, probes,
        0.6, bands, rows, maxBucket = graft.ops.TextDedup.MaxBucketSize)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(matchSet(s"$dir/idx") == batch)
  }
}
