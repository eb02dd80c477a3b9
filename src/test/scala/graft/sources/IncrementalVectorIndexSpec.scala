package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming-maintained vector index's contract:
  *
  *  1. batch boundaries are invisible: appending the same vectors in 1
  *     or 2 batches onto the same frozen vintage yields identical query
  *     results (merge-on-read loses nothing);
  *  2. a crash-replayed batch converges (per-batch partition overwrite —
  *     no duplicated vectors, no changed results);
  *  3. compaction folds the deltas into the batch VectorIndexStore
  *     layout, whose query path then serves the stream-built index with
  *     identical results;
  *  4. the streaming job wires end-to-end and the index is queryable
  *     after each micro-batch.
  */
class IncrementalVectorIndexSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(): String =
    Scratch.tempDir("graft_incr_vec")

  private lazy val emb = graft.Tables.load(spark, sf0001, "embeddings")
    .filter(col("embedding").isNotNull)
    .select(col("vec_id"), col("embedding"))
  private lazy val even = emb.filter(col("vec_id") % 2 === 0)
  private lazy val odd = emb.filter(col("vec_id") % 2 =!= 0)

  private def topk(dir: String) =
    IncrementalVectorIndex.ivfTopK(spark, dir, nQueries = 20, k = 5)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("appending in 1 vs 2 batches on the same vintage is invisible to queries") {
    val (a, b) = (tmp() + "/idx", tmp() + "/idx")
    val median = odd.agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY vec_id) AS BIGINT)"))
      .collect().head.getLong(0)
    IncrementalVectorIndex.baseBuild(spark, even, a)
    IncrementalVectorIndex.appendBatch(spark, odd.filter(col("vec_id") <= median), 1L, a)
    IncrementalVectorIndex.appendBatch(spark, odd.filter(col("vec_id") > median), 2L, a)
    IncrementalVectorIndex.baseBuild(spark, even, b)
    IncrementalVectorIndex.appendBatch(spark, odd, 1L, b)
    assert(topk(a) == topk(b))
    assert(topk(a).nonEmpty)
  }

  test("replaying an append converges: same rows, same results") {
    val dir = tmp() + "/idx"
    IncrementalVectorIndex.baseBuild(spark, even, dir)
    IncrementalVectorIndex.appendBatch(spark, odd, 1L, dir)
    val before = topk(dir)
    val nBefore = spark.read.parquet(s"$dir/lists").count()
    IncrementalVectorIndex.appendBatch(spark, odd, 1L, dir) // crash replay
    assert(spark.read.parquet(s"$dir/lists").count() == nBefore,
      "replay must overwrite its own partitions, not append")
    assert(topk(dir) == before)
  }

  test("compaction folds into the VectorIndexStore layout with identical results") {
    val dir = tmp()
    IncrementalVectorIndex.baseBuild(spark, even, s"$dir/idx")
    IncrementalVectorIndex.appendBatch(spark, odd, 1L, s"$dir/idx")
    IncrementalVectorIndex.compactTo(spark, s"$dir/idx", s"$dir/store")
    val compacted = VectorIndexStore.ivfTopK(spark, s"$dir/store", nQueries = 20, k = 5)
      .orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(compacted == topk(s"$dir/idx"))
    // the PQ path runs off the compacted codes + frozen codebook
    val pq = VectorIndexStore.ivfPqTopK(spark, s"$dir/store", nQueries = 20, k = 5)
    assert(pq.groupBy("q_id").count().filter(col("count") =!= 5).count() == 0,
      "every query must answer with a full k from the compacted store")
  }

  test("streaming job maintains the index across micro-batches") {
    val dir = tmp()
    IncrementalVectorIndex.baseBuild(spark, even, s"$dir/idx")
    val oddRows = odd.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (h1, h2) = oddRows.splitAt(oddRows.length / 2)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = IncrementalVectorIndex.start(
      in.toDF().toDF("vec_id", "embedding"), s"$dir/idx", s"$dir/ckpt")
    in.addData(h1.toIndexedSeq)
    q.processAllAvailable()
    val mid = spark.read.parquet(s"$dir/idx/lists").count()
    assert(mid == even.count() + h1.length,
      s"index must be queryable mid-stream with batch-0 + first append: $mid")
    in.addData(h2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$dir/idx/lists").count() == emb.count())
    assert(topk(s"$dir/idx").nonEmpty)
  }
}
