package graft.sources

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** The stored/incremental PASSAGE index — the RAG retrieval lake:
  * IncrementalTextIndex.appendBatch takes any (doc_id, text) relation,
  * so a passage store is just the chunk relation keyed by a packed
  * (doc, chunk) id. Because the store shares q_bm25's exact scoring tree
  * and the packed key preserves (doc_id, cidx) tie order, the stored
  * index's top-10 must equal the batch q_passage_search's top-10 to the
  * last bit — across a two-layer incremental build (merge-on-read df and
  * corpus stats sum across layers).
  */
class PassageIndexSpec extends SparkSpec {
  test("two-layer chunked index reproduces q_passage_search's top-10 exactly") {
    val dir = Scratch.tempDir("graft_passage_idx")
    val chunks = Tables.load(spark, sf001, "documents")
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.wordWindows(col("text"), 32, 16)))
      .toDF("d", "cidx", "text")
      .select((col("d") * 1000 + col("cidx")).as("doc_id"), col("text"))
    IncrementalTextIndex.appendBatch(spark,
      chunks.filter(col("doc_id") % 2 === 0), 0L, s"$dir/idx")
    IncrementalTextIndex.appendBatch(spark,
      chunks.filter(col("doc_id") % 2 =!= 0), 1L, s"$dir/idx")
    val stored = IncrementalTextIndex
      .bm25(spark, s"$dir/idx", Seq("sort", "stream", "data"), 10)
      .collect().map(r => (r.getLong(0) / 1000, r.getLong(0) % 1000, r.getDouble(1)))
    val batch = graft.SparkEntry.queries("q_passage_search")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.length == 10 && stored.toSeq == batch.toSeq,
      s"stored=${stored.toSeq} batch=${batch.toSeq}")
  }
}
