package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** How the stores are read:
  *
  *  1. each batch-built store's `_FINGERPRINT` marker keeps its format,
  *     so a store an earlier build left behind is still judged fresh and
  *     is not rebuilt;
  *  2. each incremental twin's query reads its layers with the writer's
  *     schema, so a two-layer twin answers without a schema-inference
  *     job, whether the query is built or run.
  */
class StoreReadSpec extends SparkSpec {

  // read once, before any counted window
  private lazy val docs = graft.Tables.load(spark, sf0001, "documents")
    .select("doc_id", "text")
  private def half(df: DataFrame, key: String, i: Int) = df.filter(col(key) % 2 === i)

  private def markerOf(dir: String): String =
    StoreLifecycle.readText(StoreLifecycle.fs(spark, dir), new Path(dir, "_FINGERPRINT")).get

  /** `<source path>|<len|mtime>` of one sf0.001 table. */
  private def source(table: String): String = {
    val p = s"$sf0001/$table.parquet"
    s"$p|${graft.Tables.fingerprint(spark, p)}"
  }

  test("every store writes its marker as v<version>|<params>|<source>|<len|mtime>") {
    val d = Scratch.tempDir("graft_markers")
    assert(markerOf(TextIndexStore.ensure(spark, sf0001, s"$d/text")) ==
      s"v3|${source("documents")}")
    assert(markerOf(VectorIndexStore.ensure(spark, sf0001, s"$d/vector")) ==
      s"v1|${source("embeddings")}")
    assert(markerOf(SignatureStore.ensure(spark, sf0001, 16, 4, s"$d/sig")) ==
      s"v1|16x4|${source("documents")}")
    assert(markerOf(ExactSpanStore.ensure(spark, sf0001, 50, s"$d/span")) ==
      s"v1|L50|${source("documents")}")
  }

  /** Two layers into a fresh twin, then `query` built and run. */
  private def twinQuery(prefix: String)(append: (Int, String) => Unit)(
      query: String => DataFrame): (Array[org.apache.spark.sql.Row], Int) = {
    val idx = Scratch.tempDir(prefix) + "/idx"
    (0 to 1).foreach(append(_, idx))
    inferenceJobsDuring(query(idx).collect())
  }

  private def assertNoInference(got: (Array[org.apache.spark.sql.Row], Int)): Unit = {
    val (rows, jobs) = got
    assert(rows.nonEmpty, "the query must answer")
    assert(jobs == 0, s"$jobs schema-inference jobs")
  }

  test("IncrementalTextIndex.bm25 on a two-layer twin infers no schema") {
    assertNoInference(twinQuery("graft_twin_text")((i, idx) =>
      IncrementalTextIndex.appendBatch(spark, half(docs, "doc_id", i), i.toLong, idx))(
      IncrementalTextIndex.bm25(spark, _, Seq("hash", "join", "vector"))))
  }

  test("IncrementalVectorIndex.ivfTopK on a two-layer twin infers no schema") {
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
      .filter(col("embedding").isNotNull).select("vec_id", "embedding")
    assertNoInference(twinQuery("graft_twin_vector")((i, idx) =>
      if (i == 0) IncrementalVectorIndex.baseBuild(spark, half(emb, "vec_id", 0), idx)
      else IncrementalVectorIndex.appendBatch(spark, half(emb, "vec_id", 1), 1L, idx))(
      IncrementalVectorIndex.ivfTopK(spark, _, nQueries = 20, k = 5)))
  }

  test("IncrementalSignatureStore.nearDupMatches on a two-layer twin infers no schema") {
    val probes = docs.filter(col("doc_id") % 5 === 0)
    assertNoInference(twinQuery("graft_twin_sig")((i, idx) =>
      IncrementalSignatureStore.appendBatch(spark, half(docs, "doc_id", i), i.toLong, idx,
        16, 4))(
      IncrementalSignatureStore.nearDupMatches(spark, _, probes, 0.6, 16, 4)))
  }

  test("IncrementalExactSpanStore.spans on a two-layer twin infers no schema") {
    assertNoInference(twinQuery("graft_twin_span")((i, idx) =>
      IncrementalExactSpanStore.appendBatch(spark, half(docs, "doc_id", i), i.toLong, idx,
        50))(
      IncrementalExactSpanStore.spans(spark, _, docs, 50)))
  }
}
