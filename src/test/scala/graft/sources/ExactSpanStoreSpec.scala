package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The stored window-hash index contract (sources.ExactSpanStore +
  * IncrementalExactSpanStore — the exact-substring cell of the
  * batch/incremental index grid):
  *
  *  1. spans computed from the STORE are bit-identical to the in-query
  *     repeatedSpansExact — the store changes where pass 1 lives, never
  *     which spans survive (the verify still decides on characters);
  *  2. the two-layer INCREMENTAL store returns the same spans —
  *     merge-on-read layering changes bytes-read, never spans, and
  *     cross-layer repeats are found;
  *  3. compact folds layers and is span-set-neutral;
  *  4. ensure is idempotent — a fresh store is not rebuilt;
  *  5. the store layout is hive-partitioned on bucket = pmod(h, 64).
  */
class ExactSpanStoreSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("doc_id"), col("span_start")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  private lazy val inQuery =
    rows(graft.ops.TextDedup.repeatedSpansExact(docs, 50, crossDocOnly = true))

  test("stored spans are bit-identical to the in-query exact pass") {
    val idx = ExactSpanStore.ensure(spark, sf0001, minLen = 50)
    val stored = rows(ExactSpanStore.spans(spark, idx, docs, 50))
    assert(inQuery.nonEmpty, "fixture must contain cross-doc repeats")
    assert(stored == inQuery)
  }

  test("two-layer incremental store returns the same spans (cross-layer repeats found)") {
    val idx = Scratch.tempDir("graft_spanstore_spec") + "/incr"
    IncrementalExactSpanStore.appendBatch(
      spark, docs.filter(col("doc_id") % 2 === 0), 0L, idx, minLen = 50)
    IncrementalExactSpanStore.appendBatch(
      spark, docs.filter(col("doc_id") % 2 =!= 0), 1L, idx, minLen = 50)
    val incr = rows(IncrementalExactSpanStore.spans(spark, idx, docs, 50))
    assert(incr == inQuery)
    // a replayed batch converges (idempotent dynamic overwrite)
    IncrementalExactSpanStore.appendBatch(
      spark, docs.filter(col("doc_id") % 2 =!= 0), 1L, idx, minLen = 50)
    assert(rows(IncrementalExactSpanStore.spans(spark, idx, docs, 50)) == inQuery)
    // compaction folds committed layers and is span-set-neutral
    IncrementalExactSpanStore.compact(spark, idx)
    val layers = spark.read.parquet(s"$idx/wins")
      .select(col("__batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(layers == Set(StoreLifecycle.CompactedLayer, 1L),
      s"expected folded layers, got $layers")
    assert(rows(IncrementalExactSpanStore.spans(spark, idx, docs, 50)) == inQuery)
  }

  test("byte-mode two-layer store equals the in-query byte pass on multi-byte text") {
    val multi = docs.withColumn("text",
      org.apache.spark.sql.functions.expr("replace(text, 'e', 'é')"))
      .select(col("doc_id"), col("text"))
    val idx = Scratch.tempDir("graft_spanstore_spec") + "/bincr"
    IncrementalExactSpanStore.appendBatch(
      spark, multi.filter(col("doc_id") % 2 === 0), 0L, idx, minLen = 50,
      bytes = true)
    IncrementalExactSpanStore.appendBatch(
      spark, multi.filter(col("doc_id") % 2 =!= 0), 1L, idx, minLen = 50,
      bytes = true)
    val stored = rows(IncrementalExactSpanStore.spans(spark, idx, multi, 50,
      bytes = true))
    val inQ = rows(graft.ops.TextDedup.repeatedSpansExactBytes(multi, 50,
      crossDocOnly = true))
    assert(inQ.nonEmpty && stored == inQ)
  }

  test("streaming job maintains the window-hash store across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Scratch.tempDir("span_stream")
    val corpus = docs.as[(Long, String)].collect().toSeq
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = IncrementalExactSpanStore.start(
      in.toDF().toDF("doc_id", "text"), s"$dir/idx", s"$dir/ckpt", minLen = 50)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // the stream-maintained store spans identically to the in-query pass
    assert(rows(IncrementalExactSpanStore.spans(spark, s"$dir/idx", docs, 50))
      == inQuery)
  }

  test("ensure is idempotent: a fresh store is not rebuilt") {
    val idx = ExactSpanStore.ensure(spark, sf0001, minLen = 50)
    val fp = new java.io.File(s"$idx/_FINGERPRINT")
    assert(fp.exists)
    val before = fp.lastModified()
    ExactSpanStore.ensure(spark, sf0001, minLen = 50)
    assert(fp.lastModified() == before, "fresh store must not rebuild")
  }

  test("store layout is hive-partitioned on bucket") {
    val idx = ExactSpanStore.ensure(spark, sf0001, minLen = 50)
    val buckets = new java.io.File(s"$idx/wins").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(buckets.nonEmpty && buckets.forall(_.matches("bucket=\\d+")))
    // bucket column is pmod(h, 64) of the stored hash
    val bad = spark.read.parquet(s"$idx/wins")
      .filter(pmod(col("h"), lit(64L)) =!= col("bucket").cast("long")).count()
    assert(bad == 0L)
  }
}
