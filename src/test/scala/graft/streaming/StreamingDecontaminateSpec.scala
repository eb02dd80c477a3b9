package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** The batch-built-artifact → streaming-gate seam for eval-set
  * decontamination: a document gated at ingest must get EXACTLY the
  * verdict the batch q_decontaminate assigns it (same distinct-shingle
  * hashes, same max-over-eval-docs overlap), under any micro-batch
  * slicing — the gate is stateless, so slicing cannot matter, and this
  * spec pins that it actually doesn't.
  */
class StreamingDecontaminateSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streamed overlap bit-equals batch decontaminate; kill set matches; slicing-invariant") {
    val all = Tables.load(spark, sf001, "documents")
    val idx = StreamingDecontaminate.evalIndex(all.filter(col("doc_id") % 97 === 0))
    assert(idx.nonEmpty)

    // batch truth at floor 2 (the q_decontaminate gate row's parameters)
    val batch = graft.ops.PipelineOps
      .decontaminate(all, col("doc_id") % 97 === 0, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val docs = all.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text"), col("source"))
      .as[CurationIngestJob.IncomingDoc].collect().toSeq

    val in = MemoryStream[CurationIngestJob.IncomingDoc]
    val gated = StreamingDecontaminate(in.toDS(), idx, minOverlap = 2L)
    val q = gated.writeStream.format("memory").queryName("decon_gated")
      .outputMode("append").start()
    in.addData(docs.take(71): _*); q.processAllAvailable()
    in.addData(docs.slice(71, 320): _*); q.processAllAvailable()
    in.addData(docs.drop(320): _*); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("decon_gated")
      .as[StreamingDecontaminate.GatedDoc].collect()
    assert(streamed.length == docs.length, "gate must emit a verdict per doc")
    streamed.foreach { d =>
      batch.get(d.doc_id) match {
        case Some(mo) =>
          assert(!d.admitted, s"doc ${d.doc_id} flagged by batch but admitted")
          assert(d.max_overlap == mo,
            s"doc ${d.doc_id}: streamed overlap ${d.max_overlap} != batch $mo")
        case None =>
          assert(d.admitted, s"doc ${d.doc_id} admitted by batch but killed")
          assert(d.max_overlap < 2L)
      }
    }
    // evidence sanity: killed docs carry at least one eval hit
    assert(streamed.filter(!_.admitted).forall(_.n_eval_hits >= 1L))
  }

  test("composes in front of curate: leak dies at the gate, junk at curate, clean doc lands") {
    def score(t: String): Long =
      graft.functions.LinearTextScore.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
    // two DISTINCT classifier-positive texts from DISJOINT word pools
    // (disjoint words => no shared 3-word window). The classifier's score
    // is additive per word, so build each text from words whose INDIVIDUAL
    // contribution is positive; >= 4 words guarantees the >= 2 distinct
    // shingles the kill floor needs
    def positiveText(pool: Seq[String]): String = {
      val pos = pool.filter(w => score(w) > 0L)
      assert(pos.size >= 4, s"pool too negative: $pool -> $pos")
      pos.take(5).mkString(" ")
    }
    val evalText = positiveText(Seq("spark", "table", "scan", "fast",
      "deep", "merge", "sort", "value", "batch", "window", "plan", "query"))
    val cleanText = positiveText(Seq("stream", "data", "column", "filter",
      "group", "hash", "join", "agg", "row", "key", "shard", "token"))

    val idx = StreamingDecontaminate.evalIndex(
      Seq((0L, evalText)).toDF("doc_id", "text"))
    val docs = Seq(
      CurationIngestJob.IncomingDoc(10L, evalText, "s0"), // the planted leak
      CurationIngestJob.IncomingDoc(11L, cleanText, "s0"), // survives both
      CurationIngestJob.IncomingDoc(12L, "tiny doc", "s1")) // gate-clean, curate-killed

    val dir = graft.sources.Scratch.tempDir("decon_curate")
    withRocksDBStateStore {
      val in = MemoryStream[CurationIngestJob.IncomingDoc]
      val gated = StreamingDecontaminate(in.toDS(), idx, minOverlap = 2L)
        .filter(_.admitted)
        .map(g => CurationIngestJob.IncomingDoc(g.doc_id, g.text, g.source))
      val q = CurationIngestJob.start(gated, s"$dir/lake", s"$dir/ckpt")
      try { in.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    }
    val lake = CurationIngestJob.lake(spark, s"$dir/lake")
      .select("doc_id").as[Long].collect().toSet
    assert(lake == Set(11L), s"lake held $lake")
  }
}
