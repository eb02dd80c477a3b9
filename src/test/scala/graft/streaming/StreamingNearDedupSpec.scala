package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming MinHash/LSH near-dedup: cross-batch drops, non-dup
  * admission, and replay convergence of the batch-partitioned store.
  */
class StreamingNearDedupSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // ~40 tokens; near-dup = one token changed (Jaccard of 3-shingle sets
  // ~0.92); distinct = disjoint vocabulary
  private val base = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = ((1 to 39).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
  private val other = (1 to 40).map(i => s"other$i").mkString(" ")

  private def dirs(): (String, String, String) = {
    val root = graft.sources.Scratch.tempDir("graft_neardedup")
    (s"$root/store", s"$root/out", s"$root/ckpt")
  }

  test("near-dup of an earlier batch's doc drops; fresh content admits") {
    val (store, out, ckpt) = dirs()
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = StreamingNearDedup.start(docs, store, out, ckpt)
    in.addData((1L, base), (2L, other))
    q.processAllAvailable()
    // batch 2: 10 is a near-dup of 1 (cross-batch), 11 is fresh
    in.addData((10L, nearDup), (11L, (1 to 40).map(i => s"third$i").mkString(" ")))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 11L), s"kept=${kept.toSeq}")
  }

  test("within one batch the lower-id twin wins; the greedy pass is one level") {
    val (store, out, ckpt) = dirs()
    val in = MemoryStream[(Long, String)]
    val q = StreamingNearDedup.start(in.toDF().toDF("doc_id", "text"), store, out, ckpt)
    in.addData((5L, base), (3L, nearDup), (7L, other))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    // 3 < 5: the LOWER id survives its twin regardless of addData order
    assert(kept.toSeq == Seq(3L, 7L), s"kept=${kept.toSeq}")
  }

  test("a URI-schemed store dir still sees earlier batches (Hadoop FS probe)") {
    // storeDir as a file: URI — java.io.File("file:/...").exists() is
    // always false, so the pre-fix code silently treated the store as
    // empty every batch and re-admitted near-duplicates (ADVICE r5); the
    // Hadoop FileSystem probe resolves the scheme like the reads/writes do
    val (store0, out, ckpt) = dirs()
    val store = "file:" + store0
    val in = MemoryStream[(Long, String)]
    val q = StreamingNearDedup.start(in.toDF().toDF("doc_id", "text"), store, out, ckpt)
    in.addData((1L, base))
    q.processAllAvailable()
    in.addData((10L, nearDup)) // cross-batch near-dup: must be DROPPED
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L), s"kept=${kept.toSeq}")
  }

  test("replaying a batch id converges: store and output overwrite, not double") {
    val (store, out, ckpt) = dirs()
    val mkBatch = (id: Long) => Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    StreamingNearDedup.dedupBatch(spark, mkBatch(0), 0L, store, out, 0.6)
    val storeRows = spark.read.parquet(store).count()
    val outRows = spark.read.parquet(out).count()
    // the crash-replay: same batch id, same data, run again
    StreamingNearDedup.dedupBatch(spark, mkBatch(0), 0L, store, out, 0.6)
    assert(spark.read.parquet(store).count() == storeRows, "store must not grow on replay")
    assert(spark.read.parquet(out).count() == outRows, "output must not grow on replay")
    // and the store still drops a near-dup arriving later
    val kept2 = StreamingNearDedup.dedupBatch(spark,
      Seq((10L, nearDup)).toDF("doc_id", "text"), 1L, store, out, 0.6)
    assert(kept2.count() == 0, "near-dup must still match the replayed store")
  }

  test("crash between store write and out write recovers on replay") {
    // The `__batch_id < batchId` store-read filter's scenario (the same
    // class the frame and perceptual stores fixed): batch 1 dies after
    // writing its band rows but before its out write. On replay it must
    // not collide with its OWN prior rows — an unfiltered read would
    // admit nothing and the fresh doc would be lost from out for good.
    val (store, out, _) = dirs()
    StreamingNearDedup.dedupBatch(spark,
      Seq((1L, base)).toDF("doc_id", "text"), 0L, store, out, 0.6)
    StreamingNearDedup.dedupBatch(spark,
      Seq((2L, other)).toDF("doc_id", "text"), 1L, store, out, 0.6)
    def delRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delRec)); f.delete(); ()
    }
    delRec(new java.io.File(s"$out/__batch_id=1")) // the simulated crash
    StreamingNearDedup.dedupBatch(spark,
      Seq((2L, other)).toDF("doc_id", "text"), 1L, store, out, 0.6)
    val kept = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"crash replay lost docs: $kept")
    // the replayed batch still dedups against genuinely earlier batches
    val kept2 = StreamingNearDedup.dedupBatch(spark,
      Seq((10L, nearDup)).toDF("doc_id", "text"), 2L, store, out, 0.6)
    assert(kept2.count() == 0)
  }
}
