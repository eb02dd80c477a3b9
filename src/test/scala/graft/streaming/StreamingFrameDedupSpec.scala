package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The video-frame ingest gate, pinned AGAINST THE BATCH SET: after any
  * id-ordered micro-batch slicing, the admitted (fkey) set must equal
  * the batch frame-dedup keeper set (min fkey per distinct frame
  * fingerprint — the q_frame_dedup semantics) computed over the whole
  * corpus in one pass. Replays converge.
  */
class StreamingFrameDedupSpec extends SparkSpec {
  import spark.implicits._

  // quarter blocks: videos are 4 concatenated 16-byte quarters, so the
  // frame schedule slices exactly on block boundaries
  private def block(tag: Int): Array[Byte] =
    Array.tabulate(16)(i => ((tag * 31 + i) & 0xff).toByte)

  private def video(tags: Int*): Array[Byte] = tags.flatMap(block(_)).toArray

  private val corpus: Seq[(Long, String, Array[Byte])] = Seq(
    (1L, "video", video(10, 11, 12, 13)), // all-fresh frames
    (2L, "video", video(10, 20, 21, 22)), // shares frame 0 with video 1
    (3L, "video", video(10, 11, 12, 13)), // full duplicate of video 1
    (4L, "video", video(30, 30, 31, 32)), // internal duplicate quarter
    (5L, "video", video(13, 40, 41, 20)), // shares tails of videos 1 and 2
    (9L, "audio", Array[Byte](1, 2, 3)))  // other kind: no frames emitted

  test("stream admitted set == batch keeper set, across slicings; replay converges") {
    // THE BATCH SET: min fkey per distinct fingerprint over the whole
    // corpus (exactly q_frame_dedup's keeper rule, on real bytes)
    val batchKeepers = StreamingFrameDedup.frames(
        corpus.toDF("media_id", "kind", "bytes"))
      .groupBy(col("frame_md5")).agg(min(col("fkey")).as("fkey"))
      .select("fkey").collect().map(_.getLong(0)).toSet
    // sanity: the plants actually collide (video 3 contributes nothing,
    // video 2 loses frame 0, video 4 loses its repeated quarter)
    assert(!batchKeepers.contains(3L * 4) && !batchKeepers.contains(2L * 4) &&
      !batchKeepers.contains(4L * 4 + 1), s"fixture lost its plants: $batchKeepers")

    for ((slicing, tag) <- Seq(
        Seq(corpus) -> "one batch",
        Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4)) -> "three batches",
        corpus.grouped(1).toSeq -> "one item per batch")) {
      val dir = graft.sources.Scratch.tempDir("graft_framededup")
      slicing.zipWithIndex.foreach { case (b, i) =>
        StreamingFrameDedup.dedupBatch(spark, b.toDF("media_id", "kind", "bytes"),
          i.toLong, s"$dir/store", s"$dir/out")
      }
      val admitted = spark.read.parquet(s"$dir/out")
        .select("fkey").collect().map(_.getLong(0)).toSet
      assert(admitted == batchKeepers, s"slicing $tag: $admitted")
    }

    // replay: re-running a middle batch must rewrite identical content
    val dir = graft.sources.Scratch.tempDir("graft_framededup_r")
    val batches = Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingFrameDedup.dedupBatch(spark, b.toDF("media_id", "kind", "bytes"),
        i.toLong, s"$dir/store", s"$dir/out")
    }
    val before = spark.read.parquet(s"$dir/out")
      .select("fkey", "frame_md5").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    StreamingFrameDedup.dedupBatch(spark, batches(1).toDF("media_id", "kind", "bytes"),
      1L, s"$dir/store", s"$dir/out")
    val after = spark.read.parquet(s"$dir/out")
      .select("fkey", "frame_md5").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)

    // CRASH RECOVERY — the scenario the store's `__batch_id < batchId`
    // read filter exists for, and the non-vacuous form of the replay pin:
    // a batch that died AFTER its store write but BEFORE its out write
    // must, on replay, re-admit its frames rather than find them "already
    // ingested" in its own prior store rows (which would make the
    // recovery write-out empty and lose the batch's frames permanently).
    def delRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delRec)); f.delete(); ()
    }
    delRec(new java.io.File(s"$dir/out/__batch_id=1"))
    assert(spark.read.parquet(s"$dir/out")
      .filter(col("__batch_id") === 1).isEmpty) // the crash took the out write
    StreamingFrameDedup.dedupBatch(spark, batches(1).toDF("media_id", "kind", "bytes"),
      1L, s"$dir/store", s"$dir/out")
    val recovered = spark.read.parquet(s"$dir/out")
      .select("fkey", "frame_md5").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(recovered == before,
      s"crash replay lost frames: ${before.diff(recovered)}")
  }
}
