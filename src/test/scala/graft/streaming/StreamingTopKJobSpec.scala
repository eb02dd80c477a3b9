package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import StreamingTopK.TopKEvent

/** The StreamingTopK LAKE job: the summary table holds each group's
  * latest summary (partition upsert, not append), untouched groups
  * survive later batches, and a crash-replayed batch converges.
  */
class StreamingTopKJobSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def dirs(): (String, String) = {
    val root = graft.sources.Scratch.tempDir("graft_topkjob")
    (s"$root/out", s"$root/ckpt")
  }

  test("lake table holds the latest summary per group; untouched groups survive") {
    withRocksDBStateStore {
      val (out, ckpt) = dirs()
      val in = MemoryStream[TopKEvent]
      val q = StreamingTopKJob.start(in.toDS(), capacity = 4, out, ckpt)
      // batch 0 touches both groups
      in.addData(TopKEvent("g", "a"), TopKEvent("g", "a"), TopKEvent("g", "b"),
        TopKEvent("h", "z"))
      q.processAllAvailable()
      // batch 1 advances only g — h's partition must remain as written
      in.addData(TopKEvent("g", "a"), TopKEvent("g", "c"))
      q.processAllAvailable()
      q.stop()
      val rows = spark.read.parquet(out)
        .select("group", "item", "est", "n_seen")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      // g: 5 rows seen total, a=3 b=1 c=1; h: untouched since batch 0
      assert(rows == Set(
        ("g", "a", 3L, 5L), ("g", "b", 1L, 5L), ("g", "c", 1L, 5L),
        ("h", "z", 1L, 1L)), s"rows=$rows")
    }
  }

  test("only the batch's latest emission per group lands (n_seen monotone)") {
    val (out, _) = dirs()
    // a batch carrying two emissions for g (n_seen 3 then 5, as a replayed
    // multi-trigger batch would): only the n_seen=5 snapshot may land
    val batch = Seq(
      ("g", "a", 2L, 0L, 3L), ("g", "b", 1L, 0L, 3L),
      ("g", "a", 4L, 0L, 5L), ("g", "b", 1L, 0L, 5L),
      ("h", "z", 1L, 0L, 1L))
      .toDF("group", "item", "est", "err", "n_seen")
    StreamingTopKJob.upsertSummaries(spark, batch, out)
    val got = spark.read.parquet(out).select("group", "item", "est")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("g", "a", 4L), ("g", "b", 1L), ("h", "z", 1L)), s"$got")
  }

  test("replaying a batch converges: same partitions, same rows, no doubling") {
    val (out, _) = dirs()
    val mk = () => Seq(("g", "a", 3L, 0L, 4L), ("h", "z", 1L, 0L, 1L))
      .toDF("group", "item", "est", "err", "n_seen")
    StreamingTopKJob.upsertSummaries(spark, mk(), out)
    val first = spark.read.parquet(out).orderBy("group", "item")
      .collect().map(_.toString).toSeq
    // the crash-replay: identical batch again
    StreamingTopKJob.upsertSummaries(spark, mk(), out)
    val second = spark.read.parquet(out).orderBy("group", "item")
      .collect().map(_.toString).toSeq
    assert(first == second, s"replay diverged: $first vs $second")
  }
}
