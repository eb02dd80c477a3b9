package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.SparkSpec
import StreamingTopK.TopKEvent

/** Measured state-size telemetry for the streaming operators whose scale
  * story is "bounded state": the numbers come from the engine's own
  * progress metrics (`stateOperators.numRowsTotal` — the same feed a
  * cluster's StreamingQueryListener ships to a metrics sink), so the
  * O(distinct keys) / O(group keys) claims are measured rows, not prose.
  */
class StateTelemetrySpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Total state rows of the most recent progress that carries state
    * operators (no-data batches may report none).
    */
  private def stateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse
      .collectFirst { case p if p.stateOperators.nonEmpty =>
        p.stateOperators.map(_.numRowsTotal).sum }
      .getOrElse(-1L)

  test("exact-dedup state rows == distinct keys; duplicates add zero, across a restart") {
    withRocksDBStateStore {
      val dir = graft.sources.Scratch.tempDir("graft_telem")
      val in = MemoryStream[String]
      def key(s: String): Long =
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L)
      def start() = StreamingExactDedup(in.toDS(), key)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append).start()

      val q1 = start()
      // 10 distinct docs, each sent 3 times: state must track KEYS
      val docs = (1 to 10).map(i => s"doc $i")
      in.addData(docs ++ docs ++ docs: _*)
      q1.processAllAvailable()
      assert(stateRows(q1) == 10L,
        s"30 rows of 10 keys must keep 10 state rows, got ${stateRows(q1)}")

      // a full batch of pure duplicates: zero state growth
      in.addData(docs: _*)
      q1.processAllAvailable()
      assert(stateRows(q1) == 10L,
        s"duplicate-only batch grew state: ${stateRows(q1)}")
      q1.stop()

      // restart from checkpoint: replayed/late duplicates still add
      // nothing; only the 2 genuinely new keys do
      in.addData(docs.take(5) ++ Seq("doc 11", "doc 12"): _*)
      val q2 = start()
      q2.processAllAvailable()
      assert(stateRows(q2) == 12L,
        s"after restart + 2 new keys expected 12 state rows, got ${stateRows(q2)}")
      q2.stop()
    }
  }

  test("exact-dedup TTL: expired keys leave state and their docs re-admit") {
    withRocksDBStateStore {
      val dir = graft.sources.Scratch.tempDir("graft_ttl")
      val in = MemoryStream[String]
      def key(s: String): Long =
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L)
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofSeconds(2))
      // A TTL-bearing (TimeMode.ProcessingTime) query keeps scheduling
      // micro-batches so expirations get processed, which means
      // processAllAvailable never settles (observed: unbounded batch
      // churn at trigger interval 0). So: pace the query with a real
      // ProcessingTime trigger and POLL the progress feed with a
      // deadline — which is also the honest shape of the pin, because
      // expiry is itself asynchronous batch work.
      val q = StreamingExactDedup(in.toDS(), key, ttl)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()
      def pollUntil(what: String)(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!cond) {
          assert(System.nanoTime() < deadline, s"timed out waiting for $what")
          Thread.sleep(250)
        }
      }
      def outCount(): Long =
        try spark.read.parquet(s"$dir/out").count() catch { case _: Exception => 0L }

      val docs = (1 to 5).map(i => s"doc $i")
      in.addData(docs ++ docs: _*)
      pollUntil("5 first-seen docs admitted")(outCount() == 5L)
      pollUntil("one state row per key")(stateRows(q) == 5L)

      // THE pin: past the TTL, with no new data at all, the periodic
      // cleanup batches must remove the expired keys from numRowsTotal —
      // the crawl re-admission contract ("TTL-able") as a measured number
      pollUntil("expired keys leave numRowsTotal")(stateRows(q) == 0L)

      // and the same docs now RE-ADMIT (plus one genuinely new one)
      in.addData(docs :+ "doc 6": _*)
      pollUntil("re-admission after expiry")(outCount() == 11L)
      q.stop()
    }
  }

  test("space-saving top-k state rows == group keys, not distinct items") {
    withRocksDBStateStore {
      val in = MemoryStream[TopKEvent]
      val q = StreamingTopK(in.toDS(), capacity = 5)
        .writeStream.format("memory").queryName("telem_topk")
        .outputMode(OutputMode.Append).start()
      // 200 distinct items across 2 groups, far beyond capacity: the
      // summary truncates INSIDE each group's value, so state rows stay
      // at the group count — the O(capacity)-per-key footprint that
      // makes the operator safe under unbounded item cardinality
      val evs = (1 to 100).flatMap(i =>
        Seq(TopKEvent("g1", s"item$i"), TopKEvent("g2", s"other$i")))
      in.addData(evs: _*)
      q.processAllAvailable()
      assert(stateRows(q) == 2L,
        s"200 items in 2 groups must keep 2 state rows, got ${stateRows(q)}")
      q.stop()
    }
  }
}
