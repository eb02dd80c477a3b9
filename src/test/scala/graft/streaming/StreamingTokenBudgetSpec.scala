package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.functions.BpeMerges

class StreamingTokenBudgetSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def toks(t: String): Long = BpeMerges.encodeDoc(t).length.toLong

  test("per-source totals accumulate across batches and a restart, in subword units") {
    withRocksDBStateStore {
      val dir = graft.sources.Scratch.tempDir("graft_budget")
      val in = MemoryStream[(String, String)]
      def start() = StreamingTokenBudget(in.toDF().toDF("source", "text"))
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append).start()

      val q1 = start()
      in.addData(("web", "the data table"), ("web", "spark query"),
        ("code", "scan the window"))
      q1.processAllAvailable()
      in.addData(("web", "fast value"))
      q1.processAllAvailable()
      q1.stop()
      // dup source after RESTART: totals must continue, not reset
      in.addData(("code", "agg key"), ("papers", "sort order"))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val updates = spark.read.parquet(s"$dir/out").as[TokenBudgetUpdate]
        .collect().toSeq
      // final total per source = that source's max total_tokens row
      val finals = updates.groupBy(_.source)
        .map { case (s, us) => s -> us.map(_.total_tokens).max }
      val expect = Map(
        "web" -> (toks("the data table") + toks("spark query") + toks("fast value")),
        "code" -> (toks("scan the window") + toks("agg key")),
        "papers" -> toks("sort order"))
      assert(finals == expect, s"got $finals, want $expect")
      // batch contributions sum to the final total (no double counting)
      for ((s, t) <- expect)
        assert(updates.filter(_.source == s).map(_.batch_tokens).sum == t,
          s"batch_tokens for $s must sum to $t")
    }
  }

  test("budget gate admits while under the cap, stays closed across a restart") {
    withRocksDBStateStore {
      val dir = graft.sources.Scratch.tempDir("graft_gate")
      val in = MemoryStream[(String, Long, String)]
      // cap 5: "the data table" = 3 tokens, "spark query" = 2, so doc 1
      // (3, total 3) and doc 2 (2, total 5) admit; total is AT cap after
      // doc 2, so everything later drops
      def start() = StreamingTokenBudget.gate(
          in.toDF().toDF("source", "doc_id", "text"), cap = 5)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()

      assert(toks("the data table") == 3 && toks("spark query") == 2)
      val q1 = start()
      in.addData(("web", 1L, "the data table"), ("web", 2L, "spark query"),
        ("code", 10L, "scan the window or fast value table")) // 7 > cap: admitted (was under), gate now shut
      q1.processAllAvailable()
      in.addData(("web", 3L, "late doc"), ("code", 11L, "agg"))
      q1.processAllAvailable()
      q1.stop()
      // after RESTART the gate must STAY closed (state carries the spend)
      in.addData(("web", 4L, "another"), ("papers", 20L, "sort order"))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val admitted = spark.read.parquet(s"$dir/out").as[AdmittedDoc]
        .collect().map(a => (a.source, a.doc_id)).toSet
      assert(admitted == Set(("web", 1L), ("web", 2L), ("code", 10L),
        ("papers", 20L)),
        s"admitted set wrong: $admitted")
    }
  }

  test("totals are slicing-invariant: one batch == three batches") {
    withRocksDBStateStore {
      val rows = Seq(("a", "the table"), ("a", "data scan"), ("b", "key value"),
        ("a", "window order"), ("b", "spark"))
      def runSliced(slices: Seq[Seq[(String, String)]]): Map[String, Long] = {
        val dir = graft.sources.Scratch.tempDir("graft_budget_s")
        val in = MemoryStream[(String, String)]
        val q = StreamingTokenBudget(in.toDF().toDF("source", "text"))
          .writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode(OutputMode.Append).start()
        slices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
        q.stop()
        spark.read.parquet(s"$dir/out").as[TokenBudgetUpdate].collect()
          .groupBy(_.source).map { case (s, us) => s -> us.map(_.total_tokens).max }
      }
      val one = runSliced(Seq(rows))
      val three = runSliced(Seq(rows.take(2), rows.slice(2, 4), rows.drop(4)))
      assert(one == three, s"slicing changed totals: $one vs $three")
    }
  }

  test("full-charset mode charges digits/punctuation to the budget") {
    withRocksDBStateStore {
      // letters-only undercounts this text; byte-level counts everything
      val text = "Qty:42, table — 100%!"
      val expectedFull = {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        BpeMerges.default.encodeDocFull(text, out)
        out.length.toLong
      }
      assert(expectedFull > toks(text), "fixture lost its undercount")
      val dir = graft.sources.Scratch.tempDir("graft_budget_f")
      val in = MemoryStream[(String, String)]
      val q = StreamingTokenBudget(in.toDF().toDF("source", "text"),
          fullCharset = true)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append).start()
      in.addData(("web", text))
      q.processAllAvailable()
      q.stop()
      val total = spark.read.parquet(s"$dir/out").as[TokenBudgetUpdate]
        .collect().map(_.total_tokens).max
      assert(total == expectedFull, s"got $total, want $expectedFull")
    }
  }
}
