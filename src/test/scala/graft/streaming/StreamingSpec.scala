package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.model.NewsArticle

/** Streaming semantics the DuckDB oracle can't check (SURVEY.md §5.2):
  * driven through MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def quoteJson(symbol: String, c: Double, t: Long): String =
    s"""{"symbol":"$symbol","c":$c,"d":0.1,"dp":0.2,"h":${c + 1},"l":${c - 1},"o":$c,"pc":${c - 0.5},"t":$t}"""

  private def newsJson(symbol: String, id: java.lang.Long, dt: Long): String = {
    val idPart = if (id == null) "null" else id.toString
    s"""{"symbol":"$symbol","id":$idPart,"datetime":$dt,"category":"company","headline":"h$idPart","summary":"s","source":"src","url":"u","image":"i"}"""
  }

  test("quotes pipeline: E2 decode + F1 validate + P1/T1 project over micro-batches") {
    val in = MemoryStream[String]
    val q = Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value")))
      .writeStream.format("memory").queryName("quotes_out")
      .outputMode(OutputMode.Append).start()
    in.addData(
      quoteJson("AAPL", 190.5, 1700000000L),
      """{"symbol":"MSFT","c":null,"t":1700000000}""", // F1: no price -> dropped
      """not json at all""",                           // R2: corrupt -> dropped
      quoteJson("NVDA", 700.25, 1700000060L))
    q.processAllAvailable()
    val out = spark.table("quotes_out").select("symbol", "current_price", "event_ts")
      .orderBy("symbol").collect()
    q.stop()
    assert(out.map(_.getString(0)).toSeq == Seq("AAPL", "NVDA"))
    assert(out.head.getDouble(1) == 190.5)
    assert(out.head.getTimestamp(2) == ts("2023-11-14 22:13:20")) // 1700000000 UTC
  }

  test("E1/E2 round-trip: encode to the topic wire format and decode back") {
    val wire = Seq(("AAPL", 190.5, 0.1, 0.2, 191.5, 189.5, 190.0, 190.0, 1700000000L))
      .toDF("symbol", "c", "d", "dp", "h", "l", "o", "pc", "t")
    val encoded = Pipelines.encodeForTopic(wire)
    assert(encoded.columns.toSeq == Seq("value"))
    // keyed form: K1's partition key rides alongside, value unchanged
    val keyed = Pipelines.encodeForTopicKeyed(wire)
    assert(keyed.columns.toSeq == Seq("key", "value"))
    assert(keyed.select("key").head.getString(0) == "AAPL")
    assert(keyed.select("value").head.getString(0) ==
      encoded.select("value").head.getString(0))
    val back = Pipelines.quotes(Pipelines.decodeQuotes(encoded)).collect().head
    assert(back.getAs[String]("symbol") == "AAPL")
    assert(back.getAs[Double]("current_price") == 190.5)
    assert(back.getAs[java.sql.Timestamp]("event_ts") == ts("2023-11-14 22:13:20"))
  }

  test("D1 dedup: monotone high-watermark semantics across micro-batches") {
    val in = MemoryStream[String]
    val deduped = Pipelines.news(in.toDF().toDF("value"))
    val q = deduped.writeStream.format("memory").queryName("news_out")
      .outputMode(OutputMode.Append).start()

    // batch 1: ids 5, 3 (unsorted); max watermark -> 5
    in.addData(newsJson("AAPL", 5L, 1000), newsJson("AAPL", 3L, 900))
    q.processAllAvailable()
    // batch 2: id 4 arrives late — BELOW watermark 5, never seen -> dropped
    // (monotone max, not set semantics; ref producer_company_news.py:133);
    // id 7 passes; null id bypasses dedup without advancing state
    in.addData(newsJson("AAPL", 4L, 1100), newsJson("AAPL", 7L, 1200),
      newsJson("AAPL", null, 1300))
    q.processAllAvailable()
    // batch 3: duplicate 7 dropped; other symbol has independent state
    in.addData(newsJson("AAPL", 7L, 1200), newsJson("MSFT", 1L, 50))
    q.processAllAvailable()

    val out = spark.table("news_out").as[NewsArticle].collect()
    q.stop()
    val aapl = out.filter(_.symbol == "AAPL").map(_.news_id)
    assert(aapl.toSet == Set(Some(3L), Some(5L), Some(7L), None))
    assert(out.filter(_.symbol == "MSFT").map(_.news_id).toSeq == Seq(Some(1L)))
  }

  test("D1 dedup: O1 sort means intra-batch order doesn't matter") {
    // ids arriving 5,3 in one batch: both emitted (sorted ascending first,
    // state commits only at batch end — ref :169-171), output sorted.
    val (newMax, out) = HighWatermarkDedup.dedupBatch(Long.MinValue, Seq(
      NewsArticle("A", Some(5L), ts("2024-01-01 00:00:01"), Some(ts("2024-01-01 00:00:01")), None, None, None, None, None, None),
      NewsArticle("A", Some(3L), ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 00:00:00")), None, None, None, None, None, None)))
    assert(out.flatMap(_.news_id) == Seq(3L, 5L))
    assert(newMax == 5L)
  }

  test("OHLC candles: watermarked tumbling window, late data dropped") {
    val in = MemoryStream[String]
    val candles = Pipelines.ohlcCandles(
      Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value"))), late = "2 minutes")
    val q = candles.writeStream.format("memory").queryName("candles_out")
      .outputMode(OutputMode.Append).start()
    val base = 1700000000L // aligned: 2023-11-14 22:13:20 UTC
    // base is at :20s — keep all three inside the [22:13:00, 22:14:00) window
    in.addData(quoteJson("AAPL", 100.0, base), quoteJson("AAPL", 104.0, base + 10),
      quoteJson("AAPL", 98.0, base + 35))
    q.processAllAvailable()
    // advance event time far past watermark so the first window closes
    in.addData(quoteJson("AAPL", 110.0, base + 600))
    q.processAllAvailable()
    // this quote is 10 min late, watermark is 2 min -> dropped from state
    in.addData(quoteJson("AAPL", 999.0, base))
    q.processAllAvailable()
    in.addData(quoteJson("AAPL", 111.0, base + 1200))
    q.processAllAvailable()
    // the drop is OBSERVABLE via StreamingQueryProgress (late-data
    // handling row of SURVEY.md §2.2; H1's heartbeat analogue)
    assert(q.recentProgress.exists(_.stateOperators.exists(_.numRowsDroppedByWatermark > 0)),
      "expected numRowsDroppedByWatermark > 0 in progress events")
    val rows = spark.table("candles_out")
      .filter(col("minute") === ts("2023-11-14 22:13:00"))
      .select("open", "high", "low", "close", "n_quotes").collect()
    q.stop()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)) ==
      ((100.0, 104.0, 98.0, 98.0, 3L))) // the late 999.0 never entered
  }

  test("sliding window: 2-min windows sliding by 1 min count overlapping quotes") {
    val in = MemoryStream[String]
    val base = 1700000040L // 22:14:00 aligned
    val agg = Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value")))
      .withWatermark("event_ts", "1 minute")
      .groupBy(window(col("event_ts"), "2 minutes", "1 minute"), col("symbol"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("symbol"), col("n"))
    val q = agg.writeStream.format("memory").queryName("slide_out")
      .outputMode(OutputMode.Append).start()
    in.addData(quoteJson("AAPL", 1.0, base), quoteJson("AAPL", 2.0, base + 60))
    q.processAllAvailable()
    in.addData(quoteJson("AAPL", 3.0, base + 600)) // advance watermark
    q.processAllAvailable()
    val got = spark.table("slide_out")
      .filter(col("w") >= ts("2023-11-14 22:13:00") && col("w") <= ts("2023-11-14 22:15:00"))
      .select("w", "n").collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    q.stop()
    // quote@14:00 in windows [13:00,15:00) and [14:00,16:00); quote@15:00 joins the latter
    assert(got(ts("2023-11-14 22:13:00")) == 1L)
    assert(got(ts("2023-11-14 22:14:00")) == 2L)
    assert(got(ts("2023-11-14 22:15:00")) == 1L)
  }

  test("session window: per-symbol sessions close after a 5-minute gap") {
    val in = MemoryStream[String]
    val base = 1700000000L
    val agg = Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value")))
      .withWatermark("event_ts", "1 minute")
      .groupBy(session_window(col("event_ts"), "5 minutes"), col("symbol"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"), col("symbol"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    // two bursts 30 min apart -> two sessions of 2 and 1 quotes
    in.addData(quoteJson("AAPL", 1.0, base), quoteJson("AAPL", 2.0, base + 120),
      quoteJson("AAPL", 3.0, base + 1800))
    q.processAllAvailable()
    in.addData(quoteJson("AAPL", 4.0, base + 4000)) // advance watermark
    q.processAllAvailable()
    val got = spark.table("sess_out").select("n").collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got.take(2) == Seq(1L, 2L), s"sessions: $got")
  }

  test("stream-stream join: quote attached to news within the prior hour") {
    val qIn = MemoryStream[String]
    val nIn = MemoryStream[String]
    val qd = Pipelines.quotes(Pipelines.decodeQuotes(qIn.toDF().toDF("value")))
      .select(col("symbol").as("q_sym"), col("event_ts"), col("current_price"))
      .withWatermark("event_ts", "1 hour")
    val nd = Pipelines.newsArticles(Pipelines.decodeNews(nIn.toDF().toDF("value")))
      .select(col("symbol"), col("news_id"), col("published_ts"))
      .withWatermark("published_ts", "1 hour")
    val joined = nd.join(qd,
      col("symbol") === col("q_sym") &&
        col("event_ts") >= col("published_ts") - expr("INTERVAL 1 HOUR") &&
        col("event_ts") <= col("published_ts"))
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode(OutputMode.Append).start()
    val base = 1700000000L
    qIn.addData(quoteJson("AAPL", 100.0, base),          // in window
      quoteJson("AAPL", 50.0, base - 7200),              // 2h before: out
      quoteJson("MSFT", 75.0, base))                     // other symbol
    nIn.addData(newsJson("AAPL", 1L, base + 600))        // published 10 min after base
    q.processAllAvailable()
    val rows = spark.table("ss_join_out")
      .select("symbol", "news_id", "current_price").collect()
    q.stop()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set(("AAPL", 1L, 100.0)))
  }

  test("stream-stream LEFT OUTER join: unmatched news emits with nulls only after the watermark closes its band") {
    // The outer-join semantics corner: a null-extended row may only emit
    // once the watermark proves no matching quote can still arrive for
    // the article's time band — before that the article is withheld, not
    // emitted unmatched. (The reference's delegated join layer has no
    // such notion; this is what event-time correctness buys.)
    val qIn = MemoryStream[String]
    val nIn = MemoryStream[String]
    val qd = Pipelines.quotes(Pipelines.decodeQuotes(qIn.toDF().toDF("value")))
      .select(col("symbol").as("q_sym"), col("event_ts"), col("current_price"))
      .withWatermark("event_ts", "10 minutes")
    val nd = Pipelines.newsArticles(Pipelines.decodeNews(nIn.toDF().toDF("value")))
      .select(col("symbol"), col("news_id"), col("published_ts"))
      .withWatermark("published_ts", "10 minutes")
    val joined = nd.join(qd,
      col("symbol") === col("q_sym") &&
        col("event_ts") >= col("published_ts") - expr("INTERVAL 1 HOUR") &&
        col("event_ts") <= col("published_ts"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ss_louter_out")
      .outputMode(OutputMode.Append).start()
    val base = 1700000000L
    qIn.addData(quoteJson("AAPL", 100.0, base))
    nIn.addData(newsJson("AAPL", 1L, base + 600),  // matches the quote
      newsJson("MSFT", 2L, base + 600))            // no MSFT quote exists
    q.processAllAvailable()
    val early = spark.table("ss_louter_out").select("news_id").collect().map(_.getLong(0)).toSet
    // matched row may emit now; the unmatched MSFT row must NOT have
    // emitted yet (its band could still receive a quote)
    assert(early == Set(1L), s"premature outer emission: $early")
    // advance both watermarks far past the band end
    qIn.addData(quoteJson("AAPL", 101.0, base + 7200))
    nIn.addData(newsJson("AAPL", 3L, base + 7200))
    q.processAllAvailable()
    val rows = spark.table("ss_louter_out")
      .select("news_id", "current_price").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    q.stop()
    assert(rows(1L) == 100.0, s"$rows")
    assert(rows.contains(2L) && rows(2L) == null,
      s"unmatched article must emit null-extended after watermark: $rows")
  }

  test("streaming as-of: latest quote at or before publish, lookback-bounded") {
    val qIn = MemoryStream[String]
    val nIn = MemoryStream[String]
    val out = Pipelines.newsWithLatestQuote(
      Pipelines.quotes(Pipelines.decodeQuotes(qIn.toDF().toDF("value"))),
      Pipelines.newsArticles(Pipelines.decodeNews(nIn.toDF().toDF("value"))).toDF(),
      lookback = "1 hour", late = "1 minute")
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    val base = 1700000000L
    qIn.addData(
      quoteJson("AAPL", 100.0, base),          // in window, older
      quoteJson("AAPL", 101.0, base + 20),     // in window, latest <= publish
      quoteJson("AAPL", 999.0, base + 40),     // AFTER publish: excluded
      quoteJson("AAPL", 50.0, base - 7200),    // before lookback: excluded
      quoteJson("MSFT", 75.0, base))           // other symbol
    nIn.addData(newsJson("AAPL", 1L, base + 30))
    q.processAllAvailable()
    // advance both watermarks so the join + aggregation finalize
    qIn.addData(quoteJson("AAPL", 1.0, base + 4000))
    nIn.addData(newsJson("AAPL", 99L, base + 4000))
    q.processAllAvailable()
    val rows = spark.table("asof_stream")
      .select("symbol", "news_id", "asof_price").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(rows.contains(("AAPL", 1L, 101.0)), rows.mkString(", "))
    assert(!rows.exists(_._3 == 999.0) && !rows.exists(_._3 == 50.0))
  }

  test("foreachBatch idempotent sink: replaying input converges, not duplicates") {
    val dir = graft.sources.Scratch.tempDir("graft_febatch")
    val base = 1700000000L
    def runOnce(ckpt: String): Unit = {
      val in = MemoryStream[String]
      val candles = Pipelines.ohlcCandles(
        Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value"))), late = "1 minute")
      in.addData(quoteJson("AAPL", 10.0, base), quoteJson("AAPL", 11.0, base + 10),
        quoteJson("AAPL", 12.0, base + 600)) // advances watermark, closes window 1
      val q = Pipelines.idempotentPartitionSink(candles, "minute",
        s"$dir/lake", ckpt).start()
      q.awaitTermination()
    }
    runOnce(s"$dir/ckpt1")
    val first = spark.read.parquet(s"$dir/lake").count()
    // fresh checkpoint = full replay of the same input (simulated
    // redelivery): dynamic partition overwrite rewrites, never duplicates
    runOnce(s"$dir/ckpt2")
    val second = spark.read.parquet(s"$dir/lake").count()
    assert(first > 0 && second == first, s"$first vs $second")
  }

  test("foreachBatch merging sink: same partition across batches merges, replay converges") {
    val dir = graft.sources.Scratch.tempDir("graft_merge")
    val base = 1700000000L
    // two runs = two separate micro-batch deliveries INTO THE SAME
    // partition value (hour bucket) — exactly what idempotentPartitionSink's
    // contract forbids and this sink exists for
    def deliver(ckpt: String, quotes: Seq[String]): Unit = {
      val in = MemoryStream[String]
      val df = Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value")))
        .withColumn("hour", date_format(col("event_ts"), "yyyy-MM-dd-HH"))
      in.addData(quotes: _*)
      val q = Pipelines.mergingPartitionSink(df, "hour",
        keyCols = Seq("symbol", "event_ts"), s"$dir/lake", ckpt).start()
      q.awaitTermination()
    }
    deliver(s"$dir/c1", Seq(quoteJson("AAPL", 10.0, base)))
    deliver(s"$dir/c2", Seq(quoteJson("MSFT", 20.0, base + 60))) // same hour!
    val afterTwo = spark.read.parquet(s"$dir/lake")
    assert(afterTwo.count() == 2) // overwrite sink would have lost AAPL
    assert(afterTwo.select("symbol").as[String].collect().toSet == Set("AAPL", "MSFT"))
    // replaying delivery 2 (fresh checkpoint, same data) converges
    deliver(s"$dir/c3", Seq(quoteJson("MSFT", 20.0, base + 60)))
    assert(spark.read.parquet(s"$dir/lake").count() == 2)
    // a correction for an existing key replaces, preferring the new batch
    deliver(s"$dir/c4", Seq(quoteJson("AAPL", 11.5, base)))
    val rows = spark.read.parquet(s"$dir/lake")
    assert(rows.count() == 2)
    assert(rows.filter(col("symbol") === "AAPL")
      .select("current_price").head.getDouble(0) == 11.5)
  }

  test("merging sink preserves existing null-partition rows across batches") {
    // SQL IN never matches null: without the explicit isNull arm, batch 2
    // would dynamic-overwrite __HIVE_DEFAULT_PARTITION__ and delete row 1
    val dir = graft.sources.Scratch.tempDir("graft_merge_null")
    def deliver(ckpt: String, rows: Seq[(Long, Option[String])]): Unit = {
      val in = MemoryStream[(Long, Option[String])]
      in.addData(rows: _*)
      val q = Pipelines.mergingPartitionSink(in.toDF().toDF("k", "part"),
        "part", keyCols = Seq("k"), s"$dir/lake", ckpt).start()
      q.awaitTermination()
    }
    deliver(s"$dir/c1", Seq((1L, None), (10L, Some("p0"))))
    deliver(s"$dir/c2", Seq((2L, None)))
    val rows = spark.read.parquet(s"$dir/lake")
    assert(rows.count() == 3)
    assert(rows.filter(col("part").isNull).count() == 2) // 1 and 2 both kept
  }

  test("built-in bounded-state dedup: dropDuplicatesWithinWatermark") {
    // The built-in sibling of HighWatermarkDedup: exact dedup with state
    // EVICTED by the watermark (bounded memory at 100 TB), at the price of
    // re-admitting an id that reappears after eviction — the engine offers
    // both and the divergence spec documents when they differ.
    val in = MemoryStream[String]
    val base = 1700000000L
    val deduped = Pipelines.newsArticles(Pipelines.decodeNews(in.toDF().toDF("value")))
      .withWatermark("published_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("symbol", "news_id")
    val q = deduped.writeStream.format("memory").queryName("ddww_out")
      .outputMode(OutputMode.Append).start()
    in.addData(newsJson("AAPL", 1L, base), newsJson("AAPL", 1L, base + 5), // dup
      newsJson("AAPL", 2L, base + 10))
    q.processAllAvailable()
    in.addData(newsJson("AAPL", 1L, base + 20)) // still within state: dup
    q.processAllAvailable()
    val got = spark.table("ddww_out").select("news_id").as[Long].collect().sorted.toSeq
    q.stop()
    assert(got == Seq(1L, 2L), s"got $got")
  }

  test("stream-static join: streaming facts enriched from a batch dim table") {
    // The dim side is a plain batch DataFrame — Spark broadcasts it into
    // every micro-batch; no watermark, no state, the standard lookup-join
    // shape for reference data at any scale.
    val dim = Seq(("AAPL", "Apple Inc"), ("MSFT", "Microsoft")).toDF("sym", "company")
    val in = MemoryStream[String]
    val joined = Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value")))
      .join(broadcast(dim), col("symbol") === col("sym"), "left")
      .select(col("symbol"), col("current_price"), col("company"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    in.addData(quoteJson("AAPL", 190.5, 1700000000L),
      quoteJson("NVDA", 700.0, 1700000000L)) // no dim row -> null company
    q.processAllAvailable()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getString(0), Option(r.getString(2)))).toSet
    q.stop()
    assert(got == Set(("AAPL", Some("Apple Inc")), ("NVDA", None)))
  }

  test("streaming dead-letter: corrupt lines side-output, lake unaffected, replay converges") {
    val dir = graft.sources.Scratch.tempDir("graft_dl")
    def deliver(ckpt: String): Unit = {
      val in = MemoryStream[String]
      in.addData(
        quoteJson("AAPL", 190.5, 1700000000L),
        """{"symbol":"MSFT","c":null,"t":1700000000}""", // validation failure
        """not json at all""")                           // decode failure
      val q = Pipelines.quotesLakeWithDeadLetter(in.toDF().toDF("value"),
        s"$dir/lake", s"$dir/dead", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    deliver(s"$dir/ckpt")
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.count() == 1 && lake.select("symbol").head.getString(0) == "AAPL")
    val dead = spark.read.text(s"$dir/dead").select("value").as[String].collect().toSet
    assert(dead == Set("""{"symbol":"MSFT","c":null,"t":1700000000}""", "not json at all"))
    // full redelivery (fresh checkpoint, same data => same batch ids):
    // batch-keyed overwrites rewrite, never duplicate
    deliver(s"$dir/ckpt2")
    assert(spark.read.parquet(s"$dir/lake").count() == 1)
    assert(spark.read.text(s"$dir/dead").count() == 2)
  }

  test("news dead-letter: decode failures side-output, null id/datetime stay valid, replay converges") {
    val dir = graft.sources.Scratch.tempDir("graft_ndl")
    def deliver(ckpt: String): Unit = {
      val in = MemoryStream[String]
      in.addData(
        newsJson("AAPL", 7L, 1700000000L),
        newsJson("MSFT", null, 1700000000L),      // null id: valid, bypasses dedup
        """{"id":3,"datetime":1700000000}""",     // missing symbol: dead-letter
        """totally not json""")                   // decode failure: dead-letter
      val q = Pipelines.newsLakeWithDeadLetter(in.toDF().toDF("value"),
        s"$dir/lake", s"$dir/dead", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    deliver(s"$dir/ckpt")
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.count() == 2 &&
      lake.select("symbol").as[String].collect().toSet == Set("AAPL", "MSFT"))
    val dead = spark.read.text(s"$dir/dead").select("value").as[String].collect().toSet
    assert(dead == Set("""{"id":3,"datetime":1700000000}""", "totally not json"))
    // redelivery with a fresh checkpoint converges (batch-keyed overwrites)
    deliver(s"$dir/ckpt2")
    assert(spark.read.parquet(s"$dir/lake").count() == 2)
    assert(spark.read.text(s"$dir/dead").count() == 2)
  }

  test("D1 dedup into a memory sink: watermark semantics over decoded news") {
    val in = MemoryStream[String]
    val base = 1700000000L
    val out = HighWatermarkDedup(
      Pipelines.newsArticles(Pipelines.decodeNews(in.toDF().toDF("value"))))
    val q = out.writeStream.format("memory").queryName("hwm_out")
      .outputMode(OutputMode.Append).start()
    in.addData(newsJson("AAPL", 5L, base), newsJson("AAPL", 3L, base + 1))
    q.processAllAvailable()
    // watermark now 5: 4 is late-below-watermark (dropped), 9 is new
    in.addData(newsJson("AAPL", 4L, base + 2), newsJson("AAPL", 9L, base + 3),
      newsJson("AAPL", null, base + 4)) // null id bypasses dedup
    q.processAllAvailable()
    val got = spark.table("hwm_out").select("news_id").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    q.stop()
    // first batch emits 3 and 5 (both above initial 0, sorted order),
    // second emits 9 and the null-id row (as -1 here)
    assert(got == Seq(-1L, 3L, 5L, 9L), s"got $got")
  }

  test("D1 state survives query restart from checkpoint (the reference's restart loss, fixed)") {
    // The reference loses last_seen_news_ids when the producer restarts
    // (producer_company_news.py:56, acknowledged). Here the watermark
    // lives in checkpointed state: stop the query, restart it against the
    // SAME checkpoint, and an id below the pre-restart watermark is still
    // dropped — only possible if state was recovered, not rebuilt.
    val dir = graft.sources.Scratch.tempDir("graft_restart")
    val in = MemoryStream[String]
    val base = 1700000000L
    def start() = HighWatermarkDedup(
      Pipelines.newsArticles(Pipelines.decodeNews(in.toDF().toDF("value"))))
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append).start()
    val q1 = start()
    in.addData(newsJson("AAPL", 7L, base))
    q1.processAllAvailable()
    q1.stop()
    in.addData(newsJson("AAPL", 3L, base + 10), // below watermark 7: drop
      newsJson("AAPL", 9L, base + 20))          // above: emit
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(s"$dir/out").select("news_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(7L, 9L), s"got $ids — 3 must be dropped by RECOVERED state")
  }

  test("D1 state: monotone-max contract holds across TWO restarts") {
    // Hardens the one operator whose semantics the oracle can never see:
    // the recovered watermark state must keep enforcing the monotone
    // maximum across repeated process lifetimes, with out-of-order ids
    // arriving below the recovered watermark in every epoch (the exact
    // divergence DedupDivergenceSpec shows for dropDuplicates).
    val dir = graft.sources.Scratch.tempDir("graft_hwm2")
    val in = MemoryStream[String]
    val base = 1700000000L
    def start() = HighWatermarkDedup(
      Pipelines.newsArticles(Pipelines.decodeNews(in.toDF().toDF("value"))))
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append).start()
    // lifetime 1: {7, 2} both clear the initial watermark -> emit; max 7
    val q1 = start()
    in.addData(newsJson("AAPL", 7L, base), newsJson("AAPL", 2L, base + 1))
    q1.processAllAvailable(); q1.stop()
    // lifetime 2: 5 is below the RECOVERED watermark 7 (drop); 9 and 11
    // advance it to 11
    in.addData(newsJson("AAPL", 5L, base + 10), newsJson("AAPL", 11L, base + 11),
      newsJson("AAPL", 9L, base + 12))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    // lifetime 3: a REPLAYED 11 (at-the-watermark) and a 6 both drop
    // against the twice-recovered state; only 12 emits
    in.addData(newsJson("AAPL", 11L, base + 20), newsJson("AAPL", 6L, base + 21),
      newsJson("AAPL", 12L, base + 22))
    val q3 = start()
    q3.processAllAvailable(); q3.stop()
    val ids = spark.read.parquet(s"$dir/out").select("news_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 7L, 9L, 11L, 12L),
      s"got $ids — 5, 6 and the replayed 11 must drop against recovered state")
  }

  test("streaming decontamination: stream-static broadcast join drops eval-overlapping docs") {
    // The batch decontaminate (ops.PipelineOps) as an ingest-time gate: a
    // static eval shingle set broadcasts into the stream, so each
    // micro-batch filters map-side — no stream-side shuffle, no state.
    import org.apache.spark.sql.functions._
    val evalDocs = Seq("the quick brown fox jumps over the lazy dog")
      .toDF("text")
    val evalSh = evalDocs
      .select(explode(graft.functions.TextFunctions.shingleHashes(col("text"))).as("sh"))
      .distinct()
    val in = MemoryStream[(Long, String)]
    val docs = in.toDS().toDF("doc_id", "text")
    val hits = docs
      .select(col("doc_id"), explode(graft.functions.TextFunctions.shingleHashes(col("text"))).as("sh"))
      .join(broadcast(evalSh), Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 2)
    val q = hits.writeStream.format("memory").queryName("decon_hits")
      .outputMode(OutputMode.Complete).start()
    in.addData(
      (1L, "the quick brown fox jumps high"),          // 2 shared shingles
      (2L, "completely unrelated text about spark"),   // clean
      (3L, "over the lazy dog sleeps all day"))        // 2 shared shingles
    q.processAllAvailable()
    q.stop()
    val flagged = spark.sql("SELECT doc_id FROM decon_hits ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(flagged == Seq(1L, 3L), s"flagged $flagged")
  }

  test("streaming exact dedup: first occurrence wins across batches AND restarts") {
    withRocksDBStateStore {
      val dir = graft.sources.Scratch.tempDir("graft_sed")
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
      in.addData("doc a", "doc b", "doc a") // intra-batch dup
      q1.processAllAvailable()
      in.addData("doc b", "doc c")          // cross-batch dup
      q1.processAllAvailable()
      q1.stop()
      in.addData("doc a", "doc d")          // dup across RESTART
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val got = spark.read.parquet(s"$dir/out").as[String].collect().sorted.toSeq
      assert(got == Seq("doc a", "doc b", "doc c", "doc d"), s"got $got")
    }
  }

  test("W1 sink: hive-partitioned exactly-once file sink") {
    val dir = graft.sources.Scratch.tempDir("graft_sink")
    val in = MemoryStream[String]
    val q = Pipelines.partitionedWriter(
      Pipelines.quotes(Pipelines.decodeQuotes(in.toDF().toDF("value"))),
      tsCol = "event_ts", path = s"$dir/data", checkpoint = s"$dir/ckpt").start()
    in.addData(quoteJson("AAPL", 1.0, 1700000000L), quoteJson("MSFT", 2.0, 1700003600L))
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(s"$dir/data")
    assert(written.count() == 2)
    // event-time partitions: 22:13:20 and 23:13:20 UTC -> hours 22 and 23
    assert(written.select("hour").distinct().as[String].collect().toSet == Set("22", "23"))
    val f = new java.io.File(s"$dir/data/year=2023/month=11/day=14/hour=22")
    assert(f.isDirectory, s"expected hive path, got ${f}")
  }
}
