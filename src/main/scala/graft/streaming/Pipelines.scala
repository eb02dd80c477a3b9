package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.model.{NewsArticle, Schemas, StockQuote}
import graft.sources.StoreLifecycle

/** The reference's two dataflows (SURVEY.md §3.1/§3.2) as Structured
  * Streaming transformations. Each stage is a DataFrame -> DataFrame
  * function, so the same graph runs over a MemoryStream in tests, a file
  * drop-dir locally, or a Kafka/Kinesis connector in production — the
  * source is a parameter, the dataflow is the engine.
  *
  * Stage mapping (ids from SURVEY.md §2.1):
  *   E2 decode -> F1/F2 validate -> P1/P2+T1 project/cast -> (news only:
  *   O1 sort + D1 dedup) -> K1 repartition(symbol) -> W1/W2 hive-
  *   partitioned sink with checkpointing (upgrades R1's at-least-once to
  *   exactly-once).
  */
object Pipelines {

  // ---- quotes ----------------------------------------------------------

  /** E2: raw JSON line -> typed columns (PERMISSIVE: corrupt rows null out
    * and are dropped by the F1 filter, reproducing R2's skip-and-continue;
    * ref processor_stock_quotes.py:56-62).
    */
  def decodeQuotes(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast(StringType), Schemas.quoteWire).as("q"))
      .select(col("q.*"))

  /** F1: a decoded quote is valid when it carries a price and a time;
    * any other line is R2's skip (or, in the dead-letter lake, its side
    * output).
    */
  private val validQuote: Column = col("c").isNotNull && col("t").isNotNull

  /** F1 validate + P1 project/rename + T1 epoch->timestamp
    * (ref producer_stock_quotes.py:65-70,83-111).
    */
  def quotes(decoded: DataFrame): DataFrame =
    decoded
      .filter(validQuote)
      .select(
        col("symbol"),
        current_timestamp().as("fetch_ts"),
        timestamp_seconds(col("t")).as("event_ts"),
        col("c").as("current_price"),
        col("d").as("change"),
        col("dp").as("percent_change"),
        col("h").as("high_price_day"),
        col("l").as("low_price_day"),
        col("o").as("open_price_day"),
        col("pc").as("previous_close_price"))

  /** Per-minute OHLC candles per symbol over event time — the reference's
    * 60 s poll cadence (S1) becomes a watermarked tumbling window. State is
    * bounded by the watermark: late quotes beyond `late` are dropped
    * observably (StreamingQueryProgress), mirroring the lookback contract.
    */
  def ohlcCandles(quotes: DataFrame, late: String = "2 minutes"): DataFrame =
    quotes
      .withWatermark("event_ts", late)
      .groupBy(window(col("event_ts"), "1 minute"), col("symbol"))
      .agg(
        // tie-break equal-timestamp quotes on price so open/close are
        // deterministic (same fix as the batch q_ohlc_daily)
        min_by(col("current_price"), struct(col("event_ts"), col("current_price"))).as("open"),
        max(col("current_price")).as("high"),
        min(col("current_price")).as("low"),
        max_by(col("current_price"), struct(col("event_ts"), col("current_price"))).as("close"),
        count(lit(1)).as("n_quotes"))
      .select(col("window.start").as("minute"), col("symbol"),
        col("open"), col("high"), col("low"), col("close"), col("n_quotes"))

  /** E1: producer-side serialization — one JSON line per record, the
    * topic wire format (ref producer_stock_quotes.py:132 json.dumps).
    * Inverse of decodeQuotes/decodeNews up to column order.
    */
  def encodeForTopic(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** K1 on a keyed broker: (key, value) wire rows — the Kafka sink hashes
    * `key` to a partition, reproducing the reference's
    * PartitionKey=symbol per-key ordering guarantee
    * (producer_stock_quotes.py:126-129).
    */
  def encodeForTopicKeyed(df: DataFrame, keyCol: String = "symbol"): DataFrame =
    df.select(col(keyCol).cast(StringType).as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Python's `datetime.isoformat()` for a UTC timestamp:
    * "2024-01-02T03:04:05+00:00", with ".ffffff" microseconds appended
    * ONLY when non-zero (isoformat omits a zero fraction) and "+00:00"
    * rather than the "Z" date_format's XXX pattern emits. Event times
    * built from unix seconds are whole-second; fetch timestamps
    * (current_timestamp) are not — both must round-trip byte-equal.
    */
  private def pyIso(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val micros = unix_micros(ts) % 1000000L
    concat(
      date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
      when(micros =!= 0L, concat(lit("."), lpad(micros.cast("string"), 6, "0")))
        .otherwise(lit("")),
      lit("+00:00"))
  }

  /** Compat projection to the reference's EXACT quote wire fields — the
    * engine normalizes each event time to one TimestampType column
    * (SURVEY.md §1.3), but the reference carries timestamps redundantly
    * as unix seconds AND an ISO-8601 string
    * (producer_stock_quotes.py:98-110: quote_timestamp_unix +
    * quote_timestamp_utc + fetch_timestamp_utc). This projection derives
    * the wire pair back from the typed columns, so engine output is
    * field-for-field comparable with reference lake rows (round-trip
    * asserted in StreamingSpec).
    */
  def withWireColumns(quotes: DataFrame): DataFrame =
    quotes.select(
      col("symbol"),
      pyIso(col("fetch_ts")).as("fetch_timestamp_utc"),
      unix_timestamp(col("event_ts")).as("quote_timestamp_unix"),
      pyIso(col("event_ts")).as("quote_timestamp_utc"),
      col("current_price"), col("change"), col("percent_change"),
      col("high_price_day"), col("low_price_day"),
      col("open_price_day"), col("previous_close_price"))

  /** News-side wire compat (producer_company_news.py:152-164): the
    * article_published unix/ISO pair derives from the one typed
    * published_ts; nulls propagate like the producer's None handling
    * (ref :144-150).
    */
  def withNewsWireColumns(articles: DataFrame): DataFrame =
    articles.select(
      col("symbol"),
      col("news_id"),
      pyIso(col("fetch_ts")).as("fetch_timestamp_utc"),
      unix_timestamp(col("published_ts")).as("article_published_unix"),
      pyIso(col("published_ts")).as("article_published_utc"),
      col("category"), col("headline"), col("summary"),
      col("source"), col("url"), col("image_url"))

  // ---- news ------------------------------------------------------------

  def decodeNews(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast(StringType), Schemas.newsWire).as("a"))
      .select(col("a.*"))

  /** F2: a decoded article is valid when it has a `symbol` — a failed
    * JSON decode nulls the whole struct; a null `id` or `datetime` stays
    * VALID (null news_id legitimately bypasses dedup, null published_ts
    * is the producer's None handling — ref :144-150).
    */
  private val validNews: Column = col("symbol").isNotNull

  /** F2 type-guard + P2 project + T1 cast -> typed Dataset for the
    * stateful dedup (ref producer_company_news.py:100-164).
    */
  def newsArticles(decoded: DataFrame)(implicit spark: SparkSession): Dataset[NewsArticle] = {
    decoded
      .filter(validNews)
      .select(
        col("symbol"),
        col("id").as("news_id"),
        current_timestamp().as("fetch_ts"),
        when(col("datetime").isNotNull, timestamp_seconds(col("datetime")))
          .as("published_ts"),
        col("category"), col("headline"), col("summary"),
        col("source"), col("url"),
        col("image").as("image_url"))
      .as[NewsArticle](Encoders.product[NewsArticle])
  }

  /** Full news pipeline: decode -> project -> D1 high-watermark dedup
    * (O1's sort happens inside the keyed state function).
    */
  def news(raw: DataFrame)(implicit spark: SparkSession): Dataset[NewsArticle] =
    HighWatermarkDedup(newsArticles(decodeNews(raw)))

  /** Streaming as-of with bounded lookback: for each news article, the
    * latest quote of the same symbol in [published - lookback, published]
    * — the natural cross-stream query of the reference's two topics
    * ("price context at publish time"). A TRUE as-of cannot stream (its
    * lookback is unbounded, so join state would be too); the explicit
    * lookback is what makes the stream-stream join's state
    * watermark-finite, and is the domain's real contract — a quote older
    * than the lookback is stale context anyway. Two chained stateful
    * operators (watermarked interval join, then per-article max_by),
    * relying on Spark 4 watermark propagation; articles with no quote in
    * the window produce no row (inner semantics). Batch as-of with
    * unbounded lookback stays `ops.AsOfJoin`/`plans.NativeAsOfJoin`.
    */
  def newsWithLatestQuote(quotes: DataFrame, news: DataFrame,
      lookback: String = "1 hour", late: String = "2 minutes"): DataFrame = {
    val q = quotes.withWatermark("event_ts", late)
      .select(col("symbol").as("q_sym"), col("event_ts"), col("current_price"))
    val n = news.withWatermark("published_ts", late)
      .select(col("symbol"), col("news_id"), col("published_ts"))
    n.join(q,
        col("symbol") === col("q_sym") &&
          col("event_ts") >= col("published_ts") - expr(s"INTERVAL $lookback") &&
          col("event_ts") <= col("published_ts"))
      .groupBy(col("symbol"), col("news_id"), col("published_ts"))
      .agg(
        max(col("event_ts")).as("asof_quote_ts"),
        max_by(col("current_price"), struct(col("event_ts"), col("current_price")))
          .as("asof_price"))
  }

  // ---- sinks -----------------------------------------------------------

  /** W1/W2: hive-partitioned file sink, with a compat switch for the
    * reference's processing-time partitions (ref
    * processor_stock_quotes.py:68 uses arrival time; event time is the
    * sane default for a queryable lake — SURVEY.md §7.4).
    */
  def withHivePartitions(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn("year", date_format(col(tsCol), "yyyy"))
      .withColumn("month", date_format(col(tsCol), "MM"))
      .withColumn("day", date_format(col(tsCol), "dd"))
      .withColumn("hour", date_format(col(tsCol), "HH"))

  /** foreachBatch sink with dynamic partition overwrite: each micro-batch
    * REPLACES the partitions it touches instead of appending, so replaying
    * a batch after a failure (R1's at-least-once redelivery) converges to
    * the same lake state — idempotence by partition, the standard upgrade
    * path when the target isn't a transactional table format.
    *
    * CONTRACT: at most one micro-batch may ever emit rows for a given
    * `partitionCol` value — overwrite REPLACES, it does not merge, so a
    * partition written by two different batches keeps only the later
    * batch's rows. Safe when the partition column is derived from the
    * batch's watermark-closed window (each window closes exactly once);
    * NOT safe for a partition column coarser than the trigger window or
    * for late-reopened windows — use a transactional format with MERGE
    * there instead.
    */
  def idempotentPartitionSink(df: DataFrame, partitionCol: String, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-writer dynamic overwrite, NOT session conf: mutating the
        // shared conf would make every later overwrite in the session dynamic
        StoreLifecycle.replacePartitions(batch, path, partitionCol)
      }

  /** foreachBatch sink that MERGES into touched partitions instead of
    * replacing them — the sibling of idempotentPartitionSink for the case
    * its contract forbids: several micro-batches legitimately emitting
    * rows into the same partition value (late-closing windows, partition
    * column coarser than the trigger window). Per batch: read the
    * touched partitions' existing rows (partition-pruned scan), union,
    * keep ONE row per `keyCols` preferring the incoming batch (so replays
    * and corrections converge — the poor man's MERGE for a
    * non-transactional file lake), dynamic-overwrite those partitions.
    * The only driver-side data is the list of touched partition VALUES —
    * bounded by partitions-per-batch, never rows. If one batch contains
    * several rows for the SAME key, which of them survives is
    * unspecified — dedupe upstream if intra-batch order matters.
    */
  def mergingPartitionSink(df: DataFrame, partitionCol: String, keyCols: Seq[String],
      path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val touched = batch.select(col(partitionCol)).distinct()
          .collect().map(_.get(0)).toSeq
        if (touched.nonEmpty) {
          // null partition values (the default-partition dir) need an
          // explicit isNull arm: SQL IN never matches null, and missing
          // them here would let the overwrite below DELETE their history
          val nonNull = touched.filter(_ != null)
          val touchedCond = {
            val in = if (nonNull.nonEmpty)
              col(partitionCol).isInCollection(nonNull) else lit(false)
            if (touched.exists(_ == null)) in || col(partitionCol).isNull else in
          }
          val existing =
            try spark.read.schema(batch.schema).parquet(path).filter(touchedCond)
            catch { case _: org.apache.spark.sql.AnalysisException =>
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[Row], batch.schema)
            }
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col("__is_new").desc)
          val merged = batch.withColumn("__is_new", lit(1))
            .unionByName(existing.withColumn("__is_new", lit(0)))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .drop("__is_new", "__rn")
          StoreLifecycle.replacePartitions(merged, path, partitionCol)
        }
      }

  /** Checkpointed partitioned writer — exactly-once file sink (upgrade of
    * R1's whole-batch retry; SURVEY.md §2.1 R1).
    */
  def partitionedWriter(df: DataFrame, tsCol: String, path: String,
      checkpoint: String, format: String = "parquet",
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    withHivePartitions(df, tsCol).writeStream
      .format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day", "hour")
      .outputMode(OutputMode.Append)
      .trigger(trigger)

  /** Streaming dead-letter variant of the quotes lake write: every raw
    * topic line that fails decode/validation (R2's skip path, which the
    * plain pipeline drops silently) lands verbatim under `dlPath` while
    * valid rows land in the hive-partitioned lake — the log-and-continue
    * observability of the reference's processor
    * (processor_stock_quotes.py:56-62) as a side output instead of a log
    * line. REPLAY-CONVERGENT, not blind append: both outputs are keyed
    * by batch_id, so re-running a batch after a failure rewrites exactly
    * its own output instead of duplicating it.
    */
  def quotesLakeWithDeadLetter(raw: DataFrame, lakePath: String,
      dlPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    lakeWithDeadLetter(raw, Schemas.quoteWire, validQuote, "event_ts",
      lakePath, dlPath, checkpoint, trigger)(quotes)

  /** News-side dead-letter lake write — the same R2 side output for the
    * second record type (the reference logs skips in BOTH processors:
    * processor_company_news.py:37-45): a line is dead-lettered when it
    * fails `validNews`. The lake partitions by published_ts (null lands
    * in the default partition).
    */
  def newsLakeWithDeadLetter(raw: DataFrame, lakePath: String,
      dlPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    lakeWithDeadLetter(raw, Schemas.newsWire, validNews, "published_ts",
      lakePath, dlPath, checkpoint, trigger)(d => newsArticles(d)(d.sparkSession).toDF())

  /** The dead-letter lake writer of both topics. foreachBatch because one
    * streaming query cannot feed two sinks: per batch, each raw line is
    * decoded against `wire` once (persisted); lines failing `valid` are
    * written verbatim to `dlPath/batch_id=<id>` (a per-batch directory
    * overwrite), and `typed` of the rest lands in the lake, hive-
    * partitioned on `tsCol` plus batch_id (dynamic partition overwrite) —
    * the same idempotence contract as the sibling partition sinks.
    */
  private def lakeWithDeadLetter(raw: DataFrame, wire: StructType, valid: Column,
      tsCol: String, lakePath: String, dlPath: String, checkpoint: String,
      trigger: Trigger)(typed: DataFrame => DataFrame): DataStreamWriter[Row] =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val decoded = batch
          .select(col("value").cast(StringType).as("value"),
            from_json(col("value").cast(StringType), wire).as("wire"))
          .select(col("value"), col("wire.*"))
          .persist()
        try {
          decoded.filter(!valid)
            .select(col("value"))
            .write.mode("overwrite").text(s"$dlPath/batch_id=$batchId")
          StoreLifecycle.replacePartitions(
            withHivePartitions(typed(decoded.drop("value")), tsCol)
              .withColumn("batch_id", lit(batchId)),
            lakePath, "year", "month", "day", "hour", "batch_id")
        } finally decoded.unpersist()
      }
}
