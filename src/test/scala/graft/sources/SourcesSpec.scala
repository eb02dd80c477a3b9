package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkSpec, Tables}

class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  test("JSONL round-trip with corrupt-record drop (R2 semantics)") {
    val dir = Scratch.tempDir("graft_jsonl")
    val e = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    e.write.mode("overwrite").json(s"$dir/clean")
    // append a corrupt line alongside valid ones
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/clean/zz_corrupt.json"),
      """{"event_id": 1, "user_id": 2, "event_type": "click", "value": 3.0}
        |{"event_id": broken json
        |""".stripMargin)
    val back = Sources.readJsonl(spark, s"$dir/clean", schema)
    assert(back.count() == e.count() + 1) // valid extra row kept, corrupt dropped
  }

  test("corrupt lines are dead-lettered verbatim; main read unaffected") {
    val dir = Scratch.tempDir("graft_dl")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in/mixed.json"),
      """{"event_id": 1, "user_id": 2, "event_type": "click", "value": 3.0}
        |{"event_id": broken json line
        |
        |{"event_id": 2, "user_id": 5, "event_type": "view", "value": 1.0}
        |
        |""".stripMargin)
    val back = Sources.readJsonl(spark, s"$dir/in", schema,
      deadLetterPath = Some(s"$dir/dead"))
    // both valid rows kept; blank/whitespace lines are NOT phantom records
    assert(back.count() == 2)
    assert(back.filter(col("event_id").isNull).count() == 0)
    val dead = spark.read.text(s"$dir/dead").collect().map(_.getString(0))
    assert(dead.length == 1 && dead.head.contains("broken json line"))
  }

  test("readTopic file fallback feeds the unchanged decode stages (config-only transport)") {
    import graft.streaming.{LakeJobs, Pipelines}
    val dir = Scratch.tempDir("graft_topic")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/drop.jsonl"),
      """{"symbol":"AAPL","c":190.5,"d":1.2,"dp":0.6,"h":191.0,"l":188.0,"o":189.0,"pc":189.3,"t":1700000000}
        |{"symbol":"MSFT","c":370.0,"d":-0.5,"dp":-0.1,"h":371.0,"l":368.0,"o":370.5,"pc":370.5,"t":1700000060}
        |not json at all
        |""".stripMargin)
    val raw = Sources.readTopic(spark, LakeJobs.topicConf(dir))
    assert(raw.isStreaming && raw.columns.sameElements(Array("value")))
    val q = Pipelines.quotes(Pipelines.decodeQuotes(raw))
      .writeStream.format("memory").queryName("topic_quotes")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("topic_quotes")
    assert(out.count() == 2) // corrupt line dropped by the F1 filter (R2)
    assert(out.select("symbol").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet == Set("AAPL", "MSFT"))
    // the kafka variant builds from the same options seam
    val kconf = LakeJobs.topicConf("kafka:broker1:9092,broker2:9092/quotes")
    assert(kconf("format") == "kafka" &&
      kconf("kafka.bootstrap.servers") == "broker1:9092,broker2:9092" &&
      kconf("subscribe") == "quotes")
    // the rate smoke source normalizes to the same value:string column
    val rate = Sources.readTopic(spark, Map("format" -> "rate"))
    assert(rate.isStreaming && rate.schema("value").dataType.typeName == "string")
  }

  test("kinesis: URI parses into the spark-sql-kinesis option set (transport parity)") {
    // the connector jar can't run offline; the seam under test is the
    // URI -> reader-options translation a deployer needs
    val conf = graft.streaming.LakeJobs.topicConf(
      "kinesis:https://kinesis.us-east-1.amazonaws.com/stock_quotes")
    assert(conf("format") == "kinesis" &&
      conf("streamName") == "stock_quotes" &&
      conf("endpointUrl") == "https://kinesis.us-east-1.amazonaws.com")
    val opts = Sources.kinesisOptions(conf)
    assert(opts("streamName") == "stock_quotes")
    assert(opts("endpointUrl") == "https://kinesis.us-east-1.amazonaws.com")
    assert(opts("regionName") == "us-east-1") // derived from the endpoint
    assert(opts("startingposition") == "TRIM_HORIZON") // whole retained stream
    // region-only conf synthesizes the standard endpoint; kinesis.* options
    // pass through with the prefix stripped (credentials etc.)
    val opts2 = Sources.kinesisOptions(Map("streamName" -> "s",
      "regionName" -> "eu-west-1", "kinesis.awsAccessKeyId" -> "AKIA",
      "startingposition" -> "LATEST"))
    assert(opts2("endpointUrl") == "https://kinesis.eu-west-1.amazonaws.com")
    assert(opts2("awsAccessKeyId") == "AKIA")
    assert(opts2("startingposition") == "LATEST")
    // missing streamName is a config error, not a silent default
    intercept[IllegalArgumentException](Sources.kinesisOptions(Map.empty))
  }

  test("CSV scan with explicit schema") {
    val dir = Scratch.tempDir("graft_csv")
    val e = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    e.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val back = Sources.readCsv(spark, s"$dir/csv", schema)
    assert(back.count() == e.count())
    assert(back.schema("value").dataType == DoubleType)
    val sum0 = e.agg(sum("event_id")).head.getLong(0)
    assert(back.agg(sum("event_id")).head.getLong(0) == sum0)
  }

  test("batch hive-partitioned lake write (W1 layout) prunes partitions") {
    val dir = Scratch.tempDir("graft_lake")
    val e = Tables.load(spark, sf0001, "events")
    Sources.writeHivePartitioned(e, "ts", s"$dir/lake")
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.count() == e.count())
    // partition pruning: filtering on hour touches only matching dirs
    val pruned = lake.filter(col("year") === "2024" && col("hour") === "01")
    val expect = e.filter(date_format(col("ts"), "HH") === "01").count()
    assert(pruned.count() == expect)
    assert(new java.io.File(s"$dir/lake/year=2024/month=01/day=01").isDirectory)
    // ...and the PLAN proves it: the partition predicates land in
    // PartitionFilters (pruned before I/O), not in PushedFilters/Filter
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("year") && pf.contains("hour"), plan.take(600))
  }

  test("file-topic pacing: maxFilesPerTrigger=1 is one drop file per micro-batch") {
    // the reference paces its pollers (2 s / 5 s inter-symbol sleeps,
    // producer_stock_quotes.py:153) so a burst cannot flood the broker;
    // the engine's analog is source-side admission control — a backlog of
    // N files must drain as N bounded micro-batches, not one giant batch
    val dir = Scratch.tempDir("graft_pacing")
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/f$i.jsonl"),
        s"""{"a":$i}\n{"a":${i + 10}}\n""")
    }
    val src = Sources.readTopic(spark,
      Map("format" -> "file", "path" -> dir, "maxFilesPerTrigger" -> "1"))
    val q = src.writeStream.format("memory").queryName("pacing_t")
      .option("checkpointLocation", s"$dir/_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3,
      s"expected 3 paced micro-batches, saw ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows == 2), "each batch is exactly one 2-line file")
    assert(spark.table("pacing_t").count() == 6)
  }

  test("ORC round-trip through the hive-partitioned writer: values, pruning, pushdown") {
    val dir = Scratch.tempDir("graft_orc")
    val e = Tables.load(spark, sf0001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    Sources.writeHivePartitioned(e, "ts", s"$dir/lake", format = "orc")
    val schemaWithParts = StructType(schema.fields ++ Seq(
      StructField("ts", TimestampType), StructField("year", IntegerType),
      StructField("month", IntegerType), StructField("day", IntegerType),
      StructField("hour", IntegerType)))
    val back = Sources.readOrc(spark, s"$dir/lake", schemaWithParts)
    // every row and value survives the format round-trip
    assert(back.count() == e.count())
    assert(back.agg(sum(col("event_id"))).head.getLong(0)
      == e.agg(sum(col("event_id"))).head.getLong(0))
    // partition pruning and predicate pushdown reach the ORC scan, same
    // contract as parquet (the 100 TB read path must skip, not filter)
    val q = back.filter(col("hour") === 3 && col("user_id") === 7L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString.contains("hour"),
      plan.take(800))
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("a corrupt lake file degrades to a partial read, not a dead table") {
    // at 100 TB some object WILL arrive truncated (the reference's R2
    // skips corrupt records; a lake needs the file-level analog) —
    // ignoreCorruptFiles turns a poisoned partition into missing rows
    // plus a log line instead of failing every reader of the table
    val dir = Scratch.tempDir("graft_corrupt")
    val e = Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type", "value")
    e.repartition(4).write.mode("overwrite").parquet(s"$dir/lake")
    val files = new java.io.File(s"$dir/lake").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 4)
    // truncate one file mid-body: footer gone, data unreadable
    val ch = java.nio.channels.FileChannel.open(files.head.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(files.head.length() / 2) finally ch.close()
    val key = "spark.sql.files.ignoreCorruptFiles"
    val prev = spark.conf.getOption(key)
    try {
      // default (strict): the read fails loudly — corruption is not silent
      // (schema passed explicitly: inference would die on the lost footer
      // before the per-file tolerance even applies)
      intercept[org.apache.spark.SparkException] {
        spark.conf.set(key, "false")
        spark.read.schema(e.schema).parquet(s"$dir/lake").count()
      }
      // opted in: the other three files' rows survive
      spark.conf.set(key, "true")
      val n = spark.read.schema(e.schema).parquet(s"$dir/lake").count()
      assert(n > 0 && n < e.count(), s"expected a partial read, got $n of ${e.count()}")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("schema evolution: mergeSchema unions columns across file generations") {
    // the lake contract at 100 TB: producers add fields over time; readers
    // must see the union schema with nulls for pre-evolution files
    val dir = Scratch.tempDir("graft_evo")
    import spark.implicits._
    Seq((1L, "AAPL", 190.5)).toDF("id", "symbol", "price")
      .write.parquet(s"$dir/lake/gen=1")
    Seq((2L, "MSFT", 410.0, "nasdaq")).toDF("id", "symbol", "price", "venue")
      .write.parquet(s"$dir/lake/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/lake")
    assert(merged.columns.toSet == Set("id", "symbol", "price", "venue", "gen"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("venue"))) // pre-evolution file
    assert(rows(1).getString(rows(1).fieldIndex("venue")) == "nasdaq")
  }
}
