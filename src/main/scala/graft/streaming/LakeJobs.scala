package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Runnable lake jobs — the user-facing replacement for the reference's
  * producer->Kinesis->Lambda->S3 chains (SURVEY.md §3.1/§3.2). Each job is
  * one Structured Streaming query: a JSON-lines drop directory (swap for a
  * Kafka/Kinesis connector in production — the dataflow is source-
  * agnostic) through the pipeline stages into the hive-partitioned,
  * checkpointed (exactly-once) lake.
  *
  * Usage:
  *   runMain graft.streaming.QuotesLakeJob <srcDir> <lakeDir> <checkpointDir> [continuous]
  *   runMain graft.streaming.NewsLakeJob   <srcDir> <lakeDir> <checkpointDir> [continuous]
  *
  * Without "continuous" the job drains what's available and exits
  * (Trigger.AvailableNow) — the batch-catchup mode; with it, it polls like
  * the reference's 60 s / 15 min cycles (H1) via ProcessingTime triggers.
  */
object QuotesLakeJob {
  def main(args: Array[String]): Unit =
    LakeJobs.run(args, "quotes", graft.model.GraftConfig.QuotesCadence)
}

object NewsLakeJob {
  def main(args: Array[String]): Unit =
    LakeJobs.run(args, "news", graft.model.GraftConfig.NewsCadence)
}

object LakeJobs {

  def session(): SparkSession =
    graft.GraftSession.builder(graft.GraftSession.cpus("4"), sys.env.get("SPARK_MASTER"))
      .appName("graft-lake-job")
      .getOrCreate()

  /** Topic config from the CLI source arg — the config-only transport
    * switch (parity with the reference's broker stage,
    * terraform/kinesis.tf:4-40): "kafka:<bootstrap-servers>/<topic>"
    * selects the Kafka connector, "kinesis:<endpoint-url>/<streamName>"
    * the Kinesis connector (Sources.kinesisOptions derives the region
    * from a standard endpoint); anything else is a JSONL drop directory.
    */
  def topicConf(src: String): Map[String, String] =
    if (src.startsWith("kafka:")) {
      val rest = src.stripPrefix("kafka:")
      val idx = rest.lastIndexOf('/')
      require(idx > 0, "kafka source must be kafka:<bootstrap-servers>/<topic>")
      Map("format" -> "kafka",
        "kafka.bootstrap.servers" -> rest.substring(0, idx),
        "subscribe" -> rest.substring(idx + 1))
    } else if (src.startsWith("kinesis:")) {
      val rest = src.stripPrefix("kinesis:")
      val idx = rest.lastIndexOf('/')
      require(idx > 0, "kinesis source must be kinesis:<endpoint-url>/<streamName>")
      Map("format" -> "kinesis",
        "endpointUrl" -> rest.substring(0, idx),
        "streamName" -> rest.substring(idx + 1))
    } else Map("format" -> "file", "path" -> src)

  def run(args: Array[String], kind: String, cadence: String): Unit = {
    require(args.length >= 3, "args: <src> <lakeDir> <checkpointDir> [continuous]")
    val Array(src, lake, ckpt) = args.take(3)
    val continuous = args.length > 3 && args(3) == "continuous"
    implicit val spark: SparkSession = session()
    spark.sparkContext.setLogLevel("WARN")
    val raw = graft.sources.Sources.readTopic(spark, topicConf(src))
    val trigger =
      if (continuous) Trigger.ProcessingTime(cadence) else Trigger.AvailableNow()
    val query = kind match {
      case "quotes" =>
        Pipelines.partitionedWriter(
          Pipelines.quotes(Pipelines.decodeQuotes(raw)),
          tsCol = "event_ts", path = lake, checkpoint = ckpt, trigger = trigger).start()
      case "news" =>
        Pipelines.partitionedWriter(
          Pipelines.news(raw).toDF(),
          tsCol = "published_ts", path = lake, checkpoint = ckpt, trigger = trigger).start()
    }
    query.awaitTermination()
  }
}
