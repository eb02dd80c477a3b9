package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.TextIndexStore

/** The parquet schema catalog in [[Tables]]: a path's schema is inferred
  * once per (session, path, fingerprint), later reads run no Spark job,
  * and nothing but the schema is reused.
  */
class TablesCatalogSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String =
    graft.sources.Scratch.tempDir(prefix)

  /** Write `df` as ONE parquet file at `file` (the fixture layout). */
  private def writeFile(df: DataFrame, file: String): Unit = {
    val stage = tmp("graft_tables_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeated load and a repeated stored-BM25 construction run no Spark job") {
    val dir = tmp("graft_tables_jobs")
    writeFile(spark.range(10).toDF("id"), s"$dir/t.parquet")
    val (_, missJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(missJobs >= 1, "the first load infers the footer schema in a job")
    val (df, hitJobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(hitJobs == 0)
    assert(df.count() == 10)

    Tables.load(spark, sf0001, "documents")
    assert(jobsDuring(Tables.load(spark, sf0001, "documents"))._2 == 0)

    val idx = TextIndexStore.ensure(spark, sf0001, tmp("graft_tables_idx") + "/idx")
    val terms = Seq("hash", "join", "vector")
    val first = TextIndexStore.bm25(spark, idx, terms).collect().toSeq
    val (again, jobs) = jobsDuring(TextIndexStore.bm25(spark, idx, terms))
    assert(jobs == 0, "stored BM25 construction reads the index with cached schemas")
    assert(again.collect().toSeq == first)
    TextIndexStore.hybridRrf(spark, idx, terms).collect()
    assert(jobsDuring(TextIndexStore.hybridRrf(spark, idx, terms))._2 == 0)
  }

  test("a table overwritten with a different schema is read with the new one") {
    val dir = tmp("graft_tables_overwrite")
    writeFile(spark.range(3).toDF("a"), s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    writeFile(spark.range(4).select(col("id").cast("string").as("b"), lit(1.5).as("c")),
      s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(after.columns.toSeq == Seq("b", "c") && after.count() == 4)

    // a directory table rewritten by Spark (the store layout)
    val tree = s"$dir/u.parquet"
    spark.range(2).toDF("x").write.parquet(tree)
    assert(Tables.read(spark, tree).columns.toSeq == Seq("x"))
    spark.range(5).select(col("id").as("y"), col("id").as("z"))
      .write.mode("overwrite").parquet(tree)
    val u = Tables.read(spark, tree)
    assert(u.columns.toSeq == Seq("y", "z") && u.count() == 5)
  }

  test("a missing path raises the same AnalysisException as a plain read") {
    val missing = tmp("graft_tables_missing") + "/nowhere"
    val plain = intercept[AnalysisException](spark.read.parquet(s"$missing/orders.parquet"))
    val viaTables = intercept[AnalysisException](Tables.load(spark, missing, "orders"))
    assert(viaTables.getMessage == plain.getMessage)
    val events = intercept[AnalysisException](Tables.load(spark, missing, "events"))
    assert(events.getCondition == plain.getCondition)
  }

  test("two loads of one table are distinct relations: a self-join resolves") {
    val a = Tables.load(spark, sf0001, "orders")
    val b = Tables.load(spark, sf0001, "orders")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty)
    val joined = a.join(b, a("o_orderkey") === b("o_orderkey"))
    assert(joined.count() == a.count())
  }

  test("loading every fixture table leaves the session conf unchanged") {
    val before = spark.conf.getAll
    for (dir <- Seq(sf0001, sf001); name <- Tables.names) {
      Tables.load(spark, dir, name).schema
      Tables.load(spark, dir, name).schema
    }
    assert(spark.conf.getAll == before)
    assert(!spark.conf.getOption(NanosAsLong).contains("true"))
    // the fixtures are the micros vintage: ts is a session-TZ timestamp
    assert(Tables.load(spark, sf0001, "events").schema("ts").dataType
      == org.apache.spark.sql.types.TimestampType)
  }

  test("concurrent loads from Par.inParallel threads agree with a plain read") {
    val dir = tmp("graft_tables_concurrent")
    (0 until 4).foreach(i =>
      writeFile(spark.range(i + 1).select((0 to i).map(j => lit(j).as(s"c$j")): _*),
        s"$dir/t$i.parquet"))
    val seen = new ConcurrentLinkedQueue[(String, String, org.apache.spark.sql.types.StructType)]()
    val tables = (0 until 4).map(i => (dir, s"t$i")) ++ Tables.names.map(n => (sf0001, n))
    Par.inParallel((0 until 8).map(_ => () =>
      tables.foreach { case (d, n) => seen.add((d, n, Tables.load(spark, d, n).schema)) }): _*)
    assert(seen.size == 8 * tables.size)
    seen.asScala.groupBy(x => (x._1, x._2)).foreach { case ((d, n), xs) =>
      assert(xs.map(_._3).toSet.size == 1, s"$d/$n")
      if (n != "events")
        assert(xs.head._3 == spark.read.parquet(s"$d/$n.parquet").schema, s"$d/$n")
    }
  }

  test("the nanos vintage of events sets nanosAsLong and truncates to micros") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val prev = spark.conf.getOption(NanosAsLong)
    try {
      spark.conf.unset(NanosAsLong)
      val micros = (df: DataFrame) => df.select(unix_micros(col("ts"))).head.getLong(0)
      assert(micros(Tables.load(spark, dir, "events")) == 1700000000123456L)
      assert(spark.conf.get(NanosAsLong) == "true")
      // a catalog hit decides the vintage from the cached schema
      spark.conf.unset(NanosAsLong)
      val (again, jobs) = jobsDuring(Tables.load(spark, dir, "events"))
      assert(jobs == 0 && spark.conf.get(NanosAsLong) == "true")
      assert(micros(again) == 1700000000123456L)
    } finally prev match {
      case Some(v) => spark.conf.set(NanosAsLong, v)
      case None => spark.conf.unset(NanosAsLong)
    }
  }
}
