package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §B),
  * and the session's parquet schema catalog.
  *
  * Plain columnar parquet scans — Catalyst prunes columns and pushes
  * predicates into the scan, so callers just `load(...)` and declare the
  * plan; no manual projection needed. At cluster scale the same call reads
  * a hive-partitioned directory tree with partition pruning for free.
  *
  * Schema catalog: `spark.read.parquet` runs a footer-inference Spark job
  * per call. [[read]] resolves a path's schema once per (session, path,
  * [[fingerprint]]) and then reads `spark.read.schema(cached)`: a fresh
  * relation with fresh attribute ids and a fresh file listing, and no job.
  * Only the schema is cached, so a regenerated table or a swapped-in store
  * is always read as it is on disk now.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `len|mtime` of `path`'s file status: the freshness key of the schema
    * catalog and of every session memo and on-disk store built from a
    * table. Throws FileNotFoundException for a missing path.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    s"${st.getLen}|${st.getModificationTime}"
  }

  // path -> (fingerprint, schema), per session
  private[graft] val schemas = new SessionMemo[String, StructType]()

  /** The cached schema of `path`, from `infer` on a miss or a moved
    * fingerprint; None when the path cannot be stat'ed, so that the plain
    * read raises Spark's own error.
    */
  private def schemaOf(spark: SparkSession, path: String)(
      infer: => StructType): Option[StructType] = {
    val fp = try Some(fingerprint(spark, path))
      catch { case _: java.io.IOException => None }
    // infer runs after the stat: a rewrite in between moves the key
    fp.map(f => schemas(spark, path, Some(f))(infer))
  }

  private def readWith(spark: SparkSession, path: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** `spark.read.parquet(path)` through the schema catalog. */
  def read(spark: SparkSession, path: String): DataFrame =
    readWith(spark, path, schemaOf(spark, path)(spark.read.parquet(path).schema))

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Whether `path`'s `ts` column is parquet TIMESTAMP(NANOS), from one
    * data file's footer, read on the driver.
    */
  private def nanosVintage(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = if (!fs.getFileStatus(p).isDirectory) Some(p)
      else fs.listStatus(p).map(_.getPath).find(f => !f.getName.matches("[_.].*"))
    file.exists { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
  }

  /** One test table, read through the schema catalog.
    *
    * `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and as TIMESTAMP(MICROS) in others; either way it lands as
    * a session-TZ (UTC) TimestampType. The vintage is decided once per
    * fingerprint (a driver-side footer read on a catalog miss, the cached
    * schema after that). Only the nanos vintage sets
    * `spark.sql.legacy.parquet.nanosAsLong` on the session: Spark's reader
    * rejects NANOS outright (PARQUET_TYPE_ILLEGAL), so the raw int64 nanos
    * are read and truncated to micros, exactly like DuckDB. Loading the
    * micros vintage leaves the session conf unchanged.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      import org.apache.spark.sql.functions.{expr, timestamp_micros}
      import org.apache.spark.sql.types.TimestampType
      val path = s"$dir/events.parquet"
      val schema = schemaOf(spark, path) {
        if (nanosVintage(spark, path)) spark.conf.set(NanosAsLong, "true")
        spark.read.parquet(path).schema
      }
      // the nanos vintage's cached ts is the int64 the flag surfaces
      if (schema.exists(_("ts").dataType == LongType)) spark.conf.set(NanosAsLong, "true")
      val raw = readWith(spark, path, schema)
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", raw.col("ts").cast(TimestampType)) // NTZ → UTC
      }
    case _ =>
      read(spark, s"$dir/$name.parquet")
  }

  /** Register every table as a temp view so the SQL entry point
    * (`spark.sql`) can reference the catalog by name — the Athena-style
    * consumption surface the reference deferred (SURVEY.md §3.3).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
