package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.StoreLifecycle
import MediaPayloads._

/** The prior-layers read under every ingest gate: an existing layered
  * store is read with the writer's schema, so judging a batch starts no
  * schema-inference job, and a store that does not exist yet reads as an
  * empty frame.
  */
class IngestGateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = graft.sources.Scratch.tempDir("graft_ingestgate")

  // read once, before any counted window
  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text")
  private def third(i: Int) = docs.filter(col("doc_id") % 3 === i)

  private def videos(i: Int): DataFrame = (i * 4 until i * 4 + 4).map(m =>
      (m.toLong, "video", Array.tabulate[Byte](64)(j => ((m % 3) * 7 + j).toByte)))
    .toDF("media_id", "kind", "bytes")

  private val layer = StructType(Seq(StructField("k", StringType),
    StructField("__batch_id", LongType)))

  test("priorLayers reads only strictly earlier layers and starts no job") {
    val dir = tmp() + "/store"
    for (b <- 0L to 2L)
      StoreLifecycle.replacePartitions(Seq((s"k$b", b)).toDF("k", "__batch_id"),
        dir, "__batch_id")
    val (prior, jobs) = jobsDuring(StoreLifecycle.priorLayers(spark, dir, 2L, layer))
    assert(jobs == 0, s"the read started $jobs jobs")
    assert(prior.schema.map(f => (f.name, f.dataType)) == layer.map(f => (f.name, f.dataType)))
    assert(prior.as[(String, Long)].collect().toSet == Set(("k0", 0L), ("k1", 1L)))
  }

  test("a first batch on a missing store: an empty prior frame, every distinct key admitted") {
    val d = tmp()
    val (rows, jobs) = jobsDuring(
      StoreLifecycle.priorLayers(spark, s"$d/store", 0L, layer).collect())
    assert(rows.isEmpty && jobs == 0, s"${rows.length} rows, $jobs jobs")
    assert(StoreLifecycle.priorLayers(spark, s"$d/store", 0L, layer).schema == layer)
    assert(!new java.io.File(s"$d/store").exists(), "the read created the store")
    val admitted = StreamingFrameDedup.dedupBatch(spark, videos(0), 0L, s"$d/store", s"$d/out")
    assert(admitted.count() ==
      StreamingFrameDedup.frames(videos(0)).select("frame_md5").distinct().count())
  }

  /** Two layers, then the schema-inference jobs of the third batch. */
  private def thirdBatchInferenceJobs(batch: (Int, String) => Unit): Int = {
    val d = tmp()
    batch(0, d); batch(1, d)
    inferenceJobsDuring(batch(2, d))._2
  }

  private def images(i: Int): DataFrame = (i match {
    case 0 => Seq((1L, "image", enc(img(64, 48, 1), "png")), (2L, "image", enc(img(64, 48, 2), "png")))
    case 1 => Seq((3L, "image", enc(img(64, 48, 1), "bmp")), (4L, "image", enc(img(64, 48, 3), "png")))
    case _ => Seq((5L, "image", enc(img(64, 48, 2), "bmp")), (6L, "image", enc(img(64, 48, 4), "png")))
  }).toDF("media_id", "kind", "bytes")

  private def mixed(i: Int): DataFrame = {
    val wav = envWav(8000, 8000f, 12000)
    val clip = animatedGif(Seq(0, 1, 2, 3).map(q => quadrantImage(64, 48, q)))
    (Seq((i * 10L, "audio", wav), (i * 10L + 1, "video", clip),
      (i * 10L + 2, "image", enc(img(64, 48, i), "png"))))
      .toDF("media_id", "kind", "bytes")
  }

  // (name, the store reads that inferred their schema with one job each
  // before they read with the writer's, the batch)
  private val cases: Seq[(String, Int, (Int, String) => Unit)] = Seq(
    ("StreamingNearDedup.dedupBatch", 1, (i, d) =>
      StreamingNearDedup.dedupBatch(spark, third(i), i.toLong, s"$d/store", s"$d/out", 0.6)),
    ("StreamingMediaDedup.dedupBatch", 1, (i, d) =>
      StreamingMediaDedup.dedupBatch(spark, images(i), i.toLong, s"$d/store", s"$d/out", 7)),
    ("StreamingFrameDedup.dedupBatch", 1, (i, d) =>
      StreamingFrameDedup.dedupBatch(spark, videos(i), i.toLong, s"$d/store", s"$d/out")),
    ("MediaIngestJob.ingestBatch", 5, (i, d) =>
      MediaIngestJob.ingestBatch(spark, mixed(i), i.toLong, d)),
    ("StreamingPackedShards.packBatch", 1, (i, d) =>
      StreamingPackedShards.packBatch(spark, third(i), i.toLong, s"$d/store", s"$d/out",
        budget = 64L)))

  // the names keep the job saving of each case: every store read used to
  // infer its schema with one job, and now none infers
  for ((name, inferred, batch) <- cases)
    test(s"$name on a two-layer store runs $inferred fewer jobs than with schema inference") {
      val jobs = thirdBatchInferenceJobs(batch)
      assert(jobs == 0, s"$jobs schema-inference jobs")
    }
}
