package graft.streaming

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The CMS maintainer's whole contract in one pin: the merged streamed
  * layers are BYTE-IDENTICAL to a one-pass batch sketch of the same
  * rows, regardless of how the stream sliced them — incremental == batch
  * unconditionally, the property the other incremental indexes need
  * spec machinery to establish.
  */
class StreamingCmsSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("merged streamed layers == one-pass batch sketch, byte for byte") {
    val dir = graft.sources.Scratch.tempDir("graft_cms_stream")
    val in = MemoryStream[Long]
    val q = StreamingCms.start(in.toDF().toDF("user_id"), "user_id",
      s"$dir/store", s"$dir/ckpt")
    val keys = (1L to 500L).map(_ % 37) ++ Seq.fill(50)(7L)
    // three arbitrary slices
    in.addData(keys.take(100): _*); q.processAllAvailable()
    in.addData(keys.slice(100, 400): _*); q.processAllAvailable()
    in.addData(keys.drop(400): _*); q.processAllAvailable()
    q.stop()

    val streamed = StreamingCms.mergedImage(spark, s"$dir/store")
    val batch = keys.toDF("user_id")
      .agg(graft.functions.CmsFunctions.cmsAgg(spark, col("user_id")))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(streamed, batch),
      "streamed layer fold must equal the batch image exactly")
    // and the estimates behave: hot key 7 reads >= its true count
    val est = graft.functions.CountMin.query(streamed, 7L,
      graft.functions.CountMin.DefaultDepth, graft.functions.CountMin.DefaultWidth)
    val truth = keys.count(_ == 7L)
    assert(est >= truth && est <= truth + 20, s"est $est vs true $truth")
  }

  test("a string key fails at analysis and runs no job") {
    val dir = graft.sources.Scratch.tempDir("graft_cms_string")
    val batch = Seq(("a", 1L), ("b", 2L)).toDF("source", "n")
    val (e, jobs) = jobsDuring(intercept[AnalysisException](
      StreamingCms.sketchBatch(spark, batch, 0L, "source", s"$dir/store")))
    assert(e.getMessage.contains("cms_agg"), e.getMessage)
    assert(jobs == 0, s"$jobs jobs ran")
    assert(!new java.io.File(s"$dir/store").exists())
  }
}
