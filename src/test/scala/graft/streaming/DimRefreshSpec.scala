package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Slowly-changing-dimension refresh for stream enrichment. A plain
  * stream-static join binds the static side's FILE LISTING at query start
  * — a dim overwritten mid-stream keeps enriching with stale rows. The
  * engine's recipe is foreachBatch + re-read: the dim parquet is loaded
  * fresh INSIDE each micro-batch function, so batch N joins the dim as of
  * batch N, at the cost of one dim read per trigger (a broadcast-sized
  * read at lake scale — dims are small; that is why they broadcast).
  * This pins the recipe's observable contract: rows arriving after a dim
  * overwrite join against the NEW dim version.
  */
class DimRefreshSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("foreachBatch re-read joins each micro-batch against the dim as of that batch") {
    val dir = graft.sources.Scratch.tempDir("graft_dimref")
    def writeDim(tag: String): Unit =
      Seq(("AAPL", tag), ("MSFT", tag)).toDF("symbol", "sector")
        .write.mode("overwrite").parquet(s"$dir/dim")

    writeDim("v1")
    val in = MemoryStream[String]
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = in.toDS().toDF("symbol").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val dim = spark.read.parquet(s"$dir/dim") // fresh listing per batch
        got.synchronized {
          got ++= batch.join(broadcast(dim), Seq("symbol"))
            .select("symbol", "sector").as[(String, String)].collect()
        }
        ()
      }
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()

    in.addData("AAPL")
    q.processAllAvailable()
    writeDim("v2") // the dim changes BETWEEN micro-batches
    in.addData("MSFT")
    q.processAllAvailable()
    q.stop()

    assert(got.toSet == Set(("AAPL", "v1"), ("MSFT", "v2")),
      s"expected batch-2 rows to see the refreshed dim, got $got")
  }
}
