package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class RollupSpecEv(ts: Timestamp, event_type: String, value: Double)

class RollupMaintenanceSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private type Ev = RollupSpecEv
  private val Ev = RollupSpecEv
  private def ev(day: Int, et: String, v: Double) =
    Ev(Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), et, v)

  private def recompute(all: Seq[Ev]): DataFrame =
    all.toDF()
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(28,2)").as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))

  private def stored(path: String): DataFrame =
    spark.read.schema(RollupMaintenance.rollupSchema).parquet(path)
      .select("day", "event_type", "n", "sv", "mn", "mx")

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      s"rollup mismatch:\n${a.collect().mkString("\n")}\nvs\n${b.collect().mkString("\n")}")
  }

  test("partials merge to the full recompute; replayed batches are no-ops per day") {
    val path = graft.sources.Scratch.tempDir("graft_rollup") + "/t"
    val b1 = Seq(ev(1, "click", 1.0), ev(1, "view", 2.0), ev(2, "click", 4.0))
    val b2 = Seq(ev(1, "click", 8.0), ev(3, "view", 16.0)) // day 1 updated, day 3 new

    RollupMaintenance.applyBatch(spark, path, b1.toDF(), batchId = 0L)
    assertSame(stored(path), recompute(b1))

    RollupMaintenance.applyBatch(spark, path, b2.toDF(), batchId = 1L)
    assertSame(stored(path), recompute(b1 ++ b2))

    // replay of batch 1 (same id): every touched day already carries id 1
    RollupMaintenance.applyBatch(spark, path, b2.toDF(), batchId = 1L)
    assertSame(stored(path), recompute(b1 ++ b2))
  }

  test("crash inside the swap recovers from the committed stage, no history loss") {
    // the dangerous half-state: stage committed (_STAGED marker), target
    // day DELETED, replacement not yet moved — the exact window where a
    // plain dynamic overwrite would lose the day's history on retry
    val path = graft.sources.Scratch.tempDir("graft_rollup_c") + "/t"
    val b1 = Seq(ev(1, "click", 1.0), ev(2, "view", 2.0))
    RollupMaintenance.applyBatch(spark, path, b1.toDF(), batchId = 0L)
    val b2 = Seq(ev(1, "click", 4.0))
    RollupMaintenance.applyBatch(spark, path, b2.toDF(), batchId = 1L)
    val healthy = stored(path).collect().toSet

    // reconstruct batch 1's committed stage for day 2024-01-01, then
    // simulate the crash: delete the live day dir
    val stage = new java.io.File(s"$path/_staging/batch=1")
    spark.read.schema(RollupMaintenance.rollupSchema).parquet(path)
      .filter(col("day") === "2024-01-01")
      .write.mode("overwrite").partitionBy("day").parquet(stage.getPath)
    java.nio.file.Files.createFile(new java.io.File(stage, "_STAGED").toPath)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$path/day=2024-01-01"))
    assert(stored(path).filter(col("day") === "2024-01-01").isEmpty, "half-state set up")

    // the retry of batch 1 must FIRST finish the swap — and must not
    // re-merge (the restored day already carries __batch_id 1)
    RollupMaintenance.applyBatch(spark, path, b2.toDF(), batchId = 1L)
    assert(stored(path).collect().toSet == healthy,
      "recovery must restore the exact pre-crash rollup")
    assert(!stage.exists(), "stage must be cleaned after the swap")
  }

  test("streaming wiring maintains the rollup across micro-batches") {
    val dir = graft.sources.Scratch.tempDir("graft_rollup_s")
    val in = MemoryStream[Ev]
    def run(): Unit = {
      val q = RollupMaintenance.rollupSink(in.toDF(), s"$dir/t", s"$dir/ckpt").start()
      q.processAllAvailable(); q.stop()
    }
    val b1 = Seq(ev(5, "click", 1.5), ev(5, "click", 2.5))
    in.addData(b1: _*); run()
    assertSame(stored(s"$dir/t"), recompute(b1))
    val b2 = Seq(ev(5, "click", 4.0), ev(6, "view", 8.0))
    in.addData(b2: _*); run()
    assertSame(stored(s"$dir/t"), recompute(b1 ++ b2))
  }
}
