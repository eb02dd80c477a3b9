package graft.streaming

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** End-to-end lake job: JSONL drop dir -> pipeline -> partitioned lake,
  * driven through the actual job main (AvailableNow mode).
  */
class LakeJobsSpec extends SparkSpec {

  test("news job: drop-dir to deduped hive lake, end to end") {
    val dir = graft.sources.Scratch.tempDir("graft_job")
    Files.createDirectories(Paths.get(s"$dir/src"))
    // batch 1 file: ids 5 and 3, plus a corrupt line (R2 drop)
    Files.writeString(Paths.get(s"$dir/src/batch1.jsonl"),
      """{"symbol":"AAPL","id":5,"datetime":1700000000,"category":"c","headline":"h5","summary":"s","source":"x","url":"u","image":"i"}
        |{"symbol":"AAPL","id":3,"datetime":1699990000,"category":"c","headline":"h3","summary":"s","source":"x","url":"u","image":"i"}
        |garbage line that is not json
        |""".stripMargin)
    LakeJobs.run(Array(s"$dir/src", s"$dir/lake", s"$dir/ckpt"), "news", "15 minutes")
    // second run: duplicate id 5 (dropped by D1 state across RESTARTS via
    // checkpoint) and a new id 7
    Files.writeString(Paths.get(s"$dir/src/batch2.jsonl"),
      """{"symbol":"AAPL","id":5,"datetime":1700000000,"category":"c","headline":"h5","summary":"s","source":"x","url":"u","image":"i"}
        |{"symbol":"AAPL","id":7,"datetime":1700010000,"category":"c","headline":"h7","summary":"s","source":"x","url":"u","image":"i"}
        |""".stripMargin)
    LakeJobs.run(Array(s"$dir/src", s"$dir/lake", s"$dir/ckpt"), "news", "15 minutes")
    val lake = spark.read.parquet(s"$dir/lake")
    val ids = lake.select("news_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(3L, 5L, 7L), s"lake ids: $ids") // dup 5 dropped across restarts
    assert(new java.io.File(s"$dir/lake/year=2023/month=11/day=14").isDirectory)
  }
}
