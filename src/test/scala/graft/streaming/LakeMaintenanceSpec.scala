package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LakeMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compaction rewrites a small-file lake into target-sized files, data intact") {
    val dir = graft.sources.Scratch.tempDir("graft_compact")
    val src = s"$dir/lake"
    val dest = s"$dir/compacted"
    // simulate the reference's per-poll writes: 8 files per partition
    val data = spark.range(3000L)
      .select((col("id") % 3).cast("string").as("day"), col("id"),
        (col("id") * 2).as("v"))
    data.repartition(8).write.partitionBy("day").parquet(src)
    val before = spark.read.parquet(src)
    assert(before.inputFiles.length == 24, s"expected 24 small files, got ${before.inputFiles.length}")

    val report = LakeMaintenance.compact(spark, src, dest, "day", 600L)
    // 1000 rows per partition at 600/file -> 2 files each
    assert(report == LakeMaintenance.CompactionReport(3, 3000L, 24L, 6L), s"$report")
    // data identical (partition column round-trips as the hive dir)
    val after = spark.read.parquet(dest)
    assert(after.count() == 3000L)
    assert(before.select("day", "id", "v").except(after.select("day", "id", "v")).isEmpty &&
      after.select("day", "id", "v").except(before.select("day", "id", "v")).isEmpty)
  }
}
