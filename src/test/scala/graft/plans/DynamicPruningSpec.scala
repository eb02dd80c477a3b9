package graft.plans

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.sources.Sources

/** Dynamic partition pruning: when a hive-partitioned fact lake is joined
  * on its partition column against a dim that carries a selective filter,
  * the partition predicate is not known at plan time — Catalyst injects a
  * dynamicpruning subquery into the scan's PartitionFilters, the dim's
  * broadcast is REUSED as the filter source, and only the matching
  * partition directories are read. At 100 TB this is the difference
  * between scanning a day and scanning the lake whenever the date set
  * comes from data ("the days in this promo table") instead of a literal.
  */
class DynamicPruningSpec extends SparkSpec {

  test("lake join on the partition column plans a dynamicpruning PartitionFilter") {
    val dir = graft.sources.Scratch.tempDir("graft_dpp")
    val e = Tables.load(spark, sf0001, "events")
    Sources.writeHivePartitioned(e, "ts", s"$dir/lake")
    val lake = spark.read.parquet(s"$dir/lake")

    // dim: an independent table whose FILTER decides which hours survive —
    // the hour set reaches the scan only through the join
    val dim = spark.range(24)
      .selectExpr("lpad(cast(id as string), 2, '0') AS hour",
        "CASE WHEN id < 2 THEN 'keep' ELSE 'drop' END AS tag")
      .filter(col("tag") === "keep")

    val joined = lake.join(dim, Seq("hour"))
    val got = joined.count()
    val expect = e.filter(date_format(col("ts"), "HH") < "02").count()
    assert(got == expect, s"DPP changed results: got $got expect $expect")

    // the executed scan must carry the runtime pruning subquery in its
    // PARTITION filters (pruned before I/O, not a post-scan Filter)
    val plan = joined.queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator
      .filter(l => l.contains("PartitionFilters")).mkString("\n")
    assert(scanLines.contains("dynamicpruning"),
      s"no dynamicpruning in PartitionFilters:\n${plan.take(1200)}")
  }
}
