package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** KLL sketch aggregates: rank-error bounds and — the reason they exist —
  * mergeability: a union of per-day sketches answers the same quantile
  * question as one sketch over everything, without re-reading facts.
  * Bounds are asserted in RANK space (the KLL guarantee is on ranks, not
  * values): the sketch's p50 estimate must sit between the exact p40 and
  * p60 of the data — a window ~6x the k=200 theoretical 1.65% rank error,
  * so the randomized compaction cannot flake the suite.
  */
class KllSpec extends SparkSpec {

  private val rankEps = 0.10

  /** value at exact rank r of the sorted column */
  private def exactQuantile(sorted: Array[Double], r: Double): Double =
    sorted(math.min(sorted.length - 1, math.max(0, (r * sorted.length).toInt)))

  private lazy val events = Tables.load(spark, sf001, "events")
  private lazy val sortedValues =
    events.select(col("value")).collect().map(_.getDouble(0)).sorted

  test("direct sketch quantiles land within the rank-error window") {
    val sk = events.agg(
      KllFunctions.kllAgg(spark, col("value")).as("sk"))
    val row = sk.select(
      KllFunctions.kllQuantile(spark, col("sk"), 0.5).as("p50"),
      KllFunctions.kllQuantile(spark, col("sk"), 0.95).as("p95")).head()
    for ((r, got) <- Seq(0.5 -> row.getDouble(0), 0.95 -> row.getDouble(1))) {
      val lo = exactQuantile(sortedValues, math.max(0.0, r - rankEps))
      val hi = exactQuantile(sortedValues, math.min(1.0, r + rankEps))
      assert(got >= lo && got <= hi,
        s"rank $r estimate $got outside exact-rank window [$lo, $hi]")
    }
  }

  test("union of daily sketches answers like a direct sketch over everything") {
    val merged = events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(KllFunctions.kllAgg(spark, col("value")).as("sk"))
      .agg(KllFunctions.kllMergeAgg(spark, col("sk")).as("total"))
      .select(KllFunctions.kllQuantile(spark, col("total"), 0.5).as("p50"),
        KllFunctions.kllQuantile(spark, col("total"), 0.95).as("p95"))
      .head()
    for ((r, got) <- Seq(0.5 -> merged.getDouble(0), 0.95 -> merged.getDouble(1))) {
      val lo = exactQuantile(sortedValues, math.max(0.0, r - rankEps))
      val hi = exactQuantile(sortedValues, math.min(1.0, r + rankEps))
      assert(got >= lo && got <= hi,
        s"merged rank $r estimate $got outside exact-rank window [$lo, $hi]")
    }
  }

  test("non-double numeric inputs coerce at analysis (no runtime cast crash)") {
    // kll_agg declares DoubleType input via the ExpectsInputTypes shim, so
    // an int/long column gets an analyzer-inserted cast instead of a
    // ClassCastException inside update (ADVICE r5)
    val df = spark.range(1000).selectExpr("CAST(id AS INT) AS i", "id AS l")
    val r = df.agg(
      KllFunctions.kllQuantile(spark,
        KllFunctions.kllAgg(spark, col("i")), 0.5).as("qi"),
      KllFunctions.kllQuantile(spark,
        KllFunctions.kllAgg(spark, col("l")), 0.5).as("ql"))
      .collect()(0)
    assert(math.abs(r.getDouble(0) - 500.0) < 50, r.toString)
    assert(math.abs(r.getDouble(1) - 500.0) < 50, r.toString)
  }

  test("exact regime (k >= n): merged quantiles == the cume_dist rule, any rank") {
    // The q_kll_union gate contract: with k >= the item count, no
    // compaction fires and kll_quantile's INCLUSIVE answer must equal
    // "smallest item whose inclusive rank >= r" — the SQL
    // min(v) FILTER (cume_dist() >= r) the DuckDB oracle runs. Checked
    // across a rank sweep on adversarial data (duplicates included),
    // THROUGH a partitioned build + merge so merge-order cannot matter.
    val rnd = new scala.util.Random(7)
    val values = Array.fill(317)(math.floor(rnd.nextDouble() * 50) / 4.0) // many ties
    val df = spark.createDataFrame(
      values.zipWithIndex.map { case (v, i) => (i % 13, v) }.toSeq).toDF("g", "v")
    val merged = df.groupBy(col("g"))
      .agg(KllFunctions.kllAgg(spark, col("v"), 1024).as("sk"))
      .agg(KllFunctions.kllMergeAgg(spark, col("sk"), 1024).as("total"))
    val sorted = values.sorted
    val n = sorted.length
    for (r <- Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0)) {
      val got = merged
        .select(KllFunctions.kllQuantile(spark, col("total"), r)).head().getDouble(0)
      // smallest value whose inclusive rank (#items <= v)/n >= r
      val expect = sorted(math.max(0, sorted.indices.indexWhere(i => (i + 1).toDouble / n >= r)))
      assert(got == expect, s"rank $r: sketch $got != cume_dist rule $expect")
    }
  }

  test("sketch images survive a store-and-reload round trip") {
    val dir = graft.sources.Scratch.tempDir("graft_kll")
    // store daily sketches (the rollup table a warehouse would keep)...
    events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(KllFunctions.kllAgg(spark, col("value")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/daily")
    // ...and answer the total from the STORED images alone
    val got = spark.read.parquet(s"$dir/daily")
      .agg(KllFunctions.kllMergeAgg(spark, col("sk")).as("total"))
      .select(KllFunctions.kllQuantile(spark, col("total"), 0.5)).head().getDouble(0)
    val lo = exactQuantile(sortedValues, 0.5 - rankEps)
    val hi = exactQuantile(sortedValues, 0.5 + rankEps)
    assert(got >= lo && got <= hi, s"reloaded p50 $got outside [$lo, $hi]")
  }
}
