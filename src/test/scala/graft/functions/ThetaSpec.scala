package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Theta sketch aggregates: the distinct-set ALGEBRA is the contract —
  * union and intersection over stored sketch images must answer like the
  * exact set expressions over the raw facts. At these scales every
  * distinct set is far below the sketch's nominal k=4096 entries, so the
  * sketch operates in exact mode and the assertions are equalities, not
  * error bounds (the estimation regime is DataSketches' published
  * ~1/sqrt(k) RSE; what the engine owes is correct wiring of the
  * update/merge/serialize path, which exact mode checks bit-for-bit).
  */
class ThetaSpec extends SparkSpec {

  private lazy val events = Tables.load(spark, sf0001, "events")
  private val mid = "2024-01-16 00:00:00"

  private def est(c: org.apache.spark.sql.Column) =
    ThetaFunctions.thetaEstimate(spark, c)

  test("direct sketch estimate equals exact distinct in exact mode") {
    val got = events
      .agg(est(ThetaFunctions.thetaAgg(spark, col("user_id"))).as("e"))
      .head().getDouble(0).round
    val exact = events.select(col("user_id")).distinct().count()
    assert(got == exact, s"estimate $got != exact $exact")
  }

  test("stored per-half sketches intersect/union to the exact overlap/reach") {
    val halves = events
      .groupBy(col("event_type"), (col("ts") < lit(mid).cast("timestamp")).as("h"))
      .agg(ThetaFunctions.thetaAgg(spark, col("user_id")).as("sk"))
      // many partitions so most per-group partial buffers are EMPTY —
      // exercises the virgin-buffer merge path of the intersection
      .repartition(16)
    val got = halves.groupBy(col("event_type"))
      .agg(est(ThetaFunctions.thetaIntersectAgg(spark, col("sk"))).as("both"),
        est(ThetaFunctions.thetaUnionAgg(spark, col("sk"))).as("either"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1).round, r.getDouble(2).round)))
      .toMap
    val exact = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(max(when(col("ts") < lit(mid).cast("timestamp"), 1).otherwise(0)).as("f1"),
        max(when(col("ts") >= lit(mid).cast("timestamp"), 1).otherwise(0)).as("f2"))
      .groupBy(col("event_type"))
      .agg(count(when(col("f1") === 1 && col("f2") === 1, 1)).as("both"),
        count(lit(1)).as("either"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.keySet == exact.keySet)
    for ((k, (b, e)) <- exact) {
      assert(got(k)._1 == b, s"$k overlap: sketch ${got(k)._1} != exact $b")
      assert(got(k)._2 == e, s"$k reach: sketch ${got(k)._2} != exact $e")
    }
  }

  test("sketch images survive a store-and-reload round trip") {
    val dir = graft.sources.Scratch.tempDir("graft_theta")
    events.groupBy(col("event_type"))
      .agg(ThetaFunctions.thetaAgg(spark, col("user_id")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .agg(est(ThetaFunctions.thetaUnionAgg(spark, col("sk"))).as("e"))
      .head().getDouble(0).round
    val exact = events.select(col("user_id")).distinct().count()
    assert(got == exact, s"reloaded union $got != exact $exact")
  }

  test("intersection of a single stored sketch is that sketch's set") {
    val one = events.filter(col("event_type") === "click")
      .groupBy(col("event_type"))
      .agg(ThetaFunctions.thetaAgg(spark, col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(est(ThetaFunctions.thetaIntersectAgg(spark, col("sk"))).as("e"))
      .head().getDouble(1).round
    val exact = events.filter(col("event_type") === "click")
      .select(col("user_id")).distinct().count()
    assert(one == exact, s"single-sketch intersection $one != exact $exact")
  }
}
