package graft.plans

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ops.AsOfJoin

class NativeAsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("native exec matches the union+window formulation on real data") {
    val e = Tables.load(spark, sf001, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val viaWindow = AsOfJoin.join(purchases, clicks, Seq("user_id"), "ts", "ts",
        Seq("event_id", "value"), rightTieBreak = Some("event_id"))
      .select("event_id", "user_id", "asof_event_id", "asof_value")
    val viaNative = NativeAsOfJoin.join(purchases, clicks, Seq("user_id"), "ts", "ts",
        Seq("event_id", "value"), rightTieBreak = Some("event_id"))
      .select("event_id", "user_id", "asof_event_id", "asof_value")
    assert(viaNative.count() == purchases.count())
    val diff = viaWindow.except(viaNative).count() + viaNative.except(viaWindow).count()
    assert(diff == 0)
  }

  test("left rows before any right row get nulls; '<=' includes equal ts") {
    val l = Seq((1L, "A", ts("2024-01-01 00:00:05")), (2L, "A", ts("2024-01-01 00:00:10")),
      (3L, "B", ts("2024-01-01 00:00:01")))
      .toDF("id", "sym", "ts")
    val r = Seq((10L, "A", ts("2024-01-01 00:00:05"), 1.5),
      (11L, "A", ts("2024-01-01 00:00:07"), 2.5),
      (12L, "B", ts("2024-01-01 00:00:02"), 9.9))
      .toDF("rid", "sym", "ts", "px")
    val out = NativeAsOfJoin.join(l, r, Seq("sym"), "ts", "ts", Seq("rid", "px"))
      .select("id", "asof_rid", "asof_px").collect()
      .map(x => x.getLong(0) -> (Option(x.get(1)), Option(x.get(2)))).toMap
    assert(out(1L) == (Some(10L), Some(1.5)))   // equal ts matches
    assert(out(2L) == (Some(11L), Some(2.5)))   // latest earlier
    assert(out(3L) == (None, None))             // right row is later -> null
  }

  test("rightTieBreak makes ties on (key, ts) deterministic: greatest wins") {
    val l = Seq((1L, "A", ts("2024-01-01 00:00:10"))).toDF("id", "sym", "ts")
    // three right rows at the SAME (key, ts): without a tie-break the
    // carried row is sort-nondeterministic; with it, the greatest rid wins
    // (matching the union+window AsOfJoin's rightTieBreak contract)
    val r = Seq((10L, "A", ts("2024-01-01 00:00:05"), 1.0),
      (12L, "A", ts("2024-01-01 00:00:05"), 3.0),
      (11L, "A", ts("2024-01-01 00:00:05"), 2.0))
      .toDF("rid", "sym", "ts", "px")
    val out = NativeAsOfJoin.join(l, r, Seq("sym"), "ts", "ts", Seq("rid", "px"),
        rightTieBreak = Some("rid"))
      .select("id", "asof_rid", "asof_px").collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 12L && out(0).getDouble(2) == 3.0)
  }

  test("optimizer rule pushes left-only filters below the as-of node to the scan") {
    val e = Tables.load(spark, sf0001, "events")
    val l = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val r = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val out = NativeAsOfJoin.join(l, r, Seq("user_id"), "ts", "ts", Seq("value"))
      .filter(col("user_id") < 5) // references only the left side
    val optimized = out.queryExecution.optimizedPlan
    // after pushdown the top node is the as-of join itself, not a Filter
    assert(optimized.isInstanceOf[AsOfJoinNode], optimized.getClass.toString)
    // and the predicate reached the left parquet scan
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("LessThan(user_id,5)"), phys)
    // results match post-filtering the unpushed version
    val unpushed = NativeAsOfJoin.join(l, r, Seq("user_id"), "ts", "ts", Seq("value"))
      .collect().filter(_.getAs[Long]("user_id") < 5)
    assert(out.count() == unpushed.length)
  }

  test("nondeterministic predicates are NOT pushed below the as-of join") {
    val e = Tables.load(spark, sf0001, "events")
    val l = e.filter(col("event_type") === "purchase").select(col("event_id"), col("user_id"), col("ts"))
    val r = e.filter(col("event_type") === "click").select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val out = NativeAsOfJoin.join(l, r, Seq("user_id"), "ts", "ts", Seq("value"))
      .filter(rand(7) < lit(0.5) && col("user_id") >= 0) // rand conjunct must stay above
    val optimized = out.queryExecution.optimizedPlan
    // the deterministic conjunct may push; the rand() one must remain in a
    // Filter ABOVE the as-of node (pushed rand re-flips on recomputation)
    assert(optimized.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter],
      optimized.getClass.toString)
    assert(optimized.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]
      .condition.toString.contains("rand"))
  }

  test("an unknown direction throws, same contract as the DataFrame path") {
    // without this, the Exec's dispatch would silently run NEAREST
    // semantics for a typo like "fwd" (ADVICE r5)
    val e = Tables.load(spark, sf0001, "events")
    val l = e.select(col("event_id"), col("user_id"), col("ts"))
    intercept[IllegalArgumentException] {
      NativeAsOfJoin.join(l, l, Seq("user_id"), "ts", "ts", Seq("ts"),
        direction = "fwd")
    }
  }

  test("physical plan declares key clustering (co-partitions like SMJ)") {
    val e = Tables.load(spark, sf0001, "events")
    val l = e.filter(col("event_type") === "purchase").select(col("event_id"), col("user_id"), col("ts"))
    val r = e.filter(col("event_type") === "click").select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val out = NativeAsOfJoin.join(l, r, Seq("user_id"), "ts", "ts", Seq("value"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("join leaves the session's experimental methods alone; GraftExtensions plans the exec") {
    val strategies = spark.experimental.extraStrategies
    val optimizations = spark.experimental.extraOptimizations
    val l = Seq((1L, "A", ts("2024-01-01 00:00:10"))).toDF("id", "sym", "ts")
    val r = Seq((10L, "A", ts("2024-01-01 00:00:05"))).toDF("rid", "sym", "ts")
    val out = NativeAsOfJoin.join(l, r, Seq("sym"), "ts", "ts", Seq("rid"))
    assert(out.select("asof_rid").head.getLong(0) == 10L)
    assert(spark.experimental.extraStrategies == strategies)
    assert(spark.experimental.extraOptimizations == optimizations)
    assert(!strategies.contains(AsOfJoinStrategy))
    assert(!optimizations.contains(PushFilterThroughAsOf))
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val execs = helper.collect(out.queryExecution.executedPlan) { case e: AsOfJoinExec => e }
    assert(execs.size == 1, out.queryExecution.executedPlan.toString)
  }

  test("a session without GraftExtensions is refused with a clear error") {
    // build a plain session on the shared context (ExtensionsSpec's pattern:
    // swap the default session out, never stop() the shared context)
    val prev = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    val plain = org.apache.spark.sql.SparkSession.builder().getOrCreate()
    try {
      assert(!(plain eq spark))
      // a context whose conf names the extension installs it in every session
      assume(!plain.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      val l = plain.range(1).selectExpr("id", "'A' AS sym", "current_timestamp() AS ts")
      val e = intercept[IllegalArgumentException] {
        NativeAsOfJoin.join(l, l, Seq("sym"), "ts", "ts", Seq("id"))
      }
      assert(e.getMessage.contains("GraftExtensions"))
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      prev.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
  }
}
