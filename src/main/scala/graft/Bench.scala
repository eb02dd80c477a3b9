package graft

import java.nio.file.{Files, Paths}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (codegen, scheduler, FS metadata) outside the timings so
    // the first query doesn't absorb ~4s of one-time cost.
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    spark.range(1000000L).selectExpr("sum(id % 7)").collect()
    // noop sink registration/codegen is one-time too — keep it out of the
    // first query's measurement
    spark.range(1000L).write.format("noop").mode("overwrite").save()
    // ...and so is the decimal-aggregation codegen the dsum/davg helpers
    // lean on (q1_agg runs first alphabetically and was absorbing it).
    // The warmup shape must include a decimal MULTIPLY inside the sum —
    // q1_agg's sum(p * (1 - d)) compiles a different update method than a
    // plain sum(d), and the simple shape left ~1 s of first-run cost.
    spark.range(100000L)
      .selectExpr("cast(id % 100 as decimal(18,2)) p",
        "cast(id % 7 as decimal(18,2)) d", "id % 7 k")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("p"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("p") *
            (org.apache.spark.sql.functions.lit(1).cast("decimal(18,2)") -
              org.apache.spark.sql.functions.col("d"))),
        org.apache.spark.sql.functions.avg("p"))
      .write.format("noop").mode("overwrite").save()
    // window-exec and broadcast-hash-join codegen are one-time costs too
    // (round 3 still showed q1_agg ~3x its steady-state)
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val fact = spark.range(100000L).selectExpr("id % 100 k", "id v")
      fact.withColumn("rn",
          row_number().over(Window.partitionBy("k").orderBy("v")))
        .withColumn("mv", avg("v").over(
          Window.partitionBy("k").orderBy("v").rowsBetween(-3, 0)))
        .write.format("noop").mode("overwrite").save()
      fact.join(broadcast(spark.range(100L).selectExpr("id k", "id * 2 dv")), "k")
        .groupBy("dv").count()
        .write.format("noop").mode("overwrite").save()
    }
    // best-of-2 per query: the first run may pay one-time costs (cache
    // fill, codegen compilation) that aren't the query's steady-state time.
    // A query that throws records the sentinel -1, never its elapsed time.
    // Timed via the noop sink, NOT count(): count(1) lets ColumnPruning
    // delete every projected expression (a fingerprint query would time
    // as a bare row-count scan) — noop executes the full plan and
    // discards the rows.
    // Local-iteration aid: SPARK_GRAFT_ONLY=regex times a subset (the driver
    // never sets it, so the recorded rounds always cover the full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // DETERMINISTIC SHUFFLED execution order (fixed seed), not
    // alphabetical: a machine-load burst during a sequential run inflates
    // a contiguous time window, and under alphabetical order that window
    // is a contiguous *name range* — indistinguishable from a cluster of
    // real per-query regressions (the r4-r6 drift-adjudication saga).
    // Shuffling decorrelates wall-clock windows from name ranges, so
    // contention spreads thinly across the suite instead. The seed is
    // fixed so every round runs the identical order; the artifact's
    // `queries` map is emitted in execution order, which logs the order.
    val selected = new scala.util.Random(42).shuffle(
      SparkEntry.queries.toSeq.sortBy(_._1))
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
    // Machine-load self-description (round-8 forensics: the driver's run
    // of record was contention-inflated ~52% vs the same binary idle, and
    // proving that needed cross-run diffing). 1-min loadavg at start and
    // end rides along in the artifact so a noisy run is visibly noisy.
    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = {
      def r2l(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      r2l(loadavg())
    }
    val results = selected.map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    // 2-decimal values: the driver parses the tail of captured output, and
    // BENCH_r01/r02 both lost the line to head-truncation — at 109 queries
    // even 3-decimal precision leaves <100 chars of tail margin; 10 ms
    // resolution is ample for per-query seconds.
    def r2(v: Double): BigDecimal = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    // keys drop the "q_" prefix (~220 bytes across the suite) — every byte
    // of the line's head is tail-window margin
    val qs = results.map { case (k, v) =>
      "\"" + k.stripPrefix("q_") + "\":" + r2(v)
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    // total = sum of the ROUNDED per-query values, so the line is
    // self-consistent for a consumer that recomputes it from `queries`
    val total = results.collect { case (_, v) if v >= 0 => r2(v) }.sum
    // summary fields AFTER the queries map: the driver keeps the TAIL of
    // captured output, and rounds 1-3 all lost head-positioned totals
    // ("parsed": null) when the per-query map overflowed the window
    val loadEnd = r2(loadavg())
    val line =
      s"""{"metric":"total","unit":"sec","queries":$qs,"value":$total,"failed":$failed,"order":"shuffled_seed42","load1_start":$loadStart,"load1_end":$loadEnd,"sf":"$sfDir"}"""
    // Durable copy for the driver (BENCH_r01 lost the line to sbt noise):
    // written to a file AND printed as the process's very last line, after
    // spark.stop(), so no executor-shutdown log can trail it.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try Files.writeString(Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile: $e") }
    spark.stop()
    println(line)
    // A second, COMPACT summary line, printed last: the capture harness
    // keeps only a ~2.8 KB tail of stdout and has head-truncated the full
    // line (and so recorded "parsed": null) in every round once the
    // per-query map outgrew the window. This line — totals plus only the
    // 5 worst queries — fits whole in any tail, so a parser scanning for
    // a valid JSON line finds it even when the full line is cut. The full
    // map remains above and in the bench_out.json file.
    val worst = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k.stripPrefix("q_") + "\":" + r2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","unit":"sec","n_queries":${results.size},"worst5":$worst,"value":$total,"failed":$failed,"load1_start":$loadStart,"load1_end":$loadEnd,"sf":"$sfDir"}""")
  }
}
