package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — targeted re-check of
    // late-added queries without re-running the whole (DuckDB-bound) gate.
    // Targeted mode REQUIRES a fresh outDir: oracle_sql.json is rewritten
    // with only the filtered entries, so pointing it at a previous full
    // run's outDir would silently downgrade every other query's check
    // from exact-value compare to rows>0 (their result dirs survive,
    // their oracle entries vanish).
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    only.foreach { names =>
      val existing = Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).filterNot(names.contains)
      require(existing.isEmpty,
        s"targeted verify needs a fresh outDir; $outDir already holds results " +
          s"outside the filter (${existing.take(5).mkString(", ")} ...) whose " +
          "oracle entries this run would drop")
    }
    val spark = GraftSession.builder(GraftSession.cpus("4"))
      // plan-fingerprint stability: FileScan metadata strings truncate at
      // spark.sql.maxMetadataStringLength CHARS before normalization can
      // strip expression-id digits — and exprIds grow with session query
      // count, so a string near the boundary flips truncation depending
      // on how many queries ran before it (a spurious PLAN-DIFF). Raise
      // the cap so metadata text is complete, then normalization makes
      // it run-invariant. 256k, not 10k: the IVF queries push ~30k-char
      // centroid literals into DataFilters (64 floats × nlist cells × two
      // nearest_cells calls), and a cut INSIDE the literal moves with the
      // exprId digit-width of everything before it — observed round 7 as
      // content-only hash drift on q_sim_topk_ivf / q_ivfpq_topk.
      .config("spark.sql.maxMetadataStringLength", "262144")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Normalized physical-plan fingerprint, dumped per query alongside the
    // results: lets the gate replica diff plans round-over-round (an
    // accidental lost broadcast / new shuffle surfaces as one changed
    // line in check.py instead of a 190-plan read). Expression ids, plan
    // ids, file paths and size stats are normalized away so the
    // fingerprint tracks plan SHAPE only.
    def planFingerprint(name: String, df: org.apache.spark.sql.DataFrame): String = {
      // executedPlan, not sparkPlan: EnsureRequirements has inserted the
      // exchanges by then, so the fingerprint sees shuffle/broadcast
      // structure (pre-execution, so the AQE wrapper prints its initial
      // plan — deterministic for a given code + conf)
      val plan = df.queryExecution.executedPlan
      val norm = plan.toString
        .replaceAll("#\\d+L?", "#")
        // lambda variable NAMES carry a session-global counter in the
        // name itself (`lambda x_1#` vs `lambda x_3#` for identical
        // plans) — the digit sits before the #, so the exprId rule
        // misses it (observed round 7: q_rolling_median content drift).
        // \w+ not [A-Za-z]+: user-side names may contain digits or
        // underscores (`acc_sum_3#` must normalize too); the greedy
        // match backtracks to leave the final _<counter> for the rule.
        .replaceAll("\\blambda (\\w+)_\\d+#", "lambda $1_#")
        .replaceAll("plan_id=\\d+", "plan_id=")
        .replaceAll("(file|hdfs|s3a?):[^,\\)\\]\\s]+", "path:_")
        .replaceAll("\\(\\d+ paths?\\)", "(_ paths)")
        .replaceAll("\\b\\d+(\\.\\d+)? ?(B|KiB|MiB|GiB)\\b", "_")
        // JVM object-identity tokens (arrays/objects without a toString,
        // e.g. reference objects inside custom expressions print as
        // [F@1a2b3c) — vary per JVM run, carry no plan shape
        .replaceAll("@[0-9a-fA-F]{1,16}\\b", "@_")
        // JVM lambda class names (typed-aggregator plans print e.g.
        // TopKAggregator$$Lambda$2345/0x00007f...) — per-run identities
        .replaceAll("\\$\\$Lambda\\$?\\d*(/0x[0-9a-fA-F]+)?", "\\$\\$Lambda\\$_")
        .replaceAll("/0x[0-9a-fA-F]+", "/0x_")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val fp = md.digest(norm.getBytes("UTF-8")).take(6)
        .map("%02x".format(_)).mkString
      // diagnosis affordance: dump the normalized text a fingerprint
      // hashes, so a spurious PLAN-DIFF can be root-caused by diffing
      // two dumps instead of guessing which token escaped normalization
      if (sys.env.contains("SPARK_GRAFT_PLAN_DUMP")) {
        val d = Paths.get(s"$outDir/plantext")
        Files.createDirectories(d)
        Files.writeString(d.resolve(s"$name.txt"), norm)
      }
      // the counters count the operators the query runs: a cached
      // relation's build plan, printed under its InMemoryRelation line
      // (deeper-indented), is left out; the hash above still covers it
      val s = {
        var cut = Int.MaxValue
        plan.toString.linesIterator.filter { l =>
          val depth = l.indexWhere(c => !" :+-".contains(c))
          val runs = depth <= cut
          if (runs) cut = if (l.contains("InMemoryRelation")) depth else Int.MaxValue
          runs
        }.mkString("\n")
      }
      def n(pat: String) = pat.r.findAllIn(s).length
      s"$fp|ex${n("Exchange hashpartitioning") + n("Exchange rangepartitioning")}|bc${n("BroadcastExchange")}|sc${n("Scan ")}"
    }
    val plans = scala.collection.mutable.TreeMap.empty[String, String]
    // Sorted-name execution order, NOT Map iteration order: a Scala
    // HashMap reshuffles its whole iteration order whenever the key set
    // changes, and a handful of plan fingerprints are cache-context
    // sensitive (a query planned after another query persisted a matching
    // subtree shows InMemoryTableScan where a cold plan shows the scan).
    // With hash order, ADDING any query could flip fingerprints of
    // unrelated ones (observed round 7: q_bm25 ex12->ex8 with unchanged
    // code); with sorted order an insertion only perturbs the cache
    // context of queries after it alphabetically, and repeated runs of
    // the same suite are bit-stable.
    SparkEntry.queries.filter(kv => keep(kv._1)).toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        try plans(name) = planFingerprint(name, df)
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name plan fingerprint failed: ${e.getMessage}")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/plans.json"),
      plans.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ",\n ", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
