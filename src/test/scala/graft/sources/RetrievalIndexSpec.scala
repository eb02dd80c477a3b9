package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The stored-index retrieval contract (sources.TextIndexStore):
  *
  *  1. the scoring job reads the INDEX, never the corpus — at 100 TB the
  *     difference between a query and a batch job;
  *  2. the postings scan is partition-PRUNED to the query terms' buckets
  *     (PartitionFilters on the hive `bucket` column) — the index read is
  *     |query buckets|/64 of the postings bytes;
  *  3. the driver-side bucket arithmetic matches the executor-side
  *     `pmod(xxhash64(term), 64)` exactly (else pruning would silently
  *     drop postings — wrong answers, not just slow ones);
  *  4. a stale index (corpus fingerprint or layout version changed)
  *     rebuilds; a fresh one does not;
  *  5. a stored query is one pruned postings scan and one aggregate: no
  *     broadcast, no doc-stats table, a bounded number of Spark jobs.
  */
class RetrievalIndexSpec extends SparkSpec {

  private lazy val idx = TextIndexStore.ensure(spark, sf0001)

  test("driver-side bucketOf matches executor-side pmod(xxhash64, 64)") {
    val terms = Seq("hash", "join", "vector", "the", "a", "zebra", "", "x y")
    val fromSpark = spark.createDataFrame(terms.map(Tuple1(_))).toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")), lit(64L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { tm =>
      assert(TextIndexStore.bucketOf(tm).toLong == fromSpark(tm),
        s"bucket mismatch for '$tm'")
    }
  }

  test("stored-path scoring plan reads the index and never the corpus") {
    val df = TextIndexStore.bm25(spark, idx, Seq("hash", "join", "vector"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_text_index"),
      s"plan does not scan the stored index:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"stored-path plan still touches the corpus:\n$plan")
  }

  test("postings scan is partition-pruned to the query terms' buckets") {
    val qterms = Seq("hash", "join", "vector")
    val df = TextIndexStore.bm25(spark, idx, qterms)
    val plan = df.queryExecution.executedPlan.toString
    // the hive partition column must appear as a PartitionFilter (planned
    // pruning), not a post-scan Filter
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition filter on bucket:\n$plan")
    // and the pruning must bite: files read <= files of the query buckets.
    // collect() doesn't descend into the AdaptiveSparkPlanExec wrapper, so
    // walk it explicitly.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val allScans = scans(df.queryExecution.executedPlan)
    assert(allScans.nonEmpty)
    val postingsScan = allScans.find(_.toString.contains("postings")).get
    val prunedParts = postingsScan.selectedPartitions.partitionCount
    val qbuckets = qterms.map(TextIndexStore.bucketOf).distinct.length
    assert(prunedParts <= qbuckets,
      s"read $prunedParts partitions for $qbuckets query buckets")
  }

  test("stored-path BM25 equals the in-query arithmetic (values)") {
    // same top-10 (doc_id, bm25) as a freshly-computed reference
    val stored = TextIndexStore.bm25(spark, idx, Seq("hash", "join", "vector"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = graft.SparkEntry.queries("q_bm25")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(stored == direct)
  }

  test("stored-path hybrid RRF reads only the index and matches the in-query fusion") {
    val df = TextIndexStore.hybridRrf(spark, idx, Seq("hash", "join", "vector"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_text_index") && !plan.contains("documents.parquet"),
      s"stored-path RRF plan must scan the index, not the corpus:\n$plan")
    val stored = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = graft.SparkEntry.queries("q_hybrid_rrf")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stored == direct)
  }

  test("fingerprint keeps a fresh index; ensure is idempotent") {
    val p = new org.apache.hadoop.fs.Path(s"$idx/postings")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.getFileStatus(p).getModificationTime
    TextIndexStore.ensure(spark, sf0001) // second call: no rebuild
    val after = fs.getFileStatus(p).getModificationTime
    assert(before == after, "fresh index was rebuilt")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val qterms = Seq("hash", "join", "vector")

  test("stored BM25 executes without a BroadcastExchange") {
    val df = TextIndexStore.bm25(spark, idx, qterms)
    df.collect()
    // after execution the adaptive plan string is the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") && !plan.contains("BroadcastExchange"),
      s"stored BM25 broadcasts:\n$plan")
  }

  test("stored hybrid RRF never scans docstats; the v3 tree has no docstats table") {
    val df = TextIndexStore.hybridRrf(spark, idx, qterms)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("docstats") && !plan.contains("BroadcastExchange"), plan)
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$idx/docstats")) && !fs.exists(new Path(s"$idx/stats")))
  }

  test("stored BM25 and hybrid RRF run at most 2 jobs each") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec,
      ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    noop(TextIndexStore.bm25(spark, idx, qterms))
    noop(TextIndexStore.hybridRrf(spark, idx, qterms))
    val bm = jobsDuring(noop(TextIndexStore.bm25(spark, idx, qterms)))._2
    assert(bm <= 2, s"bm25 ran $bm jobs")
    val rrf = jobsDuring(noop(TextIndexStore.hybridRrf(spark, idx, qterms)))._2
    assert(rrf <= 2, s"hybridRrf ran $rrf jobs")
    // both rank lists read one per-doc aggregate: the final plan has one
    // shuffle stage over a postings scan (the other list reuses it)
    val df = TextIndexStore.hybridRrf(spark, idx, qterms)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    def readsPostings(p: SparkPlan) = nodes(p).exists {
      case f: FileSourceScanExec => f.toString.contains("postings")
      case _ => false
    }
    val plan = df.queryExecution.executedPlan
    val stages = nodes(plan).collect {
      case q: ShuffleQueryStageExec
        if q.plan.isInstanceOf[ShuffleExchangeExec] && readsPostings(q.plan) => q
    }
    assert(stages.size == 1, s"${stages.size} postings shuffle stages:\n$plan")
  }

  test("the stats sidecar holds the aggregate's n_docs and avgdl bit for bit") {
    val perDoc = graft.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val agg = perDoc.agg(count(lit(1)), (sum(col("dl")).cast(DoubleType) / count(lit(1))))
      .head()
    val (nDocs, avgdl) = TextIndexStore.readStats(spark, idx)
    assert(nDocs == agg.getLong(0))
    assert(java.lang.Double.doubleToRawLongBits(avgdl) ==
      java.lang.Double.doubleToRawLongBits(agg.getDouble(1)), s"$avgdl vs ${agg.getDouble(1)}")
  }

  test("a v2-layout store reads as stale and rebuilds to v3") {
    val dir = Scratch.tempDir("graft_text_v2") + "/idx"
    TextIndexStore.ensure(spark, sf0001, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$dir/_FINGERPRINT")
    def read(p: Path) = StoreLifecycle.readText(fs, p).get
    val v3 = read(marker)
    assert(v3.startsWith("v3|"), v3)
    // turn the tree into what the v2 build left: docstats/ and stats/
    // tables, no sidecar, a v2 marker
    fs.delete(new Path(s"$dir/_STATS"), false)
    spark.range(1).toDF("doc_id").write.parquet(s"$dir/docstats")
    spark.range(1).toDF("n_docs").write.parquet(s"$dir/stats")
    StoreLifecycle.writeText(fs, marker, "v2" + v3.stripPrefix("v3"))
    TextIndexStore.ensure(spark, sf0001, dir)
    assert(read(marker) == v3)
    assert(fs.exists(new Path(s"$dir/_STATS")))
    assert(!fs.exists(new Path(s"$dir/docstats")) && !fs.exists(new Path(s"$dir/stats")))
    assert(TextIndexStore.bm25(spark, dir, qterms).collect().toSeq ==
      TextIndexStore.bm25(spark, idx, qterms).collect().toSeq)
  }
}
