package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-stage profiler for one query: runs it exactly like Bench (same
  * session shape, noop sink, warm second run) but with a listener that
  * prints every stage's task count and wall time, so 8-vs-32-core
  * anti-scaling can be attributed to specific stages instead of guessed.
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile q_pagerank [sfDir]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_pagerank")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = GraftSession.cpus("32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    spark.range(1000L).write.format("noop").mode("overwrite").save()

    @volatile var collecting = false
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long)]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobTimes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = e.stageInfo
          val ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
          stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks, ms))
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) jobs.put(e.jobId, System.nanoTime())
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (collecting) Option(jobs.get(e.jobId)).foreach { t0 =>
          jobTimes.add((e.jobId, (System.nanoTime() - t0) / 1000000L))
        }
    })

    val fn = SparkEntry.queries(name)
    // run 1: warmup/cache-fill (same as Bench's best-of-2)
    val w0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val w1 = (System.nanoTime() - w0) / 1e9
    // run 2: profiled
    collecting = true
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    collecting = false
    Thread.sleep(300)
    println(f"\n=== $name cpus=$cpus run1=$w1%.2fs run2=$sec%.2fs ===")
    println(f"${"jobId"}%6s ${"ms"}%8s")
    jobTimes.toArray(Array.empty[(Int, Long)]).sortBy(_._1).foreach { case (j, ms) =>
      println(f"$j%6d $ms%8d")
    }
    println(f"${"stage"}%6s ${"tasks"}%6s ${"ms"}%8s  name")
    stages.toArray(Array.empty[(Int, String, Int, Long)]).sortBy(_._1)
      .foreach { case (id, n2, tasks, ms) => println(f"$id%6d $tasks%6d $ms%8d  $n2") }
    val arr = stages.toArray(Array.empty[(Int, String, Int, Long)])
    println(s"total stages=${arr.length} tasks=${arr.map(_._3).sum} sum-stage-ms=${arr.map(_._4).sum}")
    spark.stop()
  }
}
