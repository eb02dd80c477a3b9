package repobench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.sources.Sources
import graft.streaming.Pipelines

/** One benchmark run in one JVM, driven by `repobench/run.py`.
  *
  * Batch workloads call the `graft.ops` query functions closed loop with
  * one client: one warm pass that also writes each result for the oracle
  * check, then whole rounds of the given query order until both the time
  * budget and the sample minimum are met. The lake workload replays staged
  * news topic files through `Sources.readTopic` → `Pipelines.news` →
  * `Pipelines.partitionedWriter`: a closed loop that drops the next file
  * when the previous batch commits, then a fixed backlog drained at a fixed
  * `maxFilesPerTrigger`.
  *
  * With `--trace 1` the run also records spans around each layer call and
  * the job, task, plan and state counts at the same boundaries, keeps them
  * in memory and writes them out with the result.
  */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
    val work = Paths.get(a("work"))
    val cpus = a.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val out = mutable.LinkedHashMap[String, Any]("workload" -> a("workload"),
      "session_ms" -> System.currentTimeMillis())
    a("kind") match {
      case "batch" => runBatch(spark, a, tracer, out)
      case "lake" => runLake(spark, a, out)
    }
    tracer.foreach { t => t.drain(); out("trace") = t.dump() }
    out("peak_live_bytes") = Live.peak
    spark.stop()
    Files.writeString(Paths.get(a("out")), Json(out))
  }

  // ---- batch workloads -----------------------------------------------------

  def runBatch(spark: SparkSession, a: Args, tracer: Option[Tracer],
      out: mutable.Map[String, Any]): Unit = {
    val data = a("data")
    val order = a("queries").split(",").toSeq
    val all = SparkEntry.all.map(q => q.name -> q).toMap
    val qs = order.distinct.sorted.map(all)
    // Warm pass: each query once, its result written for the oracle check.
    // The stores are built here; traced runs count those jobs as `warm`.
    tracer.foreach(_.tag("warm", "warm"))
    val warm = qs.map { q =>
      val s0 = System.nanoTime()
      val err = try {
        q.fn(spark, data).write.mode("overwrite")
          .parquet(Paths.get(a("work"), "results", q.name).toString)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      mutable.LinkedHashMap[String, Any]("name" -> q.name, "ok" -> err.isEmpty,
        "s" -> (System.nanoTime() - s0) / 1e9, "error" -> err.orNull, "oracle" -> q.oracle.orNull)
    }
    out("warm") = warm
    tracer.foreach(_.tag(null, null))
    // Spark's JIT warm-up runs for minutes: without these untimed rounds
    // each timed round was ~10% faster than the one before it, and how fast
    // that went differed from run to run.
    for (_ <- 1 to a.int("warm_rounds"); name <- order)
      try noop(all(name).fn(spark, data)) catch { case _: Throwable => () }
    val seconds = a.int("seconds")
    val minSamples = a.int("min_samples")
    val timed = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    Live.sample()
    out("first_op_ms") = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var round = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || timed.size < minSamples) {
      order.foreach { name =>
        val op = timed.size
        val s0 = System.nanoTime()
        val ok = try {
          tracer.foreach(_.begin(op, name))
          val df = tracer.fold(all(name).fn(spark, data))(
            _.layer(op, "construct")(all(name).fn(spark, data)))
          tracer.fold(noop(df))(_.layer(op, "execute")(noop(df)))
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[repobench] $name failed: ${e.getMessage}")
            false
        }
        val s1 = System.nanoTime()
        tracer.foreach(_.end(op, s0, s1))
        timed += mutable.LinkedHashMap("name" -> name, "round" -> round,
          "lat_s" -> (s1 - s0) / 1e9, "ok" -> ok)
      }
      round += 1
    }
    out("timed_wall_s") = (System.nanoTime() - t0) / 1e9
    out("timed") = timed
    Live.sample()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- lake workloads ------------------------------------------------------

  /** Progress events of started streaming queries, stamped on receipt. */
  final class Progress extends StreamingQueryListener {
    val queue = new LinkedBlockingQueue[(Long, Long, StreamingQueryProgress)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        queue.put((System.nanoTime(), System.currentTimeMillis(), e.progress))
  }

  def runLake(spark: SparkSession, a: Args, out: mutable.Map[String, Any]): Unit = {
    val topic = Paths.get(a("topic"))
    val work = Paths.get(a("work"), "lake")
    val maxFiles = a.int("max_files")
    val progress = new Progress
    spark.streams.addListener(progress)
    // Progress events reach the listener asynchronously: wait until the bus
    // has delivered every event posted so far, then take them all.
    def delivered(): Seq[(Long, Long, StreamingQueryProgress)] = {
      ListenerBusAccess.drain(spark.sparkContext)
      Iterator.continually(progress.queue.poll()).takeWhile(_ != null).toSeq
    }
    def start(phase: String, trigger: Trigger, perTrigger: Int) = {
      val drop = work.resolve(s"$phase/drop")
      Files.createDirectories(drop)
      val raw = Sources.readTopic(spark, Map("format" -> "file",
        "path" -> drop.toString, "maxFilesPerTrigger" -> perTrigger.toString))
      val q = Pipelines.partitionedWriter(Pipelines.news(raw)(spark).toDF(), "published_ts",
        work.resolve(s"$phase/out").toString,
        work.resolve(s"$phase/checkpoint").toString, trigger = trigger).start()
      (q, drop)
    }
    def staged(phase: String): Seq[(Path, Int)] =
      Files.list(topic.resolve(phase)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        .map(f => f -> Files.readAllLines(f).size)
    def move(f: Path, drop: Path): Unit =
      Files.move(f, drop.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)

    // Closed loop: one file per micro-batch, the next dropped on commit. The
    // first file primes the new query (its first batch pays the query's
    // one-off planning and state set-up) and is not timed.
    def closed(phase: String, seconds: Double, minSamples: Int): mutable.Map[String, Any] = {
      val files = staged(phase)
      require(delivered().isEmpty, s"$phase: progress left over from an earlier phase")
      val (q, drop) = start(phase, Trigger.ProcessingTime(0L), 1)
      // each commit must be this query's batch of exactly the dropped file
      def dropAndWait(file: (Path, Int)): (Long, StreamingQueryProgress) = {
        val (f, lines) = file
        val dropNs = System.nanoTime()
        move(f, drop)
        val (gotNs, _, p) = Option(progress.queue.poll(120, TimeUnit.SECONDS))
          .getOrElse(sys.error(s"no commit for $f"))
        require(p.id == q.id && p.numInputRows == lines,
          s"$phase: commit of ${p.numInputRows} rows (query ${p.id}) for $f ($lines lines)")
        (gotNs - dropNs, p)
      }
      dropAndWait(files.head)
      val timedPhase = seconds > 0  // the warm-up calls this with no time budget
      if (timedPhase) Live.sample()
      val lat = mutable.ArrayBuffer[Double]()
      val batches = mutable.ArrayBuffer[mutable.Map[String, Any]]()
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      var i = 1
      while (i < files.size && ((System.nanoTime() - t0) / 1e9 < seconds || i <= minSamples)) {
        val (ns, p) = dropAndWait(files(i))
        lat += ns / 1e9
        batches += batchRecord(p, ns / 1e6)
        i += 1
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (timedPhase) Live.sample()  // the dedup state is still loaded
      q.stop()
      require(i > minSamples, s"$phase: ${i - 1} commits timed, $minSamples needed")
      require(delivered().isEmpty, s"$phase: a commit arrived after the loop ended")
      mutable.LinkedHashMap("files" -> i, "wall_s" -> wall, "lat_s" -> lat,
        "query_id" -> q.id.toString, "t0_ms" -> t0Ms, "batches" -> batches)
    }

    // Drain: a fixed backlog at a fixed maxFilesPerTrigger. The first batch
    // primes the new query, as in the closed loop (it ran about twice as
    // long as a later one), so the timed drain runs from its commit to the
    // last batch's.
    def drain(phase: String): mutable.Map[String, Any] = {
      val files = staged(phase)
      require(delivered().isEmpty, s"$phase: progress left over from an earlier phase")
      val drop = work.resolve(s"$phase/drop")
      Files.createDirectories(drop)
      files.foreach(f => move(f._1, drop))
      val (q, _) = start(phase, Trigger.AvailableNow(), maxFiles)
      q.awaitTermination()
      val ps = delivered()
      val batches = (files.size + maxFiles - 1) / maxFiles
      val lines = files.map(_._2).sum
      require(ps.size == batches && ps.forall(_._3.id == q.id) &&
        ps.map(_._3.numInputRows).sum == lines,
        s"$phase: ${ps.size} batches of ${ps.map(_._3.numInputRows).sum} rows, " +
          s"expected $batches of $lines")
      val timed = ps.tail
      mutable.LinkedHashMap("files" -> files.size, "wall_s" -> (ps.last._2 - ps.head._2) / 1e3,
        "records" -> timed.map(_._3.numInputRows).sum, "query_id" -> q.id.toString,
        "batches" -> timed.map(p => batchRecord(p._3, Double.NaN)))
    }

    val seconds = a.int("seconds").toDouble
    closed("warm_closed", 0, a.int("warm_files") - 1)
    drain("warm_drain")
    val c = closed("closed", seconds, a.int("min_samples"))
    out("first_op_ms") = c("t0_ms")
    out("closed") = c
    out("drain") = drain("drain")
    Live.sample()
    spark.streams.removeListener(progress)
  }

  /** The phase breakdown of one micro-batch from its progress event. */
  private def batchRecord(p: StreamingQueryProgress, commitMs: Double): mutable.Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
    val state = p.stateOperators.toSeq
    mutable.LinkedHashMap[String, Any]("batch_id" -> p.batchId,
      "rows_in" -> p.numInputRows, "commit_ms" -> commitMs, "trigger_ms" -> d("triggerExecution"),
      "latest_offset_ms" -> d("latestOffset"), "get_batch_ms" -> d("getBatch"),
      "plan_ms" -> d("queryPlanning"), "add_batch_ms" -> d("addBatch"),
      "wal_commit_ms" -> d("walCommit"), "commit_offsets_ms" -> d("commitOffsets"),
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_bytes" -> state.map(_.memoryUsedBytes).sum)
  }

  /** The program's live memory: heap plus non-heap in use right after a
    * full collection, sampled at phase boundaries outside the timed loops.
    * Unlike the process's resident set, it does not follow the heap the JVM
    * reserves and touches, only what the program keeps reachable.
    */
  object Live {
    @volatile var peak = 0L
    def sample(): Unit = {
      System.gc()
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      peak = math.max(peak, m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed)
    }
  }

  // ---- tracing -------------------------------------------------------------

  /** Counts summed over the jobs of one bucket. */
  final class Counts {
    var jobs = 0L; var jobMs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var bytesWritten = 0L; var recordsWritten = 0L
    def toMap: mutable.Map[String, Any] = mutable.LinkedHashMap("jobs" -> jobs,
      "job_ms" -> jobMs, "tasks" -> tasks, "task_cpu_ns" -> cpuNs, "task_run_ms" -> runMs,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "bytes_written" -> bytesWritten, "records_written" -> recordsWritten)
  }

  /** Spans around the harness's layer calls plus job/task/plan counts.
    *
    * Jobs are attributed through local properties set on the calling
    * thread: `repobench.op`/`repobench.layer` for query calls, Spark's own
    * `sql.streaming.queryId`/`streaming.sql.batchId` for micro-batches. A
    * job whose call site (its SQL execution's, when it has one) has its
    * first non-Spark frame in `graft.Tables` or in `graft.sources` also
    * counts in that module's bucket.
    */
  final class Tracer(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val stageBuckets = mutable.Map[Int, Seq[String]]()
    private val jobs = mutable.Map[Int, (Long, Seq[String])]()
    private val counts = mutable.LinkedHashMap[String, Counts]()
    private val spans = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    private val planMs = mutable.Map[Int, Long]()
    private val execSites = mutable.Map[Long, Option[String]]()
    @volatile private var lastQe: QueryExecution = _
    private val t0 = System.nanoTime()

    sc.addSparkListener(this)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastQe = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = lastQe = qe
    })

    def drain(): Unit = ListenerBusAccess.drain(sc)

    private def span(op: Int, name: String, parent: String, s: Long, e: Long): Unit =
      spans += mutable.LinkedHashMap("op" -> op, "name" -> name, "parent" -> parent,
        "start_ms" -> (s - t0) / 1e6, "end_ms" -> (e - t0) / 1e6)

    /** Attribute the calling thread's jobs to `op`/`layer` (null clears). */
    def tag(op: String, layer: String): Unit = {
      sc.setLocalProperty("repobench.op", op)
      sc.setLocalProperty("repobench.layer", layer)
    }

    def begin(op: Int, name: String): Unit = {
      drain()
      lastQe = null
      sc.setLocalProperty("repobench.op", op.toString)
    }

    def layer[T](op: Int, name: String)(body: => T): T = {
      sc.setLocalProperty("repobench.layer", name)
      val s = System.nanoTime()
      try body finally span(op, name, "query", s, System.nanoTime())
    }

    def end(op: Int, s: Long, e: Long): Unit = {
      tag(null, null)
      span(op, "query", null, s, e)
      drain()
      // the noop write is the operation's last query execution
      Option(lastQe).foreach { qe =>
        planMs(op) = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      }
    }

    private def site(details: String): Option[String] =
      details.linesIterator.map(_.trim).find(l => !l.startsWith("org.apache.spark") &&
        !l.startsWith("scala.") && !l.startsWith("java.")).collect {
        case l if l.startsWith("graft.Tables") => "tables"
        case l if l.startsWith("graft.sources.") => "sources"
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val buckets = (prop("repobench.op"), prop("sql.streaming.queryId")) match {
        case (Some(op), _) =>
          val layer = prop("repobench.layer").getOrElse("query")
          // a SQL execution's jobs may run on Spark's own threads, so take
          // its call site from the thread that started the execution
          val exec = prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
          val where = exec.flatten.orElse(site(e.stageInfos.maxBy(_.stageId).details))
          Seq(s"op/$op/$layer") ++ where.map(s => s"op/$op/$s")
        case (None, Some(q)) => Seq(s"stream/$q/${prop("streaming.sql.batchId").getOrElse("-")}")
        case _ => Seq("other")
      }
      e.stageIds.foreach(stageBuckets(_) = buckets)
      jobs(e.jobId) = (e.time, buckets)
      buckets.foreach(b => counts.getOrElseUpdate(b, new Counts).jobs += 1)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        execSites(x.executionId) = site(x.details)
      }
      case _ => ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { case (start, bs) =>
        bs.foreach(b => counts(b).jobMs += e.time - start)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageBuckets.get(e.stageId).foreach(_.foreach { b =>
        val c = counts.getOrElseUpdate(b, new Counts)
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      })
    }

    def dump(): mutable.Map[String, Any] = synchronized {
      mutable.LinkedHashMap("spans" -> spans, "plan_ms" -> planMs.map { case (k, v) =>
        k.toString -> v }, "counts" -> counts.map { case (k, v) => k -> v.toMap })
    }
  }

  // ---- output --------------------------------------------------------------

  /** Minimal JSON encoder for the result file. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }
}
