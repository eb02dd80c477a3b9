package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite),
  * with the engine's injected functions and strategies.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so the count is exactly the body's).
    */
  def jobsDuring[T](body: => T): (T, Int) = countJobs(_ => true)(body)

  /** Schema-inference jobs started while `body` runs: the jobs a reader
    * starts while it resolves a relation (the last Spark frame of the
    * job's call site is a `DataFrameReader` method), apart from Spark's
    * parallel file listings. AQE's asynchronous query-stage jobs start
    * from a `SQLExecution` future, so however many of them a plan runs,
    * none counts.
    */
  def inferenceJobsDuring[T](body: => T): (T, Int) = countJobs { e =>
    e.stageInfos.exists(_.details.linesIterator.take(1).exists(_.contains(".DataFrameReader."))) &&
      !Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .exists(_.startsWith("Listing leaf files"))
  }(body)

  private def countJobs[T](counts: SparkListenerJobStart => Boolean)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counts(e)) n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** Run `f` with the RocksDB state-store provider (required by
    * transformWithState), restoring the previous provider afterwards so
    * later suites keep their default.
    */
  def withRocksDBStateStore(f: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
