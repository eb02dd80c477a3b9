package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.ops.{CorpusOps, Similarity}
import graft.sources.PackEncode

/** The [[SessionMemo]] contract, checked once for the mechanism and once
  * for each of its five users: freshness (a moved input fingerprint
  * rebuilds), one build per key under concurrent callers, independent keys
  * building in parallel, nested builds of another key, and the users'
  * release and budget behaviour.
  */
class SessionMemoSpec extends SparkSpec {
  import SessionMemoSpec.User

  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(4, { r: Runnable =>
      val t = new Thread(r, "session-memo-spec")
      t.setDaemon(true)
      t
    }))

  /** A private copy of the sf0.001 documents and embeddings, so a test can
    * move their fingerprints without touching shared fixtures.
    */
  private def corpus(): String = {
    val dir = Paths.get(graft.sources.Scratch.tempDir("graft_memo"))
    Seq("documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  /** Move `table`'s mtime, and with it its `len|mtime` fingerprint. */
  private def touch(dir: String, table: String): Unit = {
    val f = new java.io.File(s"$dir/$table.parquet")
    assert(f.setLastModified(f.lastModified() + 60000L))
  }

  private def delta(memo: SessionMemo[_, _])(f: => Unit): SessionMemo.Stats = {
    val a = memo.stats(spark)
    f
    val b = memo.stats(spark)
    SessionMemo.Stats(b.hits - a.hits, b.misses - a.misses, b.builds - a.builds)
  }

  private def await[T](f: Future[T]): T = Await.result(f, 120.seconds)

  private val plan = spark.range(1).queryExecution.analyzed

  private val users: Seq[User[_, _]] = Seq(
    User[String, DataFrame]("CorpusOps.sharedTf", CorpusOps.tfMemo, "documents",
      (s, d) => CorpusOps.sharedTf(s, d), ("a", "b"), spark.emptyDataFrame),
    User[(String, String, Option[String]), DataFrame]("PackEncode.offsets",
      PackEncode.memo, "documents", (s, d) => PackEncode.offsets(s, d).get,
      (("a", "m", None), ("b", "m", None)), spark.emptyDataFrame),
    User[(Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
        Seq[(Int, Seq[Float])]]("Similarity.refinedCentroids",
      Similarity.centroidMemo, "embeddings",
      (s, d) => Similarity.refinedCentroids(s, Tables.load(s, d, "embeddings"), 4),
      ((1, plan), (2, plan)), Nil),
    User[(String, String), Seq[(Int, String, String, Long)]]("TextOps merge tables",
      graft.ops.TextOps.mergeMemo, "documents",
      (s, d) => SparkEntry.queries("q_bpe_train")(s, d), (("a", "k"), ("b", "k")), Nil),
    User[String, StructType]("Tables schema catalog", Tables.schemas, "documents",
      (s, d) => Tables.read(s, s"$d/documents.parquet"), ("a", "b"), new StructType()))

  users.foreach { u =>
    val name = u.name

    test(s"$name: a repeat call hits; a moved fingerprint rebuilds once") {
      val d = corpus()
      val first = delta(u.memo) { u.call(spark, d); u.call(spark, d) }
      assert(first == SessionMemo.Stats(hits = 1, misses = 1, builds = 1))
      touch(d, u.table)
      val moved = delta(u.memo) { u.call(spark, d); u.call(spark, d) }
      assert(moved == SessionMemo.Stats(hits = 1, misses = 1, builds = 1))
    }

    test(s"$name: concurrent callers of one key trigger exactly one build") {
      val d = corpus()
      val go = new CountDownLatch(1)
      val st = delta(u.memo) {
        val fs = (1 to 4).map(_ => Future { go.await(); u.call(spark, d) })
        go.countDown()
        fs.foreach(await(_))
      }
      assert(st == SessionMemo.Stats(hits = 3, misses = 1, builds = 1))
    }

    test(s"$name: different keys build concurrently") {
      concurrentKeys(u)
    }

    test(s"$name: a build may use the memo for another key") {
      nestedKeys(u)
    }
  }

  /** Key 1's build waits for key 2's build to start: it completes only if
    * no lock is held across keys.
    */
  private def concurrentKeys[K, V](u: User[K, V]): Unit = {
    val s = spark.newSession()
    val (k1, k2) = u.keys
    val in1, in2 = new CountDownLatch(1)
    val f1 = Future {
      u.memo(s, k1, Some("fp")) {
        in1.countDown()
        assert(in2.await(60, TimeUnit.SECONDS), "key 2 never built while key 1 was building")
        u.value
      }
    }
    val f2 = Future {
      assert(in1.await(60, TimeUnit.SECONDS))
      u.memo(s, k2, Some("fp")) { in2.countDown(); u.value }
    }
    await(f1)
    await(f2)
    assert(u.memo.stats(s) == SessionMemo.Stats(hits = 0, misses = 2, builds = 2))
  }

  private def nestedKeys[K, V](u: User[K, V]): Unit = {
    val s = spark.newSession()
    val (k1, k2) = u.keys
    val v = await(Future {
      u.memo(s, k1, Some("fp")) { u.memo(s, k2, Some("fp"))(u.value) }
    })
    assert(v == u.value)
    assert(u.memo(s, k2, Some("fp"))(throw new AssertionError("rebuilt")) == u.value)
    assert(u.memo.stats(s) == SessionMemo.Stats(hits = 1, misses = 2, builds = 2))
  }

  private def cachedRddId(df: DataFrame): Int =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.getOrElse(fail("not read from the cache"))

  test("CorpusOps.sharedTf: a moved fingerprint unpersists the old relation before the rebuild") {
    val d = corpus()
    val old = CorpusOps.sharedTf(spark, d)
    val oldRdd = cachedRddId(old)
    touch(d, "documents")
    val fresh = CorpusOps.sharedTf(spark, d)
    assert(!(fresh eq old))
    assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val freshRdd = cachedRddId(fresh)
    assert(freshRdd != oldRdd, "the rebuild served the stale cache entry")
    val persistent = spark.sparkContext.getPersistentRDDs
    assert(!persistent.contains(oldRdd) && persistent.contains(freshRdd))
    val want = Tables.load(spark, d, "documents")
      .selectExpr("explode(split(text, ' ')) AS term").filter(col("term") =!= "").count()
    assert(fresh.agg(sum("tf")).head.getLong(0) == want)
  }

  /** Run `f` with a 1-byte advisory partition size: an input budget of
    * 16 bytes at 4 shuffle partitions, below any corpus.
    */
  private def overBudget(f: => Unit): Unit = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      assert(SessionMemo.inputBudget(spark) < Par.tableBytes(spark, sf0001, "documents"))
      f
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("CorpusOps.sharedTf: a corpus over the input budget is not persisted") {
    val d = corpus()
    overBudget {
      val tf = CorpusOps.sharedTf(spark, d)
      assert(tf.storageLevel == StorageLevel.NONE)
    }
  }

  test("PackEncode.offsets: a corpus over the input budget opts out of the memo") {
    val d = corpus()
    val st = delta(PackEncode.memo) {
      overBudget {
        assert(PackEncode.offsets(spark, d).isEmpty)
        assert(PackEncode.encoded(spark, d).isEmpty)
      }
    }
    assert(st == SessionMemo.Stats(0, 0, 0))
  }

  test("Similarity.refinedCentroids: a non-file relation bypasses the memo") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val local = spark.createDataFrame(emb.collect().toSeq.asJava, emb.schema)
    val st = delta(Similarity.centroidMemo) {
      assert(Similarity.refinedCentroids(spark, local, 4) ==
        Similarity.refinedCentroids(spark, local, 4))
    }
    assert(st == SessionMemo.Stats(0, 0, 0))
  }

  test("Tables schema catalog: an unstat-able path bypasses the memo") {
    val st = delta(Tables.schemas) {
      intercept[Exception](Tables.read(spark, s"${corpus()}/missing.parquet"))
    }
    assert(st == SessionMemo.Stats(0, 0, 0))
  }

  test("SessionMemo: release runs on the stale value before the rebuild") {
    val s = spark.newSession()
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new SessionMemo[String, String](v => events += s"release $v")
    assert(memo(s, "k", Some("1")) { events += "build a"; "a" } == "a")
    assert(memo(s, "k", Some("1")) { events += "build b"; "b" } == "a")
    assert(memo(s, "k", Some("2")) { events += "build c"; "c" } == "c")
    assert(events == Seq("build a", "release a", "build c"))
  }

  test("SessionMemo: a failed build keeps nothing and the next call rebuilds") {
    val s = spark.newSession()
    val memo = new SessionMemo[String, String]()
    intercept[IllegalStateException](memo(s, "k", Some("1"))(throw new IllegalStateException))
    assert(memo(s, "k", Some("1"))("b") == "b")
    assert(memo.stats(s) == SessionMemo.Stats(hits = 0, misses = 2, builds = 1))
  }

  test("SessionMemo: sessions do not share entries") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val memo = new SessionMemo[String, String]()
    assert(memo(s1, "k", Some("1"))("a") == "a")
    assert(memo(s2, "k", Some("1"))("b") == "b")
  }
}

object SessionMemoSpec {

  /** One memo user: its memo, the table its fingerprint stats, one call
    * through its public path, and two keys plus a value of the memo's
    * types for the mechanism-level checks.
    */
  final case class User[K, V](name: String, memo: SessionMemo[K, V],
      table: String, call: (SparkSession, String) => Any, keys: (K, K), value: V)
}
