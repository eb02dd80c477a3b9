package graft.sources

import graft.SparkSpec
import graft.streaming.{MediaIngestJob, StreamingCms, StreamingFrameDedup,
  StreamingMediaDedup, StreamingNbTrain, StreamingNearDedup, StreamingPackedShards,
  StreamingTopKJob}
import graft.streaming.MediaPayloads._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One crash matrix over everything on [[StoreLifecycle]]: the four
  * batch-built stores, both `compactTo`s, the three in-place layer folds,
  * the incremental twins' appends and the layered streaming maintainers.
  *
  * Each case runs the subject once unbroken, and once dying at one
  * commit step (a [[CrashFs]] fault on the step's FS call) followed by
  * the recovery a restart performs — `ensure` again, `compactTo` again,
  * the replayed newest batch plus the fold, or the replayed batch. The
  * rows of every table (as a count and an order-free hash, layer ids
  * included) and the marker and sidecar files must come out identical.
  *
  * The steps:
  *  - `after stage`: the staged tree is complete, the swap's first rename
  *    (the live root moved aside) dies;
  *  - `mid swap`: the root is moved aside, the rename-in dies;
  *  - `before commit`: a batch wrote its layer but died before its
  *    commit; the store is folded before the restart replays it;
  *  - `on <table>`: a batch dies on the write to `<table>` after its
  *    other writes (the store write before the out write, and so on).
  *
  * Each case also pins the `<root>*` siblings the crash leaves and those
  * left after recovery. A crashed build's complete `.build-*` stage stays
  * on disk: it may be a concurrent builder's, so it is never swept.
  */
class StoreCrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  CrashFs.register(spark)

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text", "source")
  private def third(i: Int) = docs.filter(col("doc_id") % 3 === i)
  private def emb = graft.Tables.load(spark, sf0001, "embeddings")
    .filter(col("embedding").isNotNull).select("vec_id", "embedding")
  private def half(df: DataFrame, key: String, i: Int) = df.filter(col(key) % 2 === i)
  // six videos a batch over three payloads; batch 1 repeats one payload
  // of batch 0 and brings two fresh ones, so its replay has frames to
  // admit and ones to drop
  private def media(ids: Range) = ids.map(i =>
      (i.toLong, "video",
        Array.tabulate[Byte](64)(j => ((i % 3 + 2 * (i / 6)) * 7 + j).toByte)))
    .toDF("media_id", "kind", "bytes")

  // the perceptual gate admits one image of each batch and drops the
  // other as a near-duplicate
  private def images(i: Int) = Seq(
      (i * 2L, "image", enc(img(64, 48, seed = i), if (i == 0) "png" else "bmp")),
      (i * 2L + 1, "image", enc(img(64, 48, seed = 5 + i), "png")))
    .toDF("media_id", "kind", "bytes")
  // batch 1 repeats batch 0's audio bytes (the exact gate drops them)
  // next to a fresh image and a clip of reordered frames
  private def mixed(i: Int) = Seq(
      (i * 3L, "audio", envWav(8000, 8000f, 12000)),
      (i * 3L + 1, "image", enc(img(64, 48, seed = 7 + i), "png")),
      (i * 3L + 2, "video", animatedGif(Seq(0, 1, 2, 3).map(q => quadrantImage(64, 48, (q + i) % 4)))))
    .toDF("media_id", "kind", "bytes")

  // space-saving summary emissions (group, item, est, err, n_seen):
  // batch 1 moves group g past batch 0's summary (with an older g
  // emission the upsert discards), adds group k and leaves h alone
  private def summaries(i: Int) = (if (i == 0)
      Seq(("g", "a", 2L, 0L, 2L), ("h", "z", 1L, 0L, 1L))
    else
      Seq(("g", "a", 2L, 0L, 3L), ("g", "a", 3L, 0L, 4L), ("g", "b", 1L, 0L, 4L),
        ("k", "y", 1L, 0L, 1L)))
    .toDF("group", "item", "est", "err", "n_seen")

  private def fs = StoreLifecycle.fs(spark, "crashfs:///")

  /** A live tree from an older vintage, for a swap to move aside. */
  private def staleRoot(root: String): Unit = {
    fs.mkdirs(new Path(root))
    StoreLifecycle.writeText(fs, new Path(root, "_FINGERPRINT"), "stale")
  }

  /** The rows of every table under `dir`, as count and order-free hash,
    * plus the text of its `_`-files (the run's own directory masked, as a
    * stream-compacted marker names its source); `dir` may be one table.
    */
  private def state(dir: String): Seq[String] = {
    def table(p: String): String = {
      val df = spark.read.parquet(p)
      val r = df.agg(count(lit(1)),
          sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head
      s"${p.stripPrefix(dir)}: n=${r.getLong(0)} h=${r.get(1)}"
    }
    val p = new Path(dir)
    if (!fs.exists(p)) return Seq("missing")
    val kids = fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
    if (kids.exists(k => k.getPath.getName.contains("=") || k.getPath.getName.endsWith(".parquet")))
      Seq(table(dir))
    else kids.flatMap { k =>
      val n = k.getPath.getName
      if (n.startsWith("_")) StoreLifecycle.readText(fs, k.getPath)
        .map(t => s"$n = " + t.replaceAll("graft_crash_matrix\\d+", "<run>")).toSeq
      else if (k.isDirectory && !n.startsWith(".")) Seq(table(s"$dir/$n"))
      else Nil
    }
  }

  /** `root` and its siblings, with the random suffix masked. */
  private def siblings(root: String): Seq[String] = {
    val p = new Path(root)
    fs.listStatus(p.getParent).map(_.getPath.getName)
      .filter(_.startsWith(p.getName))
      .map(_.replaceAll("-[0-9a-f]{8}$", "-*")).sorted.toSeq
  }

  private sealed trait Step { def name: String }
  private case object AfterStage extends Step { val name = "after stage" }
  private case object MidSwap extends Step { val name = "mid swap" }
  private case object BeforeCommit extends Step { val name = "before commit" }
  private final case class OnWrite(table: String) extends Step { val name = s"on $table" }

  /** The FS call `step` dies at, for a subject rooted at `root`. */
  private def fault(step: Step, root: String): (String, Path, Path) => Boolean = {
    val name = new Path(root).getName
    step match {
      case AfterStage => (op, _, dst) => op == "rename" && dst.getName.startsWith(s"$name.old-")
      case MidSwap => (op, src, dst) => op == "rename" && dst.getName == name &&
        (src.getName.startsWith(s"$name.build-") || src.getName.startsWith(s"$name.compact-"))
      case OnWrite(t) => (op, p, _) => op == "mkdirs" && p.toString.contains(s"/$t/")
      case BeforeCommit => (_, _, _) => false
    }
  }

  /** A subject: `setup` prepares the dir, `run` is the operation that
    * crashes, `recover` what a restart does; `watched` are the roots
    * compared. `left(step)` = (siblings of the first root after the
    * crash, after recovery).
    */
  private final case class Subject(name: String, steps: Seq[Step],
      setup: String => Unit, run: String => Unit, recover: String => Unit,
      watched: Seq[String], left: Step => (Seq[String], Seq[String]))

  private val rebuilt: Step => (Seq[String], Seq[String]) = {
    case AfterStage => (Seq("store", "store.build-*"), Seq("store", "store.build-*"))
    case _ => (Seq("store.build-*", "store.old-*"), Seq("store", "store.build-*"))
  }
  private val folded: Step => (Seq[String], Seq[String]) = {
    case AfterStage => (Seq("store", "store.compact-*"), Seq("store"))
    case MidSwap => (Seq("store.compact-*", "store.old-*"), Seq("store"))
    case _ => (Seq("store"), Seq("store"))
  }
  private val appended: Step => (Seq[String], Seq[String]) = _ => (Seq("store"), Seq("store"))

  private def store(name: String, ensure: String => Unit) = Subject(name,
    Seq(AfterStage, MidSwap), d => staleRoot(s"$d/store"), d => ensure(s"$d/store"),
    d => ensure(s"$d/store"), Seq("store"), rebuilt)

  private def compactTo(name: String, fill: String => Unit,
      compact: (String, String) => Unit) = Subject(name,
    Seq(AfterStage, MidSwap), d => { fill(s"$d/idx"); staleRoot(s"$d/store") },
    d => compact(s"$d/idx", s"$d/store"), d => compact(s"$d/idx", s"$d/store"),
    Seq("store"), rebuilt)

  /** Three appended layers; the fold is what crashes; a restart replays
    * the newest batch and folds again.
    */
  private def fold(name: String, append: (DataFrame, Long, String) => Unit,
      compact: String => Unit) = Subject(name,
    Seq(AfterStage, MidSwap, BeforeCommit),
    d => (0 to 2).foreach(i => append(third(i), i.toLong, s"$d/store")),
    d => compact(s"$d/store"),
    d => { append(third(2), 2L, s"$d/store"); compact(s"$d/store") },
    Seq("store"), folded)

  /** Batch 0 lands; batch 1 is what crashes and is replayed. */
  private def batches(name: String, table: String, watched: Seq[String],
      batch: (Int, String) => Unit) = Subject(name, Seq(OnWrite(table)),
    d => batch(0, d), d => batch(1, d), d => batch(1, d), watched, appended)

  private val subjects = Seq(
    store("TextIndexStore.ensure", TextIndexStore.ensure(spark, sf0001, _)),
    store("VectorIndexStore.ensure", VectorIndexStore.ensure(spark, sf0001, _)),
    store("SignatureStore.ensure", SignatureStore.ensure(spark, sf0001, 16, 4, _)),
    store("ExactSpanStore.ensure", ExactSpanStore.ensure(spark, sf0001, 50, _)),
    compactTo("IncrementalTextIndex.compactTo",
      idx => (0 to 1).foreach(i =>
        IncrementalTextIndex.appendBatch(spark, half(docs, "doc_id", i), i.toLong, idx)),
      IncrementalTextIndex.compactTo(spark, _, _)),
    compactTo("IncrementalVectorIndex.compactTo",
      idx => {
        IncrementalVectorIndex.baseBuild(spark, half(emb, "vec_id", 0), idx)
        IncrementalVectorIndex.appendBatch(spark, half(emb, "vec_id", 1), 1L, idx)
      },
      IncrementalVectorIndex.compactTo(spark, _, _)),
    fold("IncrementalSignatureStore.compact",
      IncrementalSignatureStore.appendBatch(spark, _, _, _, 16, 4),
      IncrementalSignatureStore.compact(spark, _)),
    fold("IncrementalExactSpanStore.compact",
      IncrementalExactSpanStore.appendBatch(spark, _, _, _, 50),
      IncrementalExactSpanStore.compact(spark, _)),
    fold("StreamingNbTrain.compact",
      (b, id, dir) => StreamingNbTrain.writeBatch(b, id, dir),
      StreamingNbTrain.compact(spark, _)),
    batches("IncrementalTextIndex.appendBatch", "termdelta", Seq("store"),
      (i, d) => IncrementalTextIndex.appendBatch(spark, half(docs, "doc_id", i),
        i.toLong, s"$d/store")),
    batches("IncrementalVectorIndex.appendBatch", "codes", Seq("store"),
      (i, d) =>
        if (i == 0) IncrementalVectorIndex.baseBuild(spark, half(emb, "vec_id", 0), s"$d/store")
        else IncrementalVectorIndex.appendBatch(spark, half(emb, "vec_id", 1), 1L, s"$d/store")),
    batches("IncrementalSignatureStore.appendBatch", "arrays", Seq("store"),
      (i, d) => IncrementalSignatureStore.appendBatch(spark, half(docs, "doc_id", i),
        i.toLong, s"$d/store", 16, 4)),
    batches("IncrementalExactSpanStore.appendBatch", "wins", Seq("store"),
      (i, d) => IncrementalExactSpanStore.appendBatch(spark, half(docs, "doc_id", i),
        i.toLong, s"$d/store", 50)),
    batches("StreamingNbTrain.writeBatch", "counts", Seq("store"),
      (i, d) => StreamingNbTrain.writeBatch(half(docs, "doc_id", i), i.toLong, s"$d/store")),
    batches("StreamingCms.sketchBatch", "store", Seq("store"),
      (i, d) => StreamingCms.sketchBatch(spark, half(docs, "doc_id", i), i.toLong,
        "doc_id", s"$d/store")),
    batches("StreamingNearDedup.dedupBatch", "out", Seq("store", "out"),
      (i, d) => StreamingNearDedup.dedupBatch(spark,
        half(docs, "doc_id", i).select("doc_id", "text"), i.toLong,
        s"$d/store", s"$d/out", 0.6)),
    batches("StreamingFrameDedup.dedupBatch", "out", Seq("store", "out"),
      (i, d) => StreamingFrameDedup.dedupBatch(spark, media(i * 6 until i * 6 + 6),
        i.toLong, s"$d/store", s"$d/out")),
    batches("StreamingMediaDedup.dedupBatch", "out", Seq("store", "out"),
      (i, d) => StreamingMediaDedup.dedupBatch(spark, images(i), i.toLong,
        s"$d/store", s"$d/out", 7)),
    // every store and out table of the chain lives under `store`
    batches("MediaIngestJob.ingestBatch", "out", Seq("store"),
      (i, d) => MediaIngestJob.ingestBatch(spark, mixed(i), i.toLong, s"$d/store")),
    batches("StreamingPackedShards.packBatch", "store", Seq("store", "out"),
      (i, d) => StreamingPackedShards.packBatch(spark,
        half(docs, "doc_id", i).select("doc_id", "text"), i.toLong,
        s"$d/store", s"$d/out", budget = 64L)),
    batches("StreamingTopKJob.upsertSummaries", "store", Seq("store"),
      (i, d) => StreamingTopKJob.upsertSummaries(spark, summaries(i), s"$d/store"))
  )

  private def fresh(): String =
    "crashfs://" + Scratch.tempDir("graft_crash_matrix")

  for (s <- subjects) {
    lazy val unbroken = {
      val d = fresh()
      s.setup(d); s.run(d)
      s.watched.map(w => w -> state(s"$d/$w"))
    }
    for (step <- s.steps) test(s"${s.name} — crash ${step.name}") {
      val d = fresh()
      s.setup(d)
      step match {
        case BeforeCommit => s.run(d)
        case _ =>
          val e = intercept[Throwable](CrashFs.crashAt(fault(step, s"$d/store"))(s.run(d)))
          assert(CrashFs.crashed(e), e)
      }
      val root = s"$d/${s.watched.head}"
      val (byCrash, afterRecovery) = s.left(step)
      assert(siblings(root) == byCrash, "left by the crash")
      s.recover(d)
      assert(siblings(root) == afterRecovery, "left after recovery")
      assert(s.watched.map(w => w -> state(s"$d/$w")) == unbroken)
    }
  }

  test("a fresh ensure makes four FS calls: the parent's exists and listing, the marker's exists and open") {
    val d = fresh()
    val dir = TextIndexStore.ensure(spark, sf0001, s"$d/store")
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    CrashFs.withHook((op, p, _) => calls.synchronized(calls += s"$op ${p.getName}")) {
      TextIndexStore.ensure(spark, sf0001, dir)
    }
    assert(calls.size <= 4, calls.mkString(", "))
  }
}
