package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The one lifecycle of every structure the engine keeps beside the
  * lake: the four batch-built stores ([[TextIndexStore]],
  * [[VectorIndexStore]], [[SignatureStore]], [[ExactSpanStore]]), their
  * incremental twins and the layered streaming maintainers. A failed
  * write is redelivered as a whole batch, so each of them must converge
  * under replay and survive a crash in the middle of a swap. The four
  * steps that give them that are written here once; a store keeps only
  * its marker, its table derivations and its query relations.
  *
  *  1. Staged build ([[build]], [[ensure]]): the store's tables are
  *     written (overlapped) into a private `<root>.build-*` sibling, the
  *     `_FINGERPRINT` marker last, and the stage replaces the live root
  *     by move-aside → rename-in → restore-on-failure. A tree without
  *     the marker always reads stale; `ensure` builds iff the live
  *     marker differs and re-verifies after the build (a concurrent
  *     builder may win the swap).
  *  2. Layer writes ([[replacePartitions]]): a batch replaces exactly
  *     the partitions it has rows for, with dynamic overwrite set on the
  *     writer, never on the session — a session-wide setting would let a
  *     concurrent static-mode overwrite delete partitions it never
  *     touched. A replayed batch rewrites its own partitions with the
  *     same bytes, and reads the store's strictly earlier layers only
  *     ([[priorLayers]]).
  *  3. Maintainer wiring ([[maintain]]): checkpointed `foreachBatch`, so
  *     a batch that died mid-commit is re-run under the same id.
  *  4. Layer fold ([[foldLayers]]): committed layers of an in-place
  *     store fold into [[CompactedLayer]]; the newest layer is kept, so
  *     a batch replayed after the fold still overwrites only itself.
  *
  * Crash recovery ([[settle]]): every entry that swaps or appends in
  * place first lists the root's parent once. When the root is missing
  * and a moved-aside `<root>.old-*` tree exists, a process died between
  * the two renames of a swap: the aside is the last complete tree and
  * is renamed back before anything is swept. Only then are stale
  * `.old-*` and `.compact-*` siblings deleted. `.build-*` stages are
  * never swept: one may be a concurrent builder's tree in mid-write.
  */
object StoreLifecycle {

  private val Marker = "_FINGERPRINT"

  /** The Hadoop FileSystem that serves `path` — the same resolver Spark's
    * reads and writes use, so hdfs://… and s3a://… store roots work.
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Deterministic per-corpus store location `<root>/<kind>/<sfDir>`, with
    * `sfDir` flattened to one path segment. The root comes from Spark
    * conf — `graft.index.dir` if set, else the first `spark.local.dir`
    * entry — so a multi-tenant cluster isolates stores per app instead of
    * sharing a literal `/tmp` path; `/tmp` remains only the last-resort
    * default (matching Spark's own `spark.local.dir` default). Any Hadoop
    * FS URI works when a store dir is passed explicitly.
    */
  def defaultDir(spark: SparkSession, kind: String, sfDir: String): String = {
    val root = spark.conf.getOption("graft.index.dir")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir")
        .map(_.split(",")(0).stripSuffix("/")))
      .getOrElse("/tmp")
    s"$root/$kind/" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  /** Write a small UTF-8 sidecar file: a marker, or metadata a query
    * reads without a Spark job.
    */
  def writeText(f: FileSystem, file: Path, text: String): Unit = {
    val out = f.create(file, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The contents of a sidecar file, or None when it does not exist. */
  def readText(f: FileSystem, file: Path): Option[String] =
    if (!f.exists(file)) None
    else {
      val in = f.open(file)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  /** The marker of a store built from the table at `source`:
    * `v<version>|<params>|<source path>|<len|mtime>`, with no params
    * segment when there are none. A store whose marker differs is stale,
    * so the format, the layout `version` and the build `params` decide
    * what a rebuild is.
    */
  def marker(spark: SparkSession, version: Int, source: String, params: String*): String =
    (s"v$version" +: params :+ new Path(source).toString :+
      graft.Tables.fingerprint(spark, source)).mkString("|")

  private def isFresh(f: FileSystem, dir: String, want: String): Boolean =
    readText(f, new Path(dir, Marker)).contains(want)

  // ---- 1. staged build ---------------------------------------------------

  /** Build iff the live tree at `dir` lacks the marker `want`; returns
    * `dir`. Settles a crashed swap first, and re-verifies after a build,
    * retrying once, so a caller never proceeds on a tree that doesn't
    * match the current source vintage. A fresh store costs four FS calls:
    * the parent's exists and listing, the marker's exists and open.
    */
  def ensure(spark: SparkSession, dir: String, want: String)(build: => Unit): String = {
    val f = fs(spark, dir)
    settle(f, new Path(dir))
    if (!isFresh(f, dir, want)) {
      build
      if (!isFresh(f, dir, want)) build
    }
    dir
  }

  /** Replace the tree at `dir` with a fresh build: each of `tables`
    * writes into the stage directory it is given (the writes overlap),
    * then the `marker` is written and the stage swapped in. Returns
    * false when a concurrent swap won; [[ensure]]'s re-verify decides.
    */
  def build(spark: SparkSession, dir: String, marker: String)
      (tables: (String => Unit)*): Boolean = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    settle(f, root)
    val stage = sibling(root, ".build-")
    graft.Par.inParallel(tables.map(t => () => t(stage.toString)): _*)
    writeText(f, new Path(stage, Marker), marker)
    swapIn(f, stage, root)
  }

  // ---- 2. layer writes ---------------------------------------------------

  /** Write `df` as parquet under `path`, replacing exactly the
    * `partitionBy` partitions it has rows for (dynamic overwrite, set on
    * this writer only).
    */
  def replacePartitions(df: DataFrame, path: String, partitionBy: String*): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path)

  /** The rows of the layered store at `dir` written by batches strictly
    * before `batchId`, read with the writer's `schema` (layer column
    * `__batch_id` included) so the read infers nothing and starts no
    * job; an empty frame of that schema while the store does not exist.
    * A batch judged only against these never matches the rows its own
    * earlier attempt wrote, so a replay admits what the first attempt did.
    */
  def priorLayers(spark: SparkSession, dir: String, batchId: Long,
      schema: StructType): DataFrame =
    if (fs(spark, dir).exists(new Path(dir)))
      spark.read.schema(schema).parquet(dir).filter(col("__batch_id") < batchId)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** One batch's layer writes into the store at `root`, overlapped, after
    * settling a fold that crashed mid-swap — otherwise the append would
    * recreate a root holding only the new layer.
    */
  def appendLayer(spark: SparkSession, root: String)(writes: (() => Unit)*): Unit = {
    settle(fs(spark, root), new Path(root))
    graft.Par.inParallel(writes: _*)
  }

  // ---- 3. maintainer wiring ----------------------------------------------

  /** Run `batch` on every micro-batch of `stream` under the checkpoint at
    * `checkpoint`: a batch that died before its commit is re-run under
    * the same id, and its layer writes converge.
    */
  def maintain(stream: DataFrame, checkpoint: String)
      (batch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batch)
      .start()

  // ---- 4. layer fold -----------------------------------------------------

  /** Reserved layer id for folded rows. Negative by design: streaming
    * batch ids start at 0, so no replayed batch can overwrite it.
    */
  val CompactedLayer: Long = -1L

  /** One layered table of an in-place store: its directory under the
    * root, its partition columns (the layer column among them) and the
    * shape its folded rows are written in.
    */
  final case class Layered(table: String, partitionBy: Seq[String],
      shape: DataFrame => DataFrame)

  /** Fold the committed layers (every `layer` value below the newest) of
    * the store at `root` into [[CompactedLayer]], keeping the newest
    * layer as it is, and swap the folded tree in.
    *
    * Replay-safe: after a crash, Structured Streaming re-runs at most the
    * LAST micro-batch, whose layer is left unfolded, so the replay
    * overwrites only its own partitions; earlier batches were durable
    * before a later one ran. Batch ids must stay monotone for the life of
    * the store (deleting the checkpoint while keeping the store is out of
    * contract). The newest layer is read from the first table; an empty
    * or never-appended store is left alone.
    *
    * MUST run with the maintaining query stopped: an append landing
    * between the two renames of the swap would write into the aside tree
    * or recreate the root. Quiesce (query.stop()), fold, restart; the
    * checkpoint replays the in-flight batch into the folded store.
    */
  def foldLayers(spark: SparkSession, root: String, layer: String)
      (tables: Layered*): Unit = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    settle(f, rootPath)
    if (!f.exists(new Path(rootPath, tables.head.table))) return
    // a replay overwrote its layer in place: drop cached listings first;
    // the hive partition column reads back with an inferred numeric type
    // (int for small ids), so normalize it to long
    def read(t: Layered): DataFrame = {
      spark.catalog.refreshByPath(s"$root/${t.table}")
      spark.read.parquet(s"$root/${t.table}")
        .withColumn(layer, col(layer).cast("long"))
    }
    val newest = read(tables.head).agg(max(col(layer))).head
    if (newest.isNullAt(0)) return
    val keep = newest.getLong(0)
    val stage = sibling(rootPath, ".compact-")
    graft.Par.inParallel(tables.map(t => () =>
      t.shape(read(t).withColumn(layer,
          when(col(layer) < keep, lit(CompactedLayer)).otherwise(col(layer))))
        .write.partitionBy(t.partitionBy: _*).parquet(s"$stage/${t.table}")): _*)
    swapIn(f, stage, rootPath)
    tables.foreach(t => spark.catalog.refreshByPath(s"$root/${t.table}"))
  }

  // ---- swap and recovery -------------------------------------------------

  private def sibling(root: Path, kind: String): Path =
    new Path(root.toString + kind + java.util.UUID.randomUUID().toString.take(8))

  /** Replace `root` with the staged tree at `stage`. Returns true iff the
    * stage is now live; on false the previous tree (if any) has been
    * restored and the stage deleted. Unlike delete-then-rename, no
    * failure leaves the store gone: a failed rename-in moves the original
    * back, and a process that dies between the renames leaves the aside
    * for [[settle]] to restore. A reader racing the two renames can see
    * a missing root for one FS op, which `ensure`'s re-verify absorbs.
    */
  private def swapIn(f: FileSystem, stage: Path, root: Path): Boolean = {
    f.mkdirs(root.getParent)
    val aside = sibling(root, ".old-")
    val hadOld = f.exists(root)
    if (hadOld && !f.rename(root, aside)) { f.delete(stage, true); return false }
    if (f.rename(stage, root)) { if (hadOld) f.delete(aside, true); true }
    else {
      // restore the original tree; if that rename ALSO fails, the
      // expected cause is a concurrent builder having renamed its own
      // stage into `root` — but discard our aside only when a
      // replacement tree is verifiably live (a transient FS failure must
      // not delete the only copy of the store)
      if (hadOld && !f.rename(aside, root) && f.exists(root))
        f.delete(aside, true)
      f.delete(stage, true)
      false
    }
  }

  /** Put a complete tree back at `root` if a swap died between its two
    * renames, then sweep the `.old-*` / `.compact-*` siblings crashed or
    * raced swaps left — all from one listing of the parent. Of several
    * asides the newest is restored. A fold's `.compact-*` stage is safe
    * to sweep because folds run quiesced; a `.build-*` stage is not (it
    * may be a concurrent builder's) and stays.
    */
  private def settle(f: FileSystem, root: Path): Unit = {
    val parent = root.getParent
    if (parent == null || !f.exists(parent)) return
    val listing = f.listStatus(parent)
    val name = root.getName
    def named(prefix: String): Seq[FileStatus] =
      listing.toSeq.filter(_.getPath.getName.startsWith(name + prefix))
    val asides = named(".old-")
    val restored =
      if (listing.exists(_.getPath.getName == name) || asides.isEmpty) None
      else {
        val newest = asides.maxBy(_.getModificationTime)
        f.rename(newest.getPath, root)
        Some(newest)
      }
    (asides ++ named(".compact-")).filterNot(restored.contains)
      .foreach(st => f.delete(st.getPath, true))
  }
}
