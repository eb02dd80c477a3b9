package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared swap discipline for every on-disk store (text index, vector
  * index, signature store, and their streaming-compacted forms): a fully
  * staged tree replaces the live root via move-aside → rename-in →
  * restore-on-failure. Unlike delete-then-rename, no failure mode leaves
  * the store permanently gone: if the rename-in fails the original tree
  * is moved back, and the only remaining exposure is a reader racing the
  * two renames observing a missing root for one FS op — which every
  * store's `ensure` re-verify already absorbs (it re-reads the
  * fingerprint and rebuilds on a miss).
  *
  * The stores' other shared plumbing lives here too: the default store
  * root, the FileSystem lookup, staging paths, sidecar files (the
  * `_FINGERPRINT` marker among them) and the build-iff-stale `ensure`.
  */
object StoreSwap {

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

  /** A fresh private staging sibling of `dir` for a build to write into
    * before [[swapIn]].
    */
  def stagingPath(dir: String): Path =
    new Path(dir + ".build-" + java.util.UUID.randomUUID().toString.take(8))

  /** Replace `root` with the staged tree at `tmp`. Returns true iff the
    * staged tree is now live; on false the previous tree (if any) has
    * been restored and `tmp` deleted — the caller lost a concurrent-swap
    * race and should defer to `ensure`'s post-build re-verify.
    */
  def swapIn(f: FileSystem, tmp: Path, root: Path): Boolean = {
    f.mkdirs(root.getParent)
    val aside = new Path(
      root.toString + ".old-" + java.util.UUID.randomUUID().toString.take(8))
    val hadOld = f.exists(root)
    if (hadOld && !f.rename(root, aside)) { f.delete(tmp, true); return false }
    if (f.rename(tmp, root)) { if (hadOld) f.delete(aside, true); true }
    else {
      // restore the original tree; if that rename ALSO fails, the
      // expected cause is a concurrent builder having already renamed
      // its own staged tree into `root` — but only discard our
      // moved-aside copy when a replacement tree is VERIFIABLY live at
      // root (a transient FS failure, not a lost race, must not delete
      // the only copy of the store; ensure() could rebuild from source,
      // but that is recovery, not license)
      if (hadOld && !f.rename(aside, root) && f.exists(root))
        f.delete(aside, true)
      f.delete(tmp, true)
      false
    }
  }

  /** Write the `_FINGERPRINT` freshness marker into the staged tree
    * `tmp`. Called last, after every table write: a tree without the
    * marker always reads stale.
    */
  def writeFingerprint(f: FileSystem, tmp: Path, fingerprint: String): Unit =
    writeText(f, new Path(tmp, "_FINGERPRINT"), fingerprint)

  /** Whether the live tree at `root` carries the marker `want`. */
  def isFresh(f: FileSystem, root: String, want: String): Boolean =
    readText(f, new Path(s"$root/_FINGERPRINT")).contains(want)

  /** Write a small UTF-8 sidecar file (a marker or driver-read metadata). */
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

  /** Build iff the live tree at `dir` lacks the marker `want`; returns
    * `dir`. Sweeps orphans from crashed or raced swaps first, and
    * re-verifies after a build (the swap can lose a race to a concurrent
    * process), retrying once, so a caller never proceeds on a tree that
    * doesn't match the current source vintage.
    */
  def ensure(spark: SparkSession, dir: String, want: String)(build: => Unit): String = {
    val f = fs(spark, dir)
    sweepOrphans(f, new Path(dir))
    if (!isFresh(f, dir, want)) {
      build
      if (!isFresh(f, dir, want)) build
    }
    dir
  }

  /** Sweep stale `.old-*` / `.compact-*` siblings of `root` left by
    * crashed or racing swaps. Safe to call from any `ensure`: a live
    * swap's aside tree exists only for the instant between the two
    * renames, and a loser's aside is deleted by swapIn itself — anything
    * still on disk here is an orphan from a process that died mid-swap.
    */
  def sweepOrphans(f: FileSystem, root: Path): Unit = {
    val parent = root.getParent
    if (parent != null && f.exists(parent)) {
      val prefix = root.getName + ".old-"
      val cprefix = root.getName + ".compact-"
      f.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix) || n.startsWith(cprefix))
          f.delete(st.getPath, true)
      }
    }
  }
}
