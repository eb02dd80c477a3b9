package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared swap discipline for every on-disk store (text index, vector
  * index, signature store, and their streaming-compacted forms): a fully
  * staged tree replaces the live root via move-aside → rename-in →
  * restore-on-failure. Unlike delete-then-rename, no failure mode leaves
  * the store permanently gone: if the rename-in fails the original tree
  * is moved back, and the only remaining exposure is a reader racing the
  * two renames observing a missing root for one FS op — which every
  * store's `ensure` re-verify already absorbs (it re-reads the
  * fingerprint and rebuilds on a miss).
  */
object StoreSwap {

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
  def writeFingerprint(f: FileSystem, tmp: Path, fingerprint: String): Unit = {
    val out = f.create(new Path(tmp, "_FINGERPRINT"), true)
    try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
  }

  /** Whether the live tree at `root` carries the marker `want`. */
  def isFresh(f: FileSystem, root: String, want: String): Boolean = {
    val marker = new Path(s"$root/_FINGERPRINT")
    f.exists(marker) && {
      val in = f.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString == want
      finally in.close()
    }
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
