package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Local files under the test-only `crashfs` scheme, with a hook that
  * sees every rename, mkdirs, exists, getFileStatus, listStatus and open
  * a caller makes, before it runs. A hook that throws [[CrashFs.Crash]]
  * stands in for a process dying at that FS step: nothing after it runs,
  * and no cleanup the code under test did not already do. Specs register the scheme on
  * their own session with [[CrashFs.register]]; no production code knows
  * about it.
  */
class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = "crashfs"
  override def getUri: URI = URI.create("crashfs:///")

  override def rename(src: Path, dst: Path): Boolean =
    CrashFs.hooked("rename", src, dst)(super.rename(src, dst))
  override def mkdirs(p: Path): Boolean = CrashFs.hooked("mkdirs", p, null)(super.mkdirs(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    CrashFs.hooked("mkdirs", p, null)(super.mkdirs(p, perm))
  override def exists(p: Path): Boolean = CrashFs.hooked("exists", p, null)(super.exists(p))
  override def getFileStatus(p: Path): FileStatus =
    CrashFs.hooked("getFileStatus", p, null)(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] =
    CrashFs.hooked("listStatus", p, null)(super.listStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    CrashFs.hooked("open", p, null)(super.open(p, bufferSize))
}

object CrashFs {

  /** The simulated process death. */
  final class Crash(msg: String) extends java.io.IOException(msg)

  type Hook = (String, Path, Path) => Unit

  private val idle: Hook = (_, _, _) => ()
  @volatile private var hook: Hook = idle

  // calls the file system makes on itself (listStatus stats each child)
  // are not the caller's FS calls: only the outermost one is hooked
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def hooked[T](op: String, a: Path, b: Path)(call: => T): T = {
    val d = depth.get
    if (d == 0) hook(op, a, b)
    depth.set(d + 1)
    try call finally depth.set(d)
  }

  /** Serve `crashfs:///…` paths in this session with [[CrashFs]]. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)

  /** Run `body` with `h` seeing every hooked FS call. */
  def withHook[T](h: Hook)(body: => T): T = {
    hook = h
    try body finally hook = idle
  }

  /** Run `body`, dying at the first FS call `at` matches. */
  def crashAt[T](at: (String, Path, Path) => Boolean)(body: => T): T =
    withHook((op, a, b) => if (at(op, a, b)) {
      hook = idle
      throw new Crash(s"crash at $op $a ${Option(b).getOrElse("")}")
    })(body)

  /** Whether `t` or one of its causes is a [[Crash]]. */
  def crashed(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[Crash])
}
