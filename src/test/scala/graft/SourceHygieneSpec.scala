package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard for the two shared session mechanisms: every
  * session-lifetime cache goes through [[SessionMemo]] and every session is
  * built through [[GraftSession]], so hand-rolled copies cannot grow back
  * under `src/main/scala`. Runs from the project root (sbt's forked test
  * working directory).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString).map(p => p -> Files.readString(p))
    finally files.close()
  }

  private def offenders(pattern: String, allowed: String): Seq[String] =
    sources.collect {
      case (p, text) if p.getFileName.toString != allowed &&
          pattern.r.findFirstIn(text).isDefined => p.toString
    }

  test("WeakHashMap appears only in SessionMemo") {
    assert(offenders("WeakHashMap", "SessionMemo.scala").isEmpty)
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(offenders("""SparkSession\s*\.\s*builder""", "GraftSession.scala").isEmpty)
  }

  test("no library code assigns the session's experimental methods") {
    assert(offenders("""experimental\s*\.\s*extra\w+\s*=""", "").isEmpty)
  }
}
