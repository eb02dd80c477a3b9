package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard for the shared mechanisms: every session-lifetime
  * cache goes through [[SessionMemo]], every session is built through
  * [[GraftSession]], every store swap, marker and partition-replacing
  * write through `sources.StoreLifecycle`, and the BM25 and vector-probe
  * arithmetic through their one core, each retrieval step (cosine,
  * vector top-k, PQ ADC, eval argmax, BM25 pivot and stats, RRF) through
  * its one definition, the media codecs through
  * Multimodal's one batched seam and the LSH candidate join through
  * `TextDedup.bandedCandidates`, so hand-rolled copies cannot grow
  * back under `src/main/scala`; specs make their temp dirs through
  * `sources.Scratch`. Runs from the project root (sbt's forked test
  * working directory).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString).map(p => p -> Files.readString(p))
    finally files.close()
  }

  private lazy val sources = scalaFiles("src/main/scala")
  private lazy val tests = scalaFiles("src/test/scala")

  private def offenders(pattern: String, allowed: String,
      in: Seq[(Path, String)] = sources): Seq[String] =
    in.collect {
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

  test("store swaps, markers and orphan sweeps live only in StoreLifecycle") {
    for (call <- Seq("swapIn", "stagingPath", "writeFingerprint", "sweepOrphans"))
      assert(offenders(s"""\\b$call\\s*\\(""", "StoreLifecycle.scala").isEmpty, call)
  }

  test("partition-replacing writes go through StoreLifecycle.replacePartitions") {
    // any string literal naming the mode: the writer option or the session conf
    assert(offenders("partitionOverwriteMode\"", "StoreLifecycle.scala").isEmpty)
  }

  test("prior-layer reads go through StoreLifecycle.priorLayers") {
    assert(offenders("""__batch_id"\)\s*<""", "StoreLifecycle.scala").isEmpty)
  }

  test("LSH band expressions are written only in the banding functions") {
    // MinHash: xxhash64 over a band's signature slice; Hamming: a shifted
    // band of the hash masked into a key. Multimodal's precomputed-key
    // bandings (element_at(k, bb + 1) AS key) are neither.
    val minhash = """xxhash64\(slice\([^,]+,\s*b\s*\*"""
    val hamming = """shiftright\([^,]+,\s*b\s*\*[^)]*\)\s*&[^)]*\bAS key"""
    assert(offenders(minhash, "TextFunctions.scala").isEmpty, "MinHash bands")
    assert(offenders(hamming, "TextFunctions.scala").isEmpty, "Hamming bands")
  }

  test("the BM25 term score is written only in TextFunctions.bm25Term") {
    assert(offenders("""lit\(0\.75\)""", "TextFunctions.scala").isEmpty)
  }

  test("the probed cells of a vector query are chosen in one place") {
    val probe = java.util.regex.Pattern.quote("""nearestCells(col("embedding"), cents, nprobe)""")
    val sites = sources.flatMap { case (p, text) =>
      probe.r.findAllIn(text).map(_ => p.getFileName.toString) }
    assert(sites == Seq("VectorIndexStore.scala"), sites)
  }

  test("each retrieval step is written once, in its one core") {
    // in-query builders, stored indexes and incremental twins all score,
    // rank and fuse through these definitions
    for ((step, code, file) <- Seq(
        ("cosine", """/ (col("a_norm") * col("b_norm"))""", "VectorFunctions.scala"),
        ("vector top-k tail", """col("rank").cast("bigint")""", "VectorIndexStore.scala"),
        ("PQ ADC candidates", """posexplode(col("codes"))""", "VectorIndexStore.scala"),
        ("eval argmax", """max(struct(col("cosine")""", "VectorIndexStore.scala"),
        ("BM25 pivot", """max(when(col("term") ===""", "TextIndexStore.scala"),
        ("RRF fusion", "1000000000 div", "TextIndexStore.scala"),
        ("per-key dl", """agg(sum(col("tf")).as("dl")""", "TextIndexStore.scala"))) {
      val quoted = java.util.regex.Pattern.quote(code)
      val sites = sources.flatMap { case (p, text) =>
        quoted.r.findAllIn(text).map(_ => p.getFileName.toString) }
      assert(sites == Seq(file), s"$step: `$code` at $sites")
    }
  }

  test("Multimodal's batch loop and each codec step are written once") {
    val text = sources.collectFirst {
      case (p, t) if p.getFileName.toString == "Multimodal.scala" => t
    }.get
    for ((step, call) <- Seq(
        "batch loop" -> "mapPartitions",
        "image read" -> "ImageIO.read(",
        "frame reader" -> "getImageReaders",
        // the PCM reader's container open (its transcode is the one other
        // getAudioInputStream call, in the same function)
        "PCM reader" -> "getAudioInputStream(new",
        "pixel CRC" -> "crc.update(p >>> 24)",
        "aHash" -> "grayGrid(img, 8, 8)",
        "bilinear scale" -> "VALUE_INTERPOLATION_BILINEAR")) {
      val n = java.util.regex.Pattern.quote(call).r.findAllIn(text).length
      assert(n == 1, s"$step: `$call` appears $n times in Multimodal.scala")
    }
  }

  test("the LSH skew guard is written only in TextDedup.bandedCandidates") {
    val guard = java.util.regex.Pattern.quote("\"bn\") <=")
    val sites = sources.flatMap { case (p, text) =>
      guard.r.findAllIn(text).map(_ => p.getFileName.toString) }
    assert(sites == Seq("TextDedup.scala"), sites)
  }

  test("specs make temp dirs only through Scratch.tempDir") {
    // Scratch deletes its dirs when the forked test JVM exits
    assert(offenders("createTempDirectory", "SourceHygieneSpec.scala", tests).isEmpty)
  }
}
