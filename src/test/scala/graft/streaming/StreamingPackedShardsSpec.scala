package graft.streaming

import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import graft.SparkSpec
import graft.functions.{BpeCodec, BpeMerges, BpeVocab}
import graft.sources.PackedShards

/** The packed-training-shard writer end-to-end: exact budget (every
  * sequence but the last holds exactly `budget` ids), token conservation
  * and ORDER across sequence boundaries (the concatenation of all
  * sequences equals the concatenation of the per-doc token-id streams in
  * doc_id order), shard assignment, stream==batch parity under different
  * micro-batch slicings, and replay idempotence of the streaming form.
  */
class StreamingPackedShardsSpec extends SparkSpec {
  import spark.implicits._

  private val Budget = 16L

  // texts over the fixture-merge alphabet so merges actually fire, with
  // lengths chosen to force sequences to span document boundaries
  private val docs: Seq[(Long, String)] = Seq(
    0L -> "table scan data",
    1L -> "fast query spark window",
    2L -> "the key lower value",
    3L -> "spark spark table",
    4L -> "scan",
    5L -> "window query data fast table scan",
    6L -> "value the key",
    7L -> "query window spark data table fast scan key")

  private lazy val vocab = new BpeVocab(BpeMerges.table)

  private def expectedIds(text: String): Seq[Int] = {
    val out = ArrayBuffer.empty[String]
    BpeMerges.default.encodeDocCounted(text, out)
    out.map(vocab.id).toSeq
  }

  private val fullStream: Seq[Int] =
    docs.sortBy(_._1).flatMap(d => expectedIds(d._2))

  private def readSeqs(path: String): Seq[(Long, Seq[Int])] =
    spark.read.parquet(path)
      .select(col("seq"), col("tokens"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSeq.sortBy(_._1)

  test("batch writer: exact budget, conservation, order, shard assignment") {
    val dir = graft.sources.Scratch.tempDir("graft_pack")
    val rel = PackedShards.writeBatch(spark, docs.toDF("doc_id", "text"),
      s"$dir/out", budget = Budget, seqsPerShard = 4)
    val rows = rel.select(col("seq"), col("tokens"), col("n_tokens"),
        col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(rows.nonEmpty)
    // contiguous numbering from 0
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong))
    // every sequence except the last holds EXACTLY the budget; none over
    rows.init.foreach { r => assert(r._3 == Budget, s"seq ${r._1}: ${r._3}") }
    assert(rows.last._3 <= Budget && rows.last._3 > 0)
    rows.foreach { r =>
      assert(r._2.size.toLong == r._3)
      assert(r._4 == r._1 / 4, s"seq ${r._1} in shard ${r._4}")
    }
    // conservation + ORDER: sequences concatenate back to the exact
    // per-doc token-id streams in doc_id order
    assert(rows.flatMap(_._2).toSeq == fullStream)
    // the doc-span map (attention/loss boundary metadata): per sequence
    // the spans tile [0, n_tokens) contiguously, and slicing the token
    // array by each doc's spans (across sequences, in seq order)
    // rebuilds that doc's exact id stream
    val spanRows = rel.select(col("seq"), col("tokens"), col("doc_spans"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(s => (s.getLong(0), s.getInt(1), s.getInt(2)))))
      .sortBy(_._1)
    spanRows.foreach { case (seq, toks, spans) =>
      assert(spans.head._2 == 0, s"seq $seq spans start at ${spans.head._2}")
      spans.sliding(2).foreach {
        case Seq((_, s1, l1), (_, s2, _)) =>
          assert(s2 == s1 + l1, s"seq $seq spans not contiguous")
        case _ => ()
      }
      assert(spans.map(_._3).sum == toks.size)
    }
    val perDoc = spanRows.flatMap { case (seq, toks, spans) =>
      spans.map { case (d, st, ln) => (d, seq, toks.slice(st, st + ln)) }
    }.groupBy(_._1).map { case (d, xs) =>
      d -> xs.sortBy(_._2).flatMap(_._3).toSeq
    }
    docs.foreach { case (d, text) =>
      assert(perDoc(d) == expectedIds(text), s"doc $d span rebuild")
    }
    // the artifact is ONE file per shard directory (the repartition-by-
    // shard discipline): a trainer streams whole files, and a writer
    // that leaks per-task files per shard would write millions of tiny
    // files at 100 TB — pin the shape, not just the values
    val shardDirs = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"${d.getName}: ${parts.length} files — small-file leak")
    }
  }

  test("offsets invariant across docsPerChunk / chunksPerSuper (two-level spine)") {
    // the spine parameters are pure parallelism knobs: any (docsPerChunk,
    // chunksPerSuper) must yield the identical global offsets — dpc=1
    // puts every doc in its own chunk and cps=2 forces MULTIPLE
    // superchunks, so the second prefix-sum level is genuinely exercised
    val idsCol = graft.functions.BpeEncodeIds.bpeIds(col("text"), "fixture",
      fullCharset = false)
    def offs(dpc: Long, cps: Long): Set[(Long, Long)] =
      PackedShards.withOffsets(docs.toDF("doc_id", "text"), idsCol,
          docsPerChunk = dpc, chunksPerSuper = cps)
        .select(col("doc_id"), col("offset")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = offs(1024L, 1024L) // one chunk, one super — the trivial spine
    assert(base.nonEmpty)
    for ((dpc, cps) <- Seq((1L, 2L), (1L, 3L), (2L, 2L), (3L, 1L)))
      assert(offs(dpc, cps) == base, s"dpc=$dpc cps=$cps diverged")
  }

  test("shuffled pack: layout == epochShuffle's permutation; nothing lost") {
    val dir = graft.sources.Scratch.tempDir("graft_pack_shuf")
    val rel = PackedShards.writeBatchShuffled(spark, docs.toDF("doc_id", "text"),
      s"$dir/out", seed = "epoch1", budget = Budget, seqsPerShard = 4)
    val rows = rel.select(col("seq"), col("tokens"), col("doc_spans"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(s => (s.getLong(0), s.getInt(1), s.getInt(2)))))
      .sortBy(_._1)
    // the permutation loses nothing: per-doc span rebuild == exact stream
    val perDoc = rows.flatMap { case (seq, toks, spans) =>
      spans.map { case (d, st, ln) => (d, seq, toks.slice(st, st + ln)) }
    }.groupBy(_._1).map { case (d, xs) =>
      d -> xs.sortBy(_._2).flatMap(_._3).toSeq
    }
    docs.foreach { case (d, text) =>
      assert(perDoc(d) == expectedIds(text), s"doc $d span rebuild")
    }
    // token stream order: concatenation == per-doc streams in the
    // SHUFFLED doc order (first global position per doc)
    val firstPos = rows.flatMap { case (seq, _, spans) =>
      spans.map { case (d, st, _) => (d, seq * Budget + st) }
    }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).min }
    val packOrder = firstPos.toSeq.sortBy(_._2).map(_._1)
    val byId = docs.toMap
    assert(rows.flatMap(_._2).toSeq ==
      packOrder.flatMap(d => expectedIds(byId(d))),
      "sequences must concatenate to the shuffled-order stream")
    // the layout IS epochShuffle's permutation (one convention for the
    // loader sharding and the pack), and differs from doc_id order
    val shufOrder = graft.ops.PipelineOps
      .epochShuffle(docs.toDF("doc_id", "text"), "epoch1", nShards = 4)
      .orderBy(col("shuffle_pos"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(packOrder == shufOrder,
      s"pack layout $packOrder != epochShuffle order $shufOrder")
    assert(packOrder != docs.map(_._1).sorted.toSeq,
      "seed epoch1 must actually permute this corpus")
  }

  test("exact-mode pack: shards are byte-lossless (detokenize == corpus)") {
    // the round-trip mode end-to-end THROUGH the artifact: pack with
    // exact = true, read the id stream back in (seq, position) order,
    // map ids → tokens → bytes — must equal the corpus texts
    // concatenated in doc_id order, byte-for-byte (case, whitespace,
    // punctuation, multi-byte UTF-8 all preserved in the shards)
    val docs2 = Seq(
      0L -> "Table SCAN  data\n",
      1L -> "\tfast query—spark 42%",
      2L -> " café 日本 <tag> 'q' ")
    val dir = graft.sources.Scratch.tempDir("graft_pack_exact")
    val rel = PackedShards.writeBatch(spark, docs2.toDF("doc_id", "text"),
      s"$dir/out", budget = 8L, seqsPerShard = 2, exact = true)
    val idStream = rel.select(col("seq"), col("tokens")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
      .flatMap(_._2).toSeq
    val rebuilt = BpeCodec.decodeTokens(idStream.map(vocab.token))
    assert(rebuilt == docs2.sortBy(_._1).map(_._2).mkString,
      "exact-mode shards must detokenize to the exact corpus bytes")
  }

  test("shuffledOffsets: layout invariant across md5 hex-prefix widths") {
    // chunk width is pure parallelism (same contract as the spine knobs
    // above): any md5 prefix preserves the global (h, doc_id) order, so
    // every width must place every doc at the identical global offset
    val idsCol = graft.functions.BpeEncodeIds.bpeIds(col("text"), "fixture",
      fullCharset = false)
    def lay(w: Int): Set[(Long, Long)] =
      PackedShards.shuffledOffsets(docs.toDF("doc_id", "text"), idsCol,
          "epoch1", hexPrefix = w)
        .select(col("doc_id"), col("offset")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = lay(1)
    assert(base.nonEmpty)
    for (w <- Seq(2, 3, 4))
      assert(lay(w) == base, s"hexPrefix=$w diverged from w=1")
  }

  test("resumable pack: targetRangeTokens sizes ranges; concurrent == serial") {
    def content(path: String): Set[(Long, Long, Seq[Int])] =
      spark.read.parquet(path)
        .select(col("shard").cast("long"), col("seq"), col("tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val refDir = graft.sources.Scratch.tempDir("graft_pack_cref")
    PackedShards.writeBatch(spark, docs.toDF("doc_id", "text"),
      s"$refDir/out", budget = 8L, seqsPerShard = 1)
    val ref = content(s"$refDir/out")
    // targetRangeTokens=8 at 8 tokens/shard derives 1 shard per range →
    // 5 ranges over the 33-token corpus; 4 submit concurrently (disjoint
    // shard partitions, per-range markers)
    val dir = graft.sources.Scratch.tempDir("graft_pack_conc")
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
      s"$dir/out", budget = 8L, seqsPerShard = 1,
      targetRangeTokens = Some(8L), maxConcurrentRanges = 4,
      onRangeWritten = r => { written.add(r); () })
    import scala.jdk.CollectionConverters._
    assert(written.asScala.toSet == (0L until 5L).toSet,
      s"expected 5 derived ranges, wrote ${written.asScala.toSet}")
    (0 until 5).foreach { r =>
      assert(new java.io.File(s"$dir/out/_ranges/r$r.done").exists(),
        s"range $r marker missing after concurrent run")
    }
    assert(content(s"$dir/out") == ref,
      "concurrent resumable artifact differs from the one-shot write")
    // a failed range under concurrency keeps completed markers and resumes
    val dir2 = graft.sources.Scratch.tempDir("graft_pack_conc2")
    intercept[RuntimeException] {
      PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
        s"$dir2/out", budget = 8L, seqsPerShard = 1,
        targetRangeTokens = Some(8L), maxConcurrentRanges = 2,
        onRangeWritten = r => if (r == 3L) throw new RuntimeException("kill"))
    }
    assert(!new java.io.File(s"$dir2/out/_ranges/r3.done").exists())
    PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
      s"$dir2/out", budget = 8L, seqsPerShard = 1,
      targetRangeTokens = Some(8L), maxConcurrentRanges = 2)
    assert(content(s"$dir2/out") == ref,
      "resumed concurrent artifact differs from the one-shot write")
  }

  test("resumable SHUFFLED pack: kill + resume == one-shot shuffled artifact") {
    def content(path: String): Set[(Long, Long, Seq[Int])] =
      spark.read.parquet(path)
        .select(col("shard").cast("long"), col("seq"), col("tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val refDir = graft.sources.Scratch.tempDir("graft_pack_shufref")
    PackedShards.writeBatchShuffled(spark, docs.toDF("doc_id", "text"),
      s"$refDir/out", seed = "epoch1", budget = 8L, seqsPerShard = 1)
    val ref = content(s"$refDir/out")
    val dir = graft.sources.Scratch.tempDir("graft_pack_shufres")
    intercept[RuntimeException] {
      PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
        s"$dir/out", budget = 8L, seqsPerShard = 1, shardsPerRange = 1,
        shuffleSeed = Some("epoch1"),
        onRangeWritten = r => if (r >= 1) throw new RuntimeException("kill"))
    }
    PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
      s"$dir/out", budget = 8L, seqsPerShard = 1, shardsPerRange = 1,
      shuffleSeed = Some("epoch1"))
    assert(content(s"$dir/out") == ref,
      "resumed shuffled artifact differs from the one-shot shuffled write")
  }

  test("resumable batch pack: killed mid-run, resumes at the next range, byte-identical") {
    // one-shot reference artifact
    val refDir = graft.sources.Scratch.tempDir("graft_pack_ref")
    PackedShards.writeBatch(spark, docs.toDF("doc_id", "text"),
      s"$refDir/out", budget = 8L, seqsPerShard = 1)
    def content(path: String): Set[(Long, Long, Seq[Int])] =
      spark.read.parquet(path)
        .select(col("shard").cast("long"), col("seq"), col("tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val ref = content(s"$refDir/out")
    // 33 corpus tokens at budget 8 / 1 seq per shard / 1 shard per range
    // gives 5 ranges, so the kill lands strictly inside the run
    val dir = graft.sources.Scratch.tempDir("graft_pack_res")
    val boom = intercept[RuntimeException] {
      PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
        s"$dir/out", budget = 8L, seqsPerShard = 1, shardsPerRange = 1,
        onRangeWritten = r => if (r >= 1) throw new RuntimeException("kill"))
    }
    assert(boom.getMessage == "kill")
    // the kill fired AFTER range 1's data write but BEFORE its marker:
    // range 0 is committed, range 1 is data-without-marker (the crash
    // window), later ranges absent
    assert(new java.io.File(s"$dir/out/_ranges/r0.done").exists())
    assert(!new java.io.File(s"$dir/out/_ranges/r1.done").exists())
    assert(content(s"$dir/out").subsetOf(ref) && content(s"$dir/out") != ref)
    // resume: completed ranges must be SKIPPED (range 0 never rewritten),
    // the crashed and missing ones written; artifact == one-shot
    val rewritten = scala.collection.mutable.ArrayBuffer.empty[Long]
    PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
      s"$dir/out", budget = 8L, seqsPerShard = 1, shardsPerRange = 1,
      onRangeWritten = r => { rewritten += r; () })
    assert(!rewritten.contains(0L), s"resume rewrote completed range 0: $rewritten")
    assert(rewritten.contains(1L), "resume must rewrite the crash-window range")
    assert(content(s"$dir/out") == ref,
      "resumed artifact differs from the one-shot write")
    // idempotent once complete: a third run writes nothing
    val again = scala.collection.mutable.ArrayBuffer.empty[Long]
    PackedShards.writeBatchResumable(spark, docs.toDF("doc_id", "text"),
      s"$dir/out", budget = 8L, seqsPerShard = 1, shardsPerRange = 1,
      onRangeWritten = r => { again += r; () })
    assert(again.isEmpty && content(s"$dir/out") == ref)
  }

  test("streaming: any slicing == batch, including the flushed tail") {
    val batchOut = graft.sources.Scratch.tempDir("graft_pack_b")
    PackedShards.writeBatch(spark, docs.toDF("doc_id", "text"),
      s"$batchOut/out", budget = Budget)
    val expected = readSeqs(s"$batchOut/out")

    for ((slicing, tag) <- Seq(
        Seq(docs) -> "one batch",
        Seq(docs.take(3), docs.slice(3, 6), docs.drop(6)) -> "three batches",
        docs.grouped(1).toSeq -> "one doc per batch")) {
      val dir = graft.sources.Scratch.tempDir("graft_pack_s")
      slicing.zipWithIndex.foreach { case (b, i) =>
        StreamingPackedShards.packBatch(spark, b.toDF("doc_id", "text"),
          i.toLong, s"$dir/store", s"$dir/out", budget = Budget)
      }
      StreamingPackedShards.flush(spark, s"$dir/store", s"$dir/out")
      assert(readSeqs(s"$dir/out") == expected, s"slicing: $tag")
    }
  }

  test("streaming: replaying a batch converges (same rows, same ledger)") {
    val dir = graft.sources.Scratch.tempDir("graft_pack_r")
    val batches = Seq(docs.take(3), docs.slice(3, 6), docs.drop(6))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingPackedShards.packBatch(spark, b.toDF("doc_id", "text"),
        i.toLong, s"$dir/store", s"$dir/out", budget = Budget)
    }
    StreamingPackedShards.flush(spark, s"$dir/store", s"$dir/out")
    val before = readSeqs(s"$dir/out")
    val ledgerBefore = spark.read.parquet(s"$dir/store")
      .select(col("__batch_id").cast("long"), col("next_seq"), col("tail"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
      .sortBy(_._1).toSeq
    // replay the MIDDLE batch (its predecessor row is already on disk):
    // the dynamic-overwrite discipline must rewrite identical content
    StreamingPackedShards.packBatch(spark, batches(1).toDF("doc_id", "text"),
      1L, s"$dir/store", s"$dir/out", budget = Budget)
    StreamingPackedShards.flush(spark, s"$dir/store", s"$dir/out")
    assert(readSeqs(s"$dir/out") == before)
    val ledgerAfter = spark.read.parquet(s"$dir/store")
      .select(col("__batch_id").cast("long"), col("next_seq"), col("tail"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
      .sortBy(_._1).toSeq
    assert(ledgerAfter == ledgerBefore)
  }
}
