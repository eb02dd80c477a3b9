package graft.streaming

import org.apache.spark.sql.functions._
import javax.sound.sampled._
import graft.SparkSpec

/** The audio ingest gate end-to-end, pinned AGAINST THE BATCH OPERATOR:
  * the set of media the stream drops must equal the match set of
  * multimodal.Multimodal.audioNearDupPerceptual on the same corpus
  * (greedy earlier-id resolution), across micro-batch slicings — the
  * audio parity the image form already has. Re-containered, re-mastered
  * and 2:1-resampled copies of an ingested clip drop; different material
  * and non-audio kinds are admitted untouched.
  */
class StreamingAudioDedupSpec extends SparkSpec {
  import spark.implicits._

  // AudioPerceptualSpec's deterministic generators (64-block amplitude
  // envelope over a sin carrier)
  private def envWav(frames: Int, rate: Float, amp: Double,
      loudAt: Int => Boolean): Array[Byte] = {
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val data = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val w = (i.toLong * 64 / frames).toInt
      val a = if (loudAt(w)) amp else amp / 20.0
      val v = (math.sin(i * 0.3) * a).toInt.toShort
      data(i * 2) = (v & 0xff).toByte
      data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def reContainerAu(wav: Array[Byte]): Array[Byte] = {
    val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.AU, bos)
    bos.toByteArray
  }

  private def decimate2(frames: Int, rate: Float, amp: Double,
      loudAt: Int => Boolean): Array[Byte] = {
    val fmt = new AudioFormat(rate / 2, 16, 1, true, false)
    val half = frames / 2
    val data = new Array[Byte](half * 2)
    var j = 0
    while (j < half) {
      val i = j * 2
      val w = (i.toLong * 64 / frames).toInt
      val a = if (loudAt(w)) amp else amp / 20.0
      val v = (math.sin(i * 0.3) * a).toInt.toShort
      data(j * 2) = (v & 0xff).toByte
      data(j * 2 + 1) = ((v >> 8) & 0xff).toByte
      j += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, half.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private val patternA: Int => Boolean = w => ((w >> 1) & 1) == 0
  private val patternB: Int => Boolean = w => (((w + 2) >> 1) & 1) == 0

  test("stream drop set == batch audioNearDupPerceptual match set, across slicings") {
    val base = envWav(6400, 8000f, 2000.0, patternA)
    val corpus: Seq[(Long, String, Array[Byte])] = Seq(
      (1L, "audio", base),
      (2L, "audio", reContainerAu(base)),            // re-container
      (3L, "audio", envWav(6400, 8000f, 600.0, patternA)), // -10 dB
      (4L, "audio", envWav(6400, 8000f, 2000.0, patternB)), // different material
      (5L, "audio", decimate2(6400, 8000f, 2000.0, patternA)), // 2:1 resample
      (9L, "image", Array[Byte](1, 2, 3)))           // passthrough kind

    // THE BATCH SET: audioNearDupPerceptual pairs on the full corpus,
    // resolved greedily in id order (earlier-ingested wins) — what the
    // stream must reproduce under id-ordered arrival
    val pairs = graft.multimodal.Multimodal
      .audioNearDupPerceptual(corpus.toDF("media_id", "kind", "bytes"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((1L, 5L)), s"fixture lost its planted matches: $pairs")
    val audioIds = corpus.filter(_._2 == "audio").map(_._1).sorted
    val expectedAdmitted = audioIds.foldLeft(Set.empty[Long]) { (adm, id) =>
      if (pairs.exists { case (a, b) => b == id && adm.contains(a) }) adm
      else adm + id
    }
    assert(expectedAdmitted == Set(1L, 4L), s"fixture ambiguity: $expectedAdmitted")

    for ((slicing, tag) <- Seq(
        Seq(corpus) -> "one batch",
        Seq(corpus.take(2), corpus.slice(2, 4), corpus.drop(4)) -> "three batches",
        corpus.grouped(1).toSeq -> "one item per batch")) {
      val dir = graft.sources.Scratch.tempDir("graft_audiodedup")
      slicing.zipWithIndex.foreach { case (b, i) =>
        StreamingAudioDedup.dedupBatch(spark, b.toDF("media_id", "kind", "bytes"),
          i.toLong, s"$dir/store", s"$dir/out", maxHamming = 7)
      }
      val kept = spark.read.parquet(s"$dir/out")
        .select("media_id", "kind").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val keptAudio = kept.collect { case (id, "audio") => id }
      assert(keptAudio == expectedAdmitted, s"slicing $tag: $keptAudio")
      assert(kept.contains((9L, "image")), s"slicing $tag lost the passthrough kind")
      // store carries only numeric fingerprint rows — never payloads
      val storeTypes = spark.read.parquet(s"$dir/store").schema.fields
        .map(_.dataType.typeName).toSet
      assert(!storeTypes.contains("binary") && !storeTypes.contains("string"))
    }
  }
}
