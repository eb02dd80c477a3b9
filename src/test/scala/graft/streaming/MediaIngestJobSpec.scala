package graft.streaming

import org.apache.spark.sql.functions._
import javax.sound.sampled._
import graft.SparkSpec

/** The composed media ingest job end-to-end: one mixed-modality stream
  * through exact-byte → image/audio/clip perceptual → frame dedup, with
  * each planted duplicate caught by exactly the stage built for it,
  * payloads written once, and replays converging.
  */
class MediaIngestJobSpec extends SparkSpec {
  import spark.implicits._

  private def img(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y, ((x * 31 + y * 17 + seed * 101) & 0xffffff))
    im
  }

  private def quadrantImage(w: Int, h: Int, quadrant: Int) = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val dark = quadrant match {
        case 0 => x < w / 2 && y < h / 2
        case 1 => x >= w / 2 && y < h / 2
        case 2 => x < w / 2 && y >= h / 2
        case _ => x >= w / 2 && y >= h / 2
      }
      im.setRGB(x, y, if (dark) 0x101010 else 0xf0f0f0)
    }
    im
  }

  private def rescaled(src: java.awt.image.BufferedImage, w: Int, h: Int) = {
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  private def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, fmt, bos)
    bos.toByteArray
  }

  private def animatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f => writer.writeToSequence(
        new javax.imageio.IIOImage(f, null, null), writer.getDefaultWriteParam))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  private def envWav(frames: Int, rate: Float, amp: Double): Array[Byte] = {
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val data = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val w = (i.toLong * 64 / frames).toInt
      val a = if (((w >> 1) & 1) == 0) amp else amp / 20.0
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

  test("each planted dup dies at its stage; payloads written once; replay converges") {
    val clipFrames = Seq(0, 1, 2, 3).map(q => quadrantImage(64, 48, q))
    val wavA = envWav(8000, 8000f, 12000)
    val batch0 = Seq(
      (1L, "audio", wavA),
      (3L, "image", enc(img(64, 48, seed = 5), "png")),
      (5L, "video", animatedGif(clipFrames)),
      (7L, "video", "not a container".getBytes("UTF-8"))) // undecodable: R2 drop
    val batch1 = Seq(
      (2L, "audio", wavA),                                   // exact-byte dup
      (9L, "audio", reContainerAu(wavA)),                    // audio perceptual dup
      (4L, "image", enc(img(64, 48, seed = 5), "bmp")),      // image perceptual dup
      (6L, "video", animatedGif(clipFrames.map(f =>
        rescaled(f, 50, 38)))),                              // clip perceptual dup
      (8L, "video", animatedGif(Seq(3, 1, 0, 2).map(q =>
        quadrantImage(64, 48, q)))),                         // different material
      (10L, "image", enc(img(64, 48, seed = 9), "png")))     // fresh
    val dir = graft.sources.Scratch.tempDir("graft_mediaingest")
    MediaIngestJob.ingestBatch(spark,
      batch0.toDF("media_id", "kind", "bytes"), 0L, dir)
    MediaIngestJob.ingestBatch(spark,
      batch1.toDF("media_id", "kind", "bytes"), 1L, dir)

    // 7 (undecodable) drops at the clip gate per the family's R2-drop
    // discipline; 2/9/4/6 die at their stages; 8 is different material
    val admitted = spark.read.parquet(s"$dir/out")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L, 8L, 10L), s"got $admitted")

    // frame artifact holds exactly the ADMITTED clips' quarter
    // fingerprints: videos 5 and 8 contribute, the dropped re-encode (6)
    // and the undecodable payload (7) contribute nothing (the
    // cross-video collision semantics are pinned standalone in
    // StreamingFrameDedupSpec)
    val frames = spark.read.parquet(s"$dir/frames")
      .select("fkey").collect().map(_.getLong(0)).toSet
    assert(frames.map(_ / 4) == Set(5L, 8L), s"frame owners: $frames")

    // every store is fingerprint-only: no payload bytes persist anywhere
    for (store <- Seq("store_exact", "store_image", "store_audio",
        "store_clip", "store_frames")) {
      val types = spark.read.parquet(s"$dir/$store").schema.fields
        .map(_.dataType.typeName).toSet
      assert(!types.contains("binary"), s"$store leaked payload bytes")
    }

    // crash-replay: batch 1's out partitions vanish after the stores were
    // written; the replay must restore them identically
    def delRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delRec)); f.delete(); ()
    }
    val before = spark.read.parquet(s"$dir/out")
      .select("media_id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    new java.io.File(s"$dir/out").listFiles().foreach { kindDir =>
      val p = new java.io.File(kindDir, "__batch_id=1")
      if (p.exists()) delRec(p)
    }
    MediaIngestJob.ingestBatch(spark,
      batch1.toDF("media_id", "kind", "bytes"), 1L, dir)
    val after = spark.read.parquet(s"$dir/out")
      .select("media_id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before, s"replay lost media: ${before.diff(after)}")
  }
}
