package graft.multimodal

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("media table keeps payloads as binary with typed kind column") {
    val m = Multimodal.mediaTable(spark, sf0001)
    assert(m.schema("bytes").dataType.typeName == "binary")
    val kinds = m.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("batched decode produces one typed meta row per media row") {
    val m = Multimodal.mediaTable(spark, sf0001)
    val metas = Multimodal.decodeBatched(m, batchSize = 32)
    assert(metas.count() == m.count())
    val sample = metas.filter(_.kind == "video").head()
    assert(sample.frames.nonEmpty && sample.frames.size <= 4)
    assert(sample.width >= 16 && sample.duration_ms == sample.n_bytes * 40)
  }

  test("batched resize transforms binary payloads to the target budget") {
    val m = Multimodal.mediaTable(spark, sf0001)
    val resized = Multimodal.resizeBatched(m, w = 64, h = 32)
    assert(resized.count() == m.count())
    import org.apache.spark.sql.functions._
    val sizes = resized.select(octet_length(col("bytes"))).distinct().collect()
    assert(sizes.map(_.getInt(0)).toSeq == Seq(64 * 32 / 8))
  }

  test("decode is deterministic (stub contract for the oracle)") {
    val a = Multimodal.decodeStub(1L, "image", "hello".getBytes)
    val b = Multimodal.decodeStub(1L, "image", "hello".getBytes)
    assert(a == b && a.n_bytes == 5 && a.width == 21)
  }

  /** Deterministic test image: a w x h gradient-ish RGB pattern. */
  private def testImage(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 31 + y * 17 + seed * 101) & 0xffffff))
    img
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def crcOf(img: java.awt.image.BufferedImage): Long = {
    val crc = new java.util.zip.CRC32()
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val p = img.getRGB(x, y)
      crc.update(p >>> 24); crc.update((p >>> 16) & 0xff)
      crc.update((p >>> 8) & 0xff); crc.update(p & 0xff)
    }
    crc.getValue
  }

  test("ImageIO decoder: real PNG/JPEG bytes decode to true dims and pixel checksum") {
    import spark.implicits._
    val png = testImage(23, 11, seed = 1)
    val jpg = testImage(16, 9, seed = 2)
    val jpgBytes = encode(jpg, "jpg")
    // expected JPEG pixels = what the same codec decodes (JPEG is lossy,
    // so the reference checksum comes from a driver-side decode of the
    // same bytes); PNG is lossless, so its reference checksum comes
    // straight from the original image
    val jpgDecoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpgBytes))
    val rows = Seq(
      (1L, encode(png, "png")),
      (2L, jpgBytes),
      (3L, "not an image at all".getBytes("UTF-8"))) // must be skipped, not fail
    val metas = Multimodal.decodeImagesBatched(
        rows.toDF("media_id", "bytes"), batchSize = 2)
      .collect().map(m => m.media_id -> m).toMap
    assert(metas.keySet == Set(1L, 2L), "undecodable payload must be skipped")
    assert(metas(1L).width == 23 && metas(1L).height == 11)
    assert(metas(1L).pixel_crc == crcOf(png), "PNG round-trip is lossless")
    assert(metas(2L).width == 16 && metas(2L).height == 9)
    assert(metas(2L).pixel_crc == crcOf(jpgDecoded))
  }

  test("ImageIO decoder: per-batch init runs once per batch, not per row") {
    import spark.implicits._
    val bytes = encode(testImage(8, 8, seed = 3), "png")
    val df = (1L to 10L).map(i => (i, bytes)).toDF("media_id", "bytes")
      .repartition(1)
    val batches = spark.sparkContext.longAccumulator("batches")
    Multimodal.decodeImagesBatched(df, batchSize = 4,
      batchInit = () => batches.add(1)).count()
    // 10 rows / batchSize 4 in one partition = 3 batches — per-batch
    // amortization, the seam's contract (per-row init would read 10)
    assert(batches.value == 3L, s"expected 3 batch inits, got ${batches.value}")
  }

  /** Deterministic 16-bit little-endian PCM WAV; returns (container bytes,
    * raw PCM bytes) so the CRC contract is checkable against the source.
    */
  private def testWav(frames: Int, rate: Float, channels: Int,
      seed: Int): (Array[Byte], Array[Byte]) = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate, 16, channels, true, false)
    val data = new Array[Byte](frames * 2 * channels)
    var i = 0
    while (i < frames * channels) {
      val v = (math.sin(i * 0.1 + seed) * 1000).toInt.toShort
      data(i * 2) = (v & 0xff).toByte
      data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    (bos.toByteArray, data)
  }

  private def crcBytes(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32(); c.update(b); c.getValue
  }

  test("javax.sound decoder: real WAV parse — format fields, exact duration, PCM crc") {
    import spark.implicits._
    val (mono, monoPcm) = testWav(800, 8000f, 1, seed = 1)
    val (stereo, stereoPcm) = testWav(441, 44100f, 2, seed = 2)
    val rows = Seq(
      (1L, mono),
      (2L, stereo),
      (3L, "not audio at all".getBytes("UTF-8"))) // must be skipped
    val metas = Multimodal.decodeAudioBatched(
        rows.toDF("media_id", "bytes"), batchSize = 2)
      .collect().map(m => m.media_id -> m).toMap
    assert(metas.keySet == Set(1L, 2L), "undecodable payload must be skipped")
    assert(metas(1L).sample_rate == 8000 && metas(1L).channels == 1
      && metas(1L).bits == 16 && metas(1L).n_frames == 800L)
    assert(metas(1L).duration_ms == 100L) // 800 frames at 8 kHz
    assert(metas(1L).pcm_crc == crcBytes(monoPcm),
      "decoded PCM must round-trip the source samples")
    assert(metas(2L).sample_rate == 44100 && metas(2L).channels == 2
      && metas(2L).n_frames == 441L && metas(2L).duration_ms == 10L)
    assert(metas(2L).pcm_crc == crcBytes(stereoPcm))
  }

  test("javax.sound decoder: pcm_crc is encoding-independent (u-law transcodes to canonical PCM)") {
    import spark.implicits._
    import javax.sound.sampled._
    // 8-bit u-law content: hashing the STORED frames would fingerprint
    // the companded bytes; the decoder must transcode to canonical
    // signed-16-bit PCM first, so the crc equals an independent
    // transcode of the same stream
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val ulawData = Array.tabulate[Byte](800)(i => ((i * 7 + 13) % 256 - 128).toByte)
    def ulawStream = new AudioInputStream(
      new java.io.ByteArrayInputStream(ulawData), ulawFmt, 800L)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ulawStream, AudioFileFormat.Type.AU, bos)
    val au = bos.toByteArray
    val canon = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val ref = AudioSystem.getAudioInputStream(canon, ulawStream).readAllBytes()
    val meta = Multimodal.decodeAudioBatched(
        Seq((1L, au)).toDF("media_id", "bytes"))
      .collect().head
    assert(meta.bits == 16 && meta.sample_rate == 8000
      && meta.channels == 1 && meta.n_frames == 800L)
    assert(meta.pcm_crc == crcBytes(ref),
      "crc must hash the TRANSCODED PCM, not the stored u-law frames")
  }

  test("mediaContentDedup: re-encoded pixels and re-containered audio dedup on content") {
    import spark.implicits._
    import javax.sound.sampled._
    // same pixels, two lossless encodings -> one content key
    val imgA = testImage(12, 7, seed = 9)
    val png = encode(imgA, "png")
    val bmp = encode(imgA, "bmp")
    val otherPng = encode(testImage(12, 7, seed = 10), "png")
    // same audio content, two containers (WAV and AU) -> one content key
    val (wav, pcm) = testWav(400, 8000f, 1, seed = 4)
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 400L),
      AudioFileFormat.Type.AU, bos)
    val au = bos.toByteArray
    val rows = Seq(
      (1L, "image", png), (2L, "image", bmp), (3L, "image", otherPng),
      // recognized-but-corrupt: ImageIO THROWS here (vs returning null
      // for junk) — the decoder must skip it, not fail the job
      (4L, "image", png.take(30)),
      (10L, "audio", wav), (11L, "audio", au),
      (20L, "audio", "junk payload".getBytes("UTF-8"))) // dropped by decoder
    val out = Multimodal.mediaContentDedup(
        rows.toDF("media_id", "kind", "bytes"))
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set(1L -> 2L, 3L -> 1L, 10L -> 2L), s"got $out")
  }

  test("real image resize: target dims round-trip through a fresh decode, junk skipped") {
    import spark.implicits._
    val png = encode(testImage(40, 20, seed = 11), "png")
    val rows = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
    val out = Multimodal.resizeImagesBatched(
        rows.toDF("media_id", "bytes"), w = 10, h = 6)
      .collect().map(m => m.media_id -> m).toMap
    assert(out.keySet == Set(1L), "undecodable payload must be skipped")
    assert(out(1L).width == 10 && out(1L).height == 6)
    // the claim is REAL pixels, not a byte-budget stub: the output must
    // decode as an image of the target dims
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).bytes))
    assert(decoded != null && decoded.getWidth == 10 && decoded.getHeight == 6)
    // PNG re-encode of a deterministic scale is bit-stable within a JVM
    val again = Multimodal.resizeImagesBatched(
        rows.toDF("media_id", "bytes"), w = 10, h = 6)
      .collect().head.bytes
    assert(java.util.Arrays.equals(out(1L).bytes, again),
      "resize must be deterministic")
  }

  test("javax.sound decoder: per-batch init runs once per batch") {
    import spark.implicits._
    val (wav, _) = testWav(80, 8000f, 1, seed = 3)
    val df = (1L to 10L).map(i => (i, wav)).toDF("media_id", "bytes")
      .repartition(1)
    val batches = spark.sparkContext.longAccumulator("audio_batches")
    Multimodal.decodeAudioBatched(df, batchSize = 4,
      batchInit = () => batches.add(1)).count()
    assert(batches.value == 3L, s"expected 3 batch inits, got ${batches.value}")
  }

  /** Solid-color frame: few palette entries, so the GIF round-trip is
    * pixel-exact (no quantization) and the CRC contract is checkable
    * against the SOURCE frames, like the PNG test.
    */
  private def solidImage(w: Int, h: Int, rgb: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  /** Animated GIF from frames via the JDK's sequence writer. */
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

  test("GIF frame decoder: real 2-frame animated GIF decodes frame-by-frame") {
    import spark.implicits._
    val f0 = solidImage(9, 7, 0xcc2200)
    val f1 = solidImage(9, 7, 0x0033bb)
    val gif = animatedGif(Seq(f0, f1))
    val rows = Seq(
      (1L, gif),
      (2L, "definitely not a video container".getBytes("UTF-8"))) // no rows
    val frames = Multimodal.decodeFramesBatched(rows.toDF("media_id", "bytes"))
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(frames.map(_.media_id).toSet == Set(1L),
      "unrecognized payload must contribute no frame rows")
    assert(frames.length == 2, s"expected 2 decoded frames, got ${frames.length}")
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 1))
    assert(frames.forall(f => f.width == 9 && f.height == 7))
    // solid colors fit one palette entry each: round-trip is pixel-exact
    assert(frames(0).pixel_crc == crcOf(f0), "frame 0 pixels survive the GIF round-trip")
    assert(frames(1).pixel_crc == crcOf(f1), "frame 1 pixels survive the GIF round-trip")
    assert(frames(0).pixel_crc != frames(1).pixel_crc)
  }

  /** Frame with one dark quadrant (0=NW, 1=NE, 2=SW, 3=SE) — crisp
    * bright/dark structure, so the 8x8 aHash survives rescale and GIF
    * palette quantization bit-for-bit-ish, and each quadrant position
    * gives a clearly distinct hash (the clip tests need ordered,
    * distinguishable frames).
    */
  private def quadrantImage(w: Int, h: Int, quadrant: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val inDark = (quadrant match {
        case 0 => x < w / 2 && y < h / 2
        case 1 => x >= w / 2 && y < h / 2
        case 2 => x < w / 2 && y >= h / 2
        case _ => x >= w / 2 && y >= h / 2
      })
      img.setRGB(x, y, if (inDark) 0x101010 else 0xf0f0f0)
    }
    img
  }

  test("clip near-dup: rescaled clip collapses; reordered and different clips survive") {
    import spark.implicits._
    val frames = Seq(0, 1, 2, 3).map(q => quadrantImage(64, 48, q))
    val clipA = animatedGif(frames)
    val rescaledA = animatedGif(frames.map(f => rescale(f, 50, 38)))
    val reorderedA = animatedGif(frames.reverse) // same frames, reversed time
    val clipB = animatedGif(Seq(3, 1, 0, 2).map(q => quadrantImage(64, 48, q))
      .map(f => rescale(f, 64, 48))) // different material (different order + phase)
    val media = Seq(
      (1L, "video", clipA),
      (2L, "video", rescaledA),
      (3L, "video", reorderedA),
      (10L, "video", clipB),
      (50L, "audio", Array[Byte](1, 2, 3))) // other kind: ignored
      .toDF("media_id", "kind", "bytes")
    val pairs = Multimodal.clipNearDupPerceptual(media)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      s"rescaled clip must collapse with its original, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"frame-REORDERED clip must NOT match (order-awareness), got $pairs")
    assert(!pairs.exists(p => p._1 == 10L || p._2 == 10L),
      s"different-material clip must survive, got $pairs")
    // degenerate single-frame clip == its image aHash (the k=1 window map)
    val one = animatedGif(Seq(quadrantImage(64, 48, 0)))
    val ch = Multimodal.perceptualHashVideoBatched(
      Seq((7L, "video", one)).toDF("media_id", "kind", "bytes"))
      .collect().head
    val ih = Multimodal.perceptualHashImagesBatched(
      Seq((7L, "image", one)).toDF("media_id", "kind", "bytes"))
      .collect().head
    assert(ch.n_frames == 1 && ch.chash == ih.ahash,
      "single-frame clip hash must equal the image aHash")
  }

  test("GIF frame decoder: per-batch init runs once per batch") {
    import spark.implicits._
    val gif = animatedGif(Seq(solidImage(4, 4, 0x112233)))
    val df = (1L to 10L).map(i => (i, gif)).toDF("media_id", "bytes")
      .repartition(1)
    val batches = spark.sparkContext.longAccumulator("frame_batches")
    Multimodal.decodeFramesBatched(df, batchSize = 4,
      batchInit = () => batches.add(1)).count()
    assert(batches.value == 3L, s"expected 3 batch inits, got ${batches.value}")
  }

  test("real-codec seams: one batchInit per batch, a junk row skipped") {
    import spark.implicits._
    val png = encode(testImage(8, 8, seed = 3), "png")
    val (wav, _) = testWav(80, 8000f, 1, seed = 3)
    val gif = animatedGif(Seq(solidImage(4, 4, 0x112233)))
    type Seam = (DataFrame, Int, () => Unit) => DataFrame
    val seams: Seq[(String, Array[Byte], Seam)] = Seq(
      ("decodeImagesBatched", png,
        (df, n, init) => Multimodal.decodeImagesBatched(df, n, init).toDF()),
      ("resizeImagesBatched", png,
        (df, n, init) => Multimodal.resizeImagesBatched(df, 4, 4, n, init).toDF()),
      ("perceptualHashImagesBatched", png,
        (df, n, init) => Multimodal.perceptualHashImagesBatched(df, n, init).toDF()),
      ("decodeAudioBatched", wav,
        (df, n, init) => Multimodal.decodeAudioBatched(df, n, init).toDF()),
      ("perceptualHashAudioBatched", wav,
        (df, n, init) => Multimodal.perceptualHashAudioBatched(df, n, init).toDF()),
      ("decodeFramesBatched", gif,
        (df, n, init) => Multimodal.decodeFramesBatched(df, n, init).toDF()),
      ("perceptualHashVideoBatched", gif,
        (df, n, init) => Multimodal.perceptualHashVideoBatched(df, n, init).toDF()))
    for ((name, payload, seam) <- seams) {
      val df = (1L to 10L)
        .map(i => (i, if (i == 5L) "junk payload".getBytes("UTF-8") else payload))
        .toDF("media_id", "bytes").repartition(1)
      val batches = spark.sparkContext.longAccumulator(s"${name}_batches")
      val ids = seam(df, 4, () => batches.add(1))
        .select("media_id").as[Long].collect().toSet
      // 10 rows / batchSize 4 in one partition = 3 batches — per-batch
      // amortization, the seam's contract (per-row init would read 10)
      assert(batches.value == 3L, s"$name: expected 3 batch inits, got ${batches.value}")
      assert(ids == (1L to 10L).toSet - 5L, s"$name: junk row skipped, others kept; got $ids")
    }
  }

  test("truncated GIF: a cut inside the third frame keeps frames 0, 1") {
    import spark.implicits._
    val frames = Seq(0xcc2200, 0x0033bb, 0x22aa44).map(solidImage(9, 7, _))
    val two = animatedGif(frames.take(2))
    val three = animatedGif(frames)
    // the sequence writer streams frame by frame: the 3-frame file is the
    // 2-frame file up to its trailer byte, then frame 2 and a new trailer
    val frame2At = two.length - 1
    assert(three.take(frame2At).sameElements(two.take(frame2At)))
    val cut = three.take(frame2At + (three.length - 1 - frame2At) / 2)
    val df = Seq((1L, cut)).toDF("media_id", "bytes")
    val decoded = Multimodal.decodeFramesBatched(df).collect().sortBy(_.frame_idx)
    assert(decoded.map(_.frame_idx).toSeq == Seq(0, 1), "decoded prefix: frames 0 and 1")
    assert(decoded(0).pixel_crc == crcOf(frames(0)) && decoded(1).pixel_crc == crcOf(frames(1)))
    val clip = Multimodal.perceptualHashVideoBatched(df).collect()
    assert(clip.map(_.n_frames).toSeq == Seq(2), "the clip hash covers the decoded prefix")
  }

  /** Rescale via the same bilinear path production uses. */
  private def rescale(img: java.awt.image.BufferedImage, w: Int, h: Int) = {
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  private def checkerboard(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if ((x / 4 + y / 4) % 2 == 0) 0xffffff else 0x000000)
    img
  }

  test("perceptual hashes: re-encode identical, mild rescale near, different image far") {
    import spark.implicits._
    val imgA = testImage(64, 48, seed = 21)
    val rows = Seq(
      (1L, encode(imgA, "png")),
      (2L, encode(imgA, "bmp")),                     // same pixels, new container
      (3L, encode(rescale(imgA, 60, 45), "png")),    // mild rescale
      (4L, encode(checkerboard(64, 48), "png")),     // structurally different
      (5L, encode(imgA, "png").take(30)))            // corrupt: skipped (R2)
    val hs = Multimodal.perceptualHashImagesBatched(
        rows.toDF("media_id", "bytes"))
      .collect().map(h => h.media_id -> h).toMap
    assert(hs.keySet == Set(1L, 2L, 3L, 4L), s"got ${hs.keySet}")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // byte-different container, identical pixels -> identical hashes
    assert(ham(hs(1L).ahash, hs(2L).ahash) == 0)
    assert(ham(hs(1L).dhash, hs(2L).dhash) == 0)
    // mild rescale: both hashes stay within the near-dup radius
    assert(ham(hs(1L).ahash, hs(3L).ahash) <= 7,
      s"rescale ahash hamming ${ham(hs(1L).ahash, hs(3L).ahash)}")
    assert(ham(hs(1L).dhash, hs(3L).dhash) <= 7,
      s"rescale dhash hamming ${ham(hs(1L).dhash, hs(3L).dhash)}")
    // a structurally different image stays far outside it
    assert(ham(hs(1L).ahash, hs(4L).ahash) > 7,
      s"different-image ahash hamming ${ham(hs(1L).ahash, hs(4L).ahash)}")
  }

  test("q_media_neardup: no payload column ever crosses an exchange") {
    // the scale claim as a structural assertion: every shuffle in the
    // near-dup plan carries only ids/hash keys — never text or bytes.
    // AQE off for this one plan so ShuffleExchangeExec nodes are
    // collectible from the static executedPlan.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = Multimodal.queries.find(_.name == "q_media_neardup").get
        .fn(spark, sf0001)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected at least one shuffle in the banded join")
      exchanges.foreach { e =>
        val payload = e.child.schema.fields.filter(f =>
          f.dataType == org.apache.spark.sql.types.BinaryType ||
            f.dataType == org.apache.spark.sql.types.StringType)
        assert(payload.isEmpty,
          s"payload-typed columns ${payload.map(_.name).toSeq} would shuffle in:\n$e")
      }
    } finally spark.conf.set(key, prev)
  }

  test("mediaNearDupPerceptual collapses re-encodes and rescales, not different images") {
    import spark.implicits._
    val imgA = testImage(64, 48, seed = 33)
    val rows = Seq(
      (1L, "image", encode(imgA, "png")),
      (2L, "image", encode(imgA, "bmp")),
      (3L, "image", encode(rescale(imgA, 58, 44), "png")),
      (4L, "image", encode(checkerboard(64, 48), "png")),
      (9L, "audio", "not an image".getBytes("UTF-8"))) // filtered by kind
    val pairs = Multimodal.mediaNearDupPerceptual(
        rows.toDF("media_id", "kind", "bytes"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set(1L -> 2L, 1L -> 3L, 2L -> 3L), s"got $pairs")
  }
}
