package graft.multimodal

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import java.util.zip.CRC32
import javax.imageio.ImageIO
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata (builder brief "multimodal columns").
  *
  * Every `*Batched` function runs through ONE private seam, `batched`: a
  * partition's rows go to the codec in groups of `batchSize`; per group
  * `batchInit` runs once (the observable codec-init amortization —
  * MultimodalSpec counts it) and so does the caller's per-batch set-up
  * (a reused CRC32 or PCM buffer), the JVM shape of a vectorized
  * mapInPandas. A payload the codec cannot decode yields no row: the R2
  * skip-and-continue contract (the reference skips malformed records
  * rather than failing the batch —
  * src/lambda_processor/processor_stock_quotes.py:56-62). Each codec step
  * is written once beside the seam:
  *  - `readImage`: `javax.imageio` single-image decode (PNG/JPEG/BMP/GIF);
  *  - `foreachFrame`: the multi-frame container reader (animated GIF),
  *    frames handed over one at a time, a truncated tail keeping its
  *    decoded prefix;
  *  - `readPcm`: `javax.sound.sampled` open + transcode to canonical
  *    signed-16-bit little-endian PCM, read in frame-aligned chunks;
  *  - `pixelCrc`, `aHash`, `scaleBilinear`: the ARGB pixel CRC, the 8x8
  *    mean hash and the bilinear `Graphics2D` scale.
  * `decodeBatched`, `resizeBatched` and `frameSampleBatched` run clearly
  * marked deterministic stubs over the synthetic media table through the
  * same seam. Spark-side, bytes never shuffle: media rows hash-partition
  * by id, and only fingerprints reach a groupBy or join
  * (`mediaContentDedup`, the perceptual near-dup passes).
  */
object Multimodal {

  /** The batched codec seam: `media` projected to `cols`, each partition
    * cut into groups of `batchSize` rows; per group `batchInit` runs,
    * then `perBatch` once, and the row function it returns maps each row
    * of the group to its outputs (none for an undecodable payload).
    */
  private def batched[T <: Product : scala.reflect.runtime.universe.TypeTag](
      media: DataFrame, batchSize: Int, batchInit: () => Unit, cols: String*)(
      perBatch: () => Row => IterableOnce[T]): Dataset[T] =
    media.select(cols.head, cols.tail: _*).mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batchInit()
        batch.iterator.flatMap(perBatch())
      }
    }(Encoders.product[T])

  private val noInit: () => Unit = () => ()

  /** `javax.imageio` decode of one payload. ImageIO.read returns null for
    * an UNRECOGNIZED format but THROWS for a recognized-but-corrupt one
    * (truncated PNG) — both are the same bad record, None. NonFatal, not
    * IOException: JDK readers surface corrupt data as RuntimeExceptions
    * too (AIOOBE, NegativeArraySizeException).
    */
  private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case NonFatal(_) => None }

  /** Hands each decoded frame of a multi-frame container to `frame`
    * (index, image), one at a time, so a clip's frames are never all
    * held. Bad-record granularity is the FRAME: an unreadable frame
    * COUNT (getNumImages scans the whole stream, so a truncated container
    * can fail there) falls back to reading until the first failure, and
    * a truncated tail keeps its decoded prefix; an unrecognized format
    * hands over nothing.
    */
  private def foreachFrame(bytes: Array[Byte])(frame: (Int, BufferedImage) => Unit): Unit = {
    // createImageInputStream returns NULL (not an exception) when no
    // stream SPI accepts the input — treat as undecodable
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    if (iis != null) try {
      val readers = ImageIO.getImageReaders(iis)
      if (readers.hasNext) {
        val reader = readers.next()
        try {
          // seekForwardOnly = false: frame-indexed random access
          reader.setInput(iis, false, true)
          val n =
            try reader.getNumImages(true)
            catch { case NonFatal(_) => Int.MaxValue }
          var i = 0
          var ok = true
          while (i < n && ok) {
            val img =
              try reader.read(i)
              catch { case NonFatal(_) => null }
            if (img == null) ok = false // truncated tail: keep prefix
            else frame(i, img)
            i += 1
          }
        } finally reader.dispose()
      }
    } catch { case NonFatal(_) => () } // skip the rest of the row (R2)
    finally iis.close()
  }

  /** Opens `bytes` as an audio container and streams it, transcoded to
    * canonical signed-16-bit little-endian PCM, to `chunk(buf, n)`.
    * Hashing the STORED frames would fingerprint the encoding, not the
    * audio (u-law vs PCM of the same content would differ), so the
    * transcode makes every PCM fingerprint container- AND
    * encoding-independent. Returns (rate, channels, frames) — frames from
    * the header, or from the decoded byte count when the container says
    * NOT_SPECIFIED (-1) — or None for an undecodable payload, a
    * malformed header or a missing converter.
    */
  private def readPcm(bytes: Array[Byte], buf: Array[Byte])(
      chunk: (Array[Byte], Int) => Unit): Option[(Int, Int, Long)] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val raw = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val src = raw.getFormat
        val rate = math.round(src.getSampleRate).toInt
        val ch = src.getChannels
        if (rate <= 0 || ch <= 0) None // malformed header
        else {
          val canon = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, ch, 2 * ch, src.getSampleRate, false)
          val ais =
            if (src.matches(canon)) raw
            else AudioSystem.getAudioInputStream(canon, raw)
          // AudioInputStream.read returns 0 (not -1) when the request is
          // smaller than ONE canonical frame (2*channels bytes), so an
          // extreme channel count gets a frame-aligned buffer of its own;
          // a request of at least one frame never returns 0, so the loop
          // ends only at true end-of-stream
          val b = if (2 * ch <= buf.length) buf else new Array[Byte](2 * ch * 4)
          var pcmBytes = 0L
          var n = ais.read(b)
          while (n > 0) { chunk(b, n); pcmBytes += n; n = ais.read(b) }
          val frames =
            if (ais.getFrameLength >= 0L) ais.getFrameLength
            else pcmBytes / (2L * ch)
          Some((rate, ch, frames))
        }
      } finally raw.close()
    } catch { case NonFatal(_) => None }

  /** CRC32 over the row-major ARGB bytes of `img`'s decoded pixels. */
  private def pixelCrc(crc: CRC32, img: BufferedImage): Long = {
    crc.reset()
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        crc.update(p >>> 24)
        crc.update((p >>> 16) & 0xff)
        crc.update((p >>> 8) & 0xff)
        crc.update(p & 0xff)
        x += 1
      }
      y += 1
    }
    crc.getValue
  }

  /** `img` scaled to w x h with bilinear interpolation (java.awt). */
  private def scaleBilinear(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  /** Row-major luma grid of `img` downscaled to w x h with bilinear
    * interpolation: gray = (299R + 587G + 114B) / 1000, integer.
    */
  private def grayGrid(img: BufferedImage, w: Int, h: Int): Array[Int] = {
    val small = scaleBilinear(img, w, h)
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = small.getRGB(x, y)
        out(y * w + x) =
          (299 * ((p >>> 16) & 0xff) + 587 * ((p >>> 8) & 0xff) + 114 * (p & 0xff)) / 1000
        x += 1
      }
      y += 1
    }
    out
  }

  /** Average hash: 8x8 luma grid, bit i set iff gray_i > mean — compared
    * as 64*gray_i > sum so the decision is integer-exact.
    */
  private def aHash(img: BufferedImage): Long = {
    val g8 = grayGrid(img, 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += g8(i); i += 1 }
    var ahash = 0L
    i = 0
    while (i < 64) {
      if (64L * g8(i) > sum) ahash |= (1L << i)
      i += 1
    }
    ahash
  }

  /** Typed metadata produced by "decoding" a media payload. */
  final case class MediaMeta(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,        // image/video: fake-decoded dims
      height: Int,
      duration_ms: Long, // audio/video
      frames: Seq[Long]) // video: sampled frame offsets

  /** STUB DECODER — deterministic fake. A real deployment swaps this one
    * function for a codec call (e.g. JavaCV/ffmpeg); the batch signature
    * is the contract: one call per partition-batch, so codec init is
    * amortized exactly like a pandas-UDF batch.
    */
  def decodeStub(mediaId: Long, kind: String, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length.toLong
    val w = (n % 640L).toInt + 16
    val h = (n % 480L).toInt + 16
    val dur = n * 40L
    val frames = if (kind == "video") 0L.until(dur, dur / 4 max 1).take(4) else Seq.empty[Long]
    MediaMeta(mediaId, kind, n, w, h, dur, frames)
  }

  /** media table synthesized from `documents` (no media files ship with the
    * testdata): payload = UTF-8 bytes, kind cycles image/audio/video.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        element_at(lit(Array("image", "audio", "video")), (col("doc_id") % 3 + 1).cast(IntegerType))
          .as("kind"),
        col("text").cast(BinaryType).as("bytes"))

  /** Batched decode of the synthetic media table through the stub. */
  def decodeBatched(media: DataFrame, batchSize: Int = 64): Dataset[MediaMeta] =
    batched[MediaMeta](media, batchSize, noInit, "media_id", "kind", "bytes") { () =>
      r => Some(decodeStub(r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
    }

  /** Typed metadata from a REAL image decode (see decodeImagesBatched). */
  final case class ImageMeta(
      media_id: Long,
      width: Int,
      height: Int,
      n_bytes: Long,
      pixel_crc: Long) // CRC32 over row-major ARGB bytes of the DECODED pixels

  /** REAL image decode (`readImage`: PNG/JPEG/BMP/GIF). `pixel_crc`
    * fingerprints the DECODED pixels rather than the container bytes —
    * the content hash a media-dedup pass wants, since the same pixels
    * re-encoded (different compression level, stripped metadata) yield
    * different container bytes but the same pixel CRC.
    */
  def decodeImagesBatched(media: DataFrame, batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[ImageMeta] =
    batched[ImageMeta](media, batchSize, batchInit, "media_id", "bytes") { () =>
      val crc = new CRC32()
      r => {
        val bytes = r.getAs[Array[Byte]](1)
        readImage(bytes).map(img => ImageMeta(r.getLong(0), img.getWidth,
          img.getHeight, bytes.length.toLong, pixelCrc(crc, img)))
      }
    }

  /** Typed metadata from a REAL audio decode (see decodeAudioBatched). */
  final case class AudioMeta(
      media_id: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Long,
      duration_ms: Long,
      pcm_crc: Long) // CRC32 over the DECODED PCM byte stream

  /** REAL audio decode (`readPcm`: pure-Java WAV/AIFF/AU parsing, no
    * native codecs). `pcm_crc` fingerprints the canonical PCM, not the
    * container bytes — the "content hash survives re-encoding" property
    * the image pixel_crc gives media dedup. duration_ms is integer-exact
    * (frames * 1000 / rate in long arithmetic).
    */
  def decodeAudioBatched(media: DataFrame, batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[AudioMeta] =
    batched[AudioMeta](media, batchSize, batchInit, "media_id", "bytes") { () =>
      val crc = new CRC32()
      val buf = new Array[Byte](8192)
      r => {
        crc.reset()
        readPcm(r.getAs[Array[Byte]](1), buf)((b, n) => crc.update(b, 0, n))
          .map { case (rate, ch, frames) =>
            AudioMeta(r.getLong(0), rate, ch, 16, frames, frames * 1000L / rate, crc.getValue)
          }
      }
    }

  /** Typed metadata of ONE decoded frame of a multi-frame container
    * (see decodeFramesBatched).
    */
  final case class FrameMeta(
      media_id: Long,
      frame_idx: Int,
      width: Int,
      height: Int,
      pixel_crc: Long)

  /** REAL multi-frame decode (`foreachFrame`: the JDK's ImageIO GIF
    * reader decodes ANIMATED GIFs frame by frame) — one media row
    * explodes to N frame rows of (idx, dims, pixel CRC). The CRC is over
    * each frame's STORED raster (GIF frames may be partial rectangles
    * under the disposal model — this is the per-frame content
    * fingerprint, not a composited playback surface). A container
    * truncated mid-stream keeps its decoded prefix frames.
    */
  def decodeFramesBatched(media: DataFrame, batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[FrameMeta] =
    batched[FrameMeta](media, batchSize, batchInit, "media_id", "bytes") { () =>
      val crc = new CRC32()
      r => {
        val out = scala.collection.mutable.ArrayBuffer.empty[FrameMeta]
        foreachFrame(r.getAs[Array[Byte]](1)) { (i, img) =>
          out += FrameMeta(r.getLong(0), i, img.getWidth, img.getHeight, pixelCrc(crc, img))
        }
        out
      }
    }

  /** CONTENT-level media dedup — what the real decoders exist for:
    * `q_media_dedup` catches byte-identical payloads, but the same
    * pixels re-encoded (PNG vs BMP, compression level, stripped
    * metadata) or the same audio re-containered (WAV vs AU, u-law vs
    * PCM) produce different bytes and identical DECODED content. This
    * keys images by (dims, pixel_crc) and audio by (rate, channels,
    * frames, pcm_crc) — both CRCs computed over canonical decoded
    * form — and keeps the lowest media_id per content key. Undecodable
    * rows are dropped by the decoders (R2 contract). One shuffle on the
    * small content-key relation; payload bytes never shuffle.
    */
  def mediaContentDedup(media: DataFrame): DataFrame = {
    val img = decodeImagesBatched(media.filter(col("kind") === "image"))
      .toDF().select(col("media_id"),
        concat_ws(":", lit("img"), col("width"), col("height"),
          col("pixel_crc")).as("content_key"))
    val aud = decodeAudioBatched(media.filter(col("kind") === "audio"))
      .toDF().select(col("media_id"),
        concat_ws(":", lit("aud"), col("sample_rate"), col("channels"),
          col("n_frames"), col("pcm_crc")).as("content_key"))
    img.unionByName(aud)
      .groupBy(col("content_key"))
      .agg(min(col("media_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))
  }

  /** Output row of a REAL image resize (see resizeImagesBatched). */
  final case class ResizedImage(
      media_id: Long,
      bytes: Array[Byte], // PNG-encoded resized pixels
      width: Int,
      height: Int)

  /** REAL resize — decode (`readImage`), scale (`scaleBilinear`),
    * re-encode (PNG: lossless, so the output round-trips bit-stable
    * within a JVM — spec-pinned); `resizeStub` remains for the synthetic
    * non-image media table.
    */
  def resizeImagesBatched(media: DataFrame, w: Int, h: Int,
      batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[ResizedImage] = {
    require(w > 0 && h > 0, s"target dims must be positive, got ${w}x$h")
    batched[ResizedImage](media, batchSize, batchInit, "media_id", "bytes") { () =>
      r => readImage(r.getAs[Array[Byte]](1)).map { img =>
        val bos = new java.io.ByteArrayOutputStream()
        ImageIO.write(scaleBilinear(img, w, h), "png", bos)
        ResizedImage(r.getLong(0), bos.toByteArray, w, h)
      }
    }
  }

  /** STUB RESIZE — deterministic fake: a real implementation decodes,
    * scales, re-encodes; the stub truncates/pads to the target byte budget
    * (w*h/8) so downstream size accounting is exercised for real. Batched
    * like decodeStub.
    */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val target = math.max(1, w * h / 8)
    if (bytes.length >= target) bytes.take(target)
    else bytes ++ Array.fill(target - bytes.length)(0.toByte)
  }

  /** Batched resize over the media table: binary in, binary out, metadata
    * columns carried — the transform-shaped plumbing (vs decodeBatched's
    * extract shape).
    */
  def resizeBatched(media: DataFrame, w: Int, h: Int, batchSize: Int = 64): DataFrame =
    batched[(Long, String, Array[Byte])](media, batchSize, noInit,
        "media_id", "kind", "bytes") { () =>
      r => Some((r.getLong(0), r.getString(1), resizeStub(r.getAs[Array[Byte]](2), w, h)))
    }.toDF("media_id", "kind", "bytes")

  /** Batched frame sampling over video rows — the explode-shaped plumbing
    * (one media row -> N frame rows). Frame timestamps come from the stub
    * decode's sampling schedule; the "frame" payload is a deterministic
    * byte slice standing in for a decoded frame (`decodeFramesBatched`
    * is the real demuxer read).
    */
  def frameSampleBatched(media: DataFrame, batchSize: Int = 64): DataFrame =
    batched[(Long, Long, Long, Array[Byte])](media.filter(col("kind") === "video"),
        batchSize, noInit, "media_id", "bytes") { () =>
      r => {
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val meta = decodeStub(id, "video", bytes)
        meta.frames.zipWithIndex.map { case (ts, i) =>
          val slice = bytes.slice(
            (i * bytes.length / math.max(1, meta.frames.size)),
            ((i + 1) * bytes.length / math.max(1, meta.frames.size)))
          (id, i.toLong, ts, slice)
        }
      }
    }.toDF("media_id", "frame_idx", "frame_ts_ms", "frame_bytes")

  /** 64-bit perceptual hashes of one decoded image (see
    * perceptualHashImagesBatched): ahash = mean hash, dhash = gradient
    * hash.
    */
  final case class PerceptualHash(media_id: Long, ahash: Long, dhash: Long)

  /** REAL perceptual (near-dup) image hashes — the LAION-style pass that
    * catches what content-CRC dedup (`mediaContentDedup`) can't: the same
    * image RESIZED or RECOMPRESSED lossily has different pixels byte-wise
    * but a near-identical 8x8 downscale. Both classic hashes (public
    * knowledge) over the bilinear-downscaled luma grid:
    *  - ahash (`aHash`, average hash over the 8x8 grid);
    *  - dhash (difference hash): 9x8 grid, bit y*8+x set iff
    *    gray[y][x] > gray[y][x+1] (horizontal gradient sign).
    * Bytes never leave the partition — only (id, 2 longs) rows exist
    * downstream.
    */
  def perceptualHashImagesBatched(media: DataFrame, batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[PerceptualHash] =
    batched[PerceptualHash](media, batchSize, batchInit, "media_id", "bytes") { () =>
      r => readImage(r.getAs[Array[Byte]](1)).map { img =>
        val g9 = grayGrid(img, 9, 8)
        var dhash = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (g9(y * 9 + x) > g9(y * 9 + x + 1))
              dhash |= (1L << (y * 8 + x))
            x += 1
          }
          y += 1
        }
        PerceptualHash(r.getLong(0), aHash(img), dhash)
      }
    }

  /** Perceptual image NEAR-dup pairs over the real decoder: ahash per
    * image, then the SAME Hamming-banded LSH machinery the text SimHash
    * path uses (ops.TextDedup.hammingBandedPairs) — 8 bands of 8 bits,
    * lossless for Hamming <= 7, which absorbs mild rescales and lossy
    * re-encodes while byte-level and pixel-CRC dedup both miss them.
    * Only (id, hash) longs shuffle; payloads stay in their scan
    * partitions.
    */
  def mediaNearDupPerceptual(media: DataFrame, maxHamming: Int = 7): DataFrame = {
    val fp = perceptualHashImagesBatched(media.filter(col("kind") === "image"))
      .toDF().select(col("media_id").as("id"), col("ahash").as("h"))
    graft.ops.TextDedup.hammingBandedPairs(fp, maxHamming, bands = 8)
  }

  /** Perceptual hash of ONE decoded audio stream (see
    * perceptualHashAudioBatched).
    */
  final case class AudioPerceptualHash(
      media_id: Long,
      sample_rate: Int,
      n_frames: Long,
      ehash: Long) // 64-bit energy-envelope hash

  /** PERCEPTUAL audio fingerprint — the audio member of the near-dup
    * triple (images: aHash/dHash over the pixel grid; video: frame-level
    * pixel hashes; audio: THIS). The classic envelope hash (public
    * knowledge, the aHash idea transposed to time): decode to canonical
    * signed-16-bit PCM (`readPcm`, as decodeAudioBatched does), collapse
    * channels to mono mean, split the clip into 64 equal TIME windows,
    * and set bit w iff window w's mean |amplitude| exceeds the whole-clip
    * mean. By construction the hash is invariant to
    *  - container/encoding (it hashes decoded PCM — WAV/AU/AIFF, u-law vs
    *    linear all collapse, same as pcm_crc),
    *  - volume scaling (bits compare a window mean to the clip mean:
    *    positive gain cancels), and
    *  - resampling (windows are fractions of TOTAL duration, so a 2:1
    *    decimation sees the same envelope).
    * What pcm_crc (exact content identity) can't catch — the same clip
    * re-mastered at a different level or rate — lands within a small
    * Hamming radius here, and audioNearDupPerceptual finds it with the
    * SAME 8-band Hamming machinery the image path rides. The PCM buffers
    * per row (an audio clip, bounded; a pipeline ingesting hour-long
    * masters would window the decode), the envelope accumulates in
    * O(windows) longs, and only (id, 8-byte hash) rows ever reach a
    * shuffle. n_frames counts the decoded frames; clips under 64 frames
    * (too short for the envelope) yield no row.
    */
  def perceptualHashAudioBatched(media: DataFrame, batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[AudioPerceptualHash] =
    batched[AudioPerceptualHash](media, batchSize, batchInit, "media_id", "bytes") { () =>
      val buf = new Array[Byte](8192)
      r => {
        val pcm = new java.io.ByteArrayOutputStream()
        readPcm(r.getAs[Array[Byte]](1), buf)((b, n) => pcm.write(b, 0, n)).flatMap {
          case (rate, ch, _) =>
            val a = pcm.toByteArray
            val frames = a.length / (2 * ch)
            if (frames < 64) None
            else {
              // mean |amplitude| per window, mono-collapsed
              val env = new Array[Long](64)
              val cnt = new Array[Long](64)
              var f = 0
              while (f < frames) {
                val w = ((f.toLong * 64) / frames).toInt
                var c = 0
                var acc = 0L
                while (c < ch) {
                  val off = (f * ch + c) * 2
                  // little-endian signed 16-bit
                  val v = ((a(off + 1).toInt << 8) | (a(off) & 0xff)).toShort
                  acc += math.abs(v.toLong)
                  c += 1
                }
                env(w) += acc / ch
                cnt(w) += 1
                f += 1
              }
              var i = 0
              var totNum = 0L
              while (i < 64) { env(i) = env(i) / math.max(cnt(i), 1L); totNum += env(i); i += 1 }
              var ehash = 0L
              i = 0
              while (i < 64) {
                if (64L * env(i) > totNum) ehash |= (1L << i)
                i += 1
              }
              Some(AudioPerceptualHash(r.getLong(0), rate, frames, ehash))
            }
        }
      }
    }

  /** Audio near-dup pairs within `maxHamming` of the 64-bit envelope
    * hash — same banded machinery as the image path (lossless for
    * maxHamming < 8 by pigeonhole; only 8-byte fingerprints shuffle).
    */
  def audioNearDupPerceptual(media: DataFrame, maxHamming: Int = 7): DataFrame = {
    val fp = perceptualHashAudioBatched(media.filter(col("kind") === "audio"))
      .toDF().select(col("media_id").as("id"), col("ehash").as("h"))
    graft.ops.TextDedup.hammingBandedPairs(fp, maxHamming, bands = 8)
  }

  /** Clip-granularity perceptual VIDEO fingerprint (see
    * perceptualHashVideoBatched).
    */
  final case class VideoPerceptualHash(
      media_id: Long,
      n_frames: Int,
      chash: Long) // 64-bit order-aware clip hash

  /** CLIP-granularity perceptual video fingerprint — what the exact
    * frame pass (q_frame_dedup / StreamingFrameDedup) structurally
    * misses: a RE-ENCODED or RESCALED clip has different bytes in every
    * frame, so no frame fingerprint matches, yet its per-frame aHashes
    * are near-identical. The signature is the per-frame spatial aHash
    * sequence collapsed into one order-aware 64-bit word: the clip's
    * timeline is split into 64 equal windows, and bit w copies bit w of
    * the aHash of the frame at position `w·n_frames div 64` — so
    *  - re-encode/rescale: each frame's aHash is stable (the image-hash
    *    invariance), so chash moves by at most the few flipped bits;
    *  - frame-rate resample: windows are FRACTIONS of the frame count,
    *    so a 2:1 temporal decimation samples the same relative frames;
    *  - reordering or splicing: windows sample different frames' bits —
    *    the hash moves far (order-awareness, which a bag-of-frame-hashes
    *    signature cannot give);
    *  - one clip (n_frames = 1) degenerates exactly to its image aHash.
    * Decode is `foreachFrame`, as in decodeFramesBatched (GIF-style
    * containers in this environment; a production build swaps in a real
    * demuxer behind the same seam): a truncated tail keeps the decoded
    * prefix. Only the per-frame hashes are held, and only (id, 8-byte
    * hash) rows leave the scan partition.
    */
  def perceptualHashVideoBatched(media: DataFrame, batchSize: Int = 64,
      batchInit: () => Unit = () => ()): Dataset[VideoPerceptualHash] =
    batched[VideoPerceptualHash](media, batchSize, batchInit, "media_id", "bytes") { () =>
      r => {
        val hashes = scala.collection.mutable.ArrayBuffer.empty[Long]
        foreachFrame(r.getAs[Array[Byte]](1))((_, img) => hashes += aHash(img))
        val k = hashes.length
        if (k == 0) None
        else {
          var chash = 0L
          var w = 0
          while (w < 64) {
            val f = ((w.toLong * k) / 64).toInt
            if ((hashes(f) & (1L << w)) != 0) chash |= (1L << w)
            w += 1
          }
          Some(VideoPerceptualHash(r.getLong(0), k, chash))
        }
      }
    }

  /** Clip-granularity perceptual video NEAR-dup pairs — the video member
    * of the near-dup triple, riding the same 8-band Hamming machinery as
    * the image and audio members: re-encoded/rescaled/frame-rate-
    * resampled copies of an ingested clip land within `maxHamming` of
    * its chash; different material and re-ORDERED cuts of the same
    * frames do not (spec-pinned on real animated GIFs).
    */
  def clipNearDupPerceptual(media: DataFrame, maxHamming: Int = 7): DataFrame = {
    val fp = perceptualHashVideoBatched(media.filter(col("kind") === "video"))
      .toDF().select(col("media_id").as("id"), col("chash").as("h"))
    graft.ops.TextDedup.hammingBandedPairs(fp, maxHamming, bands = 8)
  }

  /** The stub-raster aHash band keys of q_media_neardup as ONE codegen
    * pass (static-call pattern): pixel i = code point of the char at
    * position i*L div 64 (mod 256), bit i = 64*p_i > sum, keys = four
    * 16-bit band packs — the EXACT arithmetic the DuckDB oracle replays.
    * Exists because the HOF formulation (transform/aggregate chains)
    * inlines the pixel array into every bit reference when Project
    * collapse substitutes the withColumns — ~4k interpreted substring
    * evaluations per row, measured 164 s at sf0.1; this pass is one
    * array walk per row.
    */
  final case class StubAHashKeys(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true

    def computeRow(s: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.sql.catalyst.util.ArrayData = {
      val txt = s.toString
      val L = txt.length
      val p = new Array[Int](64)
      var sum = 0L
      var i = 0
      while (i < 64) {
        // same sampling convention as the oracle: char code point % 256
        // at position i*L div 64 (BMP-equivalent to DuckDB's ascii())
        p(i) = txt.charAt((i.toLong * L / 64).toInt).toInt % 256
        sum += p(i)
        i += 1
      }
      val keys = new Array[Int](4)
      var b = 0
      while (b < 4) {
        var k = 0
        var j = 0
        while (j < 16) {
          if (64L * p(b * 16 + j) > sum) k |= (1 << j)
          j += 1
        }
        keys(b) = k
        b += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
    }

    override protected def nullSafeEval(input: Any): Any =
      computeRow(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val obj = ctx.addReferenceObj("ahash", this, classOf[StubAHashKeys].getName)
        s"${ev.value} = $obj.computeRow($c);"
      })

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): StubAHashKeys =
      copy(child = newChild)

    override def prettyName: String = "stub_ahash_keys"
  }

  import graft.ops.Q

  /** Near-dup pairs of the stub-raster queries (q_media_neardup,
    * q_clip_neardup): (vid, k = four 16-bit band keys) rows banded on
    * their keys, the skew-guarded candidate join, and the Hamming <= 3
    * verify over the four keys.
    */
  private def stubNearDupPairs(keyed: DataFrame): DataFrame = {
    val banded = keyed.select(col("vid"), col("k"),
      explode(expr(
        "transform(sequence(0, 3), bb -> struct(bb AS band, element_at(k, bb + 1) AS key))")).as("bb"))
      .select(col("vid"), col("k"), col("bb.band"), col("bb.key"))
    graft.ops.TextDedup.bandedCandidates(banded, "vid", "key", Seq("k"))
      .withColumn("hamming", expr(
        """cast(bit_count(element_at(ka, 1) ^ element_at(kb, 1))
              + bit_count(element_at(ka, 2) ^ element_at(kb, 2))
              + bit_count(element_at(ka, 3) ^ element_at(kb, 3))
              + bit_count(element_at(ka, 4) ^ element_at(kb, 4)) as bigint)"""))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The COMPOSED media-ingest chain as oracle-able batch arithmetic
    * (q_media_ingest_audit) — the audit twin of streaming.MediaIngestJob
    * exactly as q_curation_pipeline audits CurationIngestJob's text
    * chain: one fixture batch runs exact-byte dedup, then the three
    * modality-perceptual gates (image aHash / audio envelope / video
    * clip hash — all three stub-rastered here, the q_media_neardup /
    * q_clip_neardup convention; the real-codec hashers are spec-pinned
    * in MultimodalSpec/MediaIngestJobSpec), with the job's greedy
    * lower-id within-batch resolution (streaming.IngestGate.banded:
    * an item dies when a LOWER-id exact-survivor of its kind lies
    * within the Hamming radius — not transitive closure). The fixture
    * plants, per media item: a byte-identical re-upload (+1 — dies at
    * the EXACT gate), a one-char perturbation (+2 — byte-different, so
    * it passes exact and dies at its kind's PERCEPTUAL gate when within
    * Hamming 3), and for videos a frame-REVERSED cut (+3 — same frames,
    * different order: the order-aware clip hash must ADMIT it). Output
    * is one row per stage — admit/kill counts plus an md5 checksum of
    * the sorted admitted ids — so the DuckDB oracle hash-pins the whole
    * composed admit set, not just sizes. Scale shape = the job's:
    * payload bytes never join or shuffle (only vid + four 16-bit band
    * keys enter the self-join), each gate is a banded bucket join, and
    * the per-stage summary is one tiny aggregate.
    */
  private def mediaIngestAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlShims
    def stubKeys(c: org.apache.spark.sql.Column) =
      GraftSqlShims.column(StubAHashKeys(GraftSqlShims.expression(c)))
    val base = mediaTable(s, dir)
      .select(col("media_id"), col("kind"), col("bytes").cast(StringType).as("txt"))
      .withColumn("L", length(col("txt"))).filter(col("L") > 0)
      .withColumn("q", expr("(L + 3) div 4"))
      .withColumn("p", expr("rpad(txt, cast(4 * q as int), 'z')"))
    def quarter(i: Int) =
      expr(s"substring(p, cast($i * q + 1 as int), cast(q as int))")
    val nonVideo = base.filter(col("kind") =!= "video")
      .select(col("kind"), explode(array(
        struct((col("media_id") * 4).as("vid"), col("txt").as("ct")),
        struct((col("media_id") * 4 + 1).as("vid"), col("txt").as("ct")),
        struct((col("media_id") * 4 + 2).as("vid"),
          concat(lit("q"), expr("substring(txt, 2)")).as("ct")))).as("v"))
      .select(col("v.vid").as("vid"), col("kind"), col("v.ct").as("ct"))
    // video variants cut frames from the PADDED payload so all four
    // share one frame length q (the q_clip_neardup convention)
    val video = base.filter(col("kind") === "video")
      .select(col("kind"), col("q"), explode(array(
        struct((col("media_id") * 4).as("vid"), col("p").as("ct")),
        struct((col("media_id") * 4 + 1).as("vid"), col("p").as("ct")),
        struct((col("media_id") * 4 + 2).as("vid"),
          concat(lit("q"), expr("substring(p, 2)")).as("ct")),
        struct((col("media_id") * 4 + 3).as("vid"),
          concat(quarter(3), quarter(2), quarter(1), quarter(0)).as("ct")))).as("v"))
      .select(col("v.vid").as("vid"), col("kind"), col("v.ct").as("ct"), col("q"))
    val variants = nonVideo.withColumn("q", lit(null).cast(LongType))
      .unionByName(video).persist()
    // stage 1 — exact-byte gate: keeper = min vid per content md5
    val hashed = variants.withColumn("cmd5", md5(col("ct").cast(BinaryType)))
    val keep1 = hashed.groupBy(col("cmd5")).agg(min(col("vid")).as("vid"))
    val s1 = hashed.join(keep1, Seq("cmd5", "vid"), "left_semi")
      .select(col("vid"), col("kind"), col("ct"), col("q")).persist()
    // stages 2-4 — modality-perceptual gates over the exact survivors
    val iaPool = s1.filter(col("kind").isin("image", "audio"))
      .select(col("vid"), col("kind"), stubKeys(col("ct")).as("k"))
    def frameKeys(fi: Int) = stubKeys(
      expr(s"substring(ct, cast($fi * q + 1 as int), cast(q as int))"))
    val vPool = s1.filter(col("kind") === "video")
      .select(col("vid"), lit("video").as("kind"),
        array(element_at(frameKeys(0), 1), element_at(frameKeys(1), 2),
          element_at(frameKeys(2), 3), element_at(frameKeys(3), 4)).as("k"))
    val pool = iaPool.unionByName(vPool)
    val banded = pool.select(col("vid"), col("kind"), col("k"),
      explode(expr(
        "transform(sequence(0, 3), bb -> struct(bb AS band, element_at(k, bb + 1) AS key))")).as("bb"))
      .select(col("vid"), col("kind"), col("k"), col("bb.band"), col("bb.key"))
    val kills = banded.as("x").join(banded.as("y"),
        col("x.kind") === col("y.kind") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.vid") > col("y.vid"))
      .select(col("x.vid").as("vid"), col("x.kind").as("kind"),
        col("x.k").as("ka"), col("y.k").as("kb"))
      .distinct()
      .filter(expr(
        """bit_count(element_at(ka, 1) ^ element_at(kb, 1))
         + bit_count(element_at(ka, 2) ^ element_at(kb, 2))
         + bit_count(element_at(ka, 3) ^ element_at(kb, 3))
         + bit_count(element_at(ka, 4) ^ element_at(kb, 4)) <= 3"""))
      .select(col("vid"), col("kind")).distinct()
    // survival level per variant: 0 = died exact, 1/2/3 = died at its
    // kind's perceptual gate (chain order image → audio → clip), 4 = admitted
    val flags = variants.select(col("vid"), col("kind"))
      .join(s1.select(col("vid"), lit(1).as("f1")), Seq("vid"), "left")
      .join(kills.select(col("vid"), lit(1).as("fk")), Seq("vid"), "left")
      .select(col("vid"),
        when(col("f1").isNull, lit(0))
          .when(col("fk").isNotNull && col("kind") === "image", lit(1))
          .when(col("fk").isNotNull && col("kind") === "audio", lit(2))
          .when(col("fk").isNotNull && col("kind") === "video", lit(3))
          .otherwise(lit(4)).as("lvl"))
      .localCheckpoint()
    variants.unpersist(); s1.unpersist()
    def stageRow(i: Int, nm: String): DataFrame =
      flags.agg(
        sum(when(col("lvl") >= i - 1, 1L).otherwise(0L)).as("n_in"),
        sum(when(col("lvl") === i - 1, 1L).otherwise(0L)).as("n_kill"),
        sum(when(col("lvl") >= i, 1L).otherwise(0L)).as("n_out"),
        expr(s"""md5(cast(array_join(transform(
            sort_array(collect_list(CASE WHEN lvl >= $i THEN vid END)),
            x -> cast(x AS string)), ',') AS binary))""").as("admit_md5"))
        .select(lit(i).as("stage_id"), lit(nm).as("stage"),
          col("n_in").cast(LongType).as("n_in"),
          col("n_kill").cast(LongType).as("n_kill"),
          col("n_out").cast(LongType).as("n_out"), col("admit_md5"))
    stageRow(1, "exact")
      .unionByName(stageRow(2, "image"))
      .unionByName(stageRow(3, "audio"))
      .unionByName(stageRow(4, "clip"))
      .orderBy(col("stage_id"))
  }

  val queries: Seq[Q] = Seq(
    // Exact media dedup on the BINARY payload: keeper = first media_id
    // per content hash, with the copy count. The payload is hashed at
    // the scan and dropped before the window's exchange, so only
    // (32-hex, id, kind) rows shuffle — bytes never move, the property
    // that matters when the binary column is megabytes per row.
    Q("q_media_dedup",
      (s, dir) => {
        val hashed = mediaTable(s, dir)
          .select(col("media_id"), col("kind"),
            md5(col("bytes")).as("content_md5"))
        val w = Window.partitionBy(col("content_md5"))
        hashed
          .withColumn("rn",
            row_number().over(w.orderBy(col("media_id"))))
          .withColumn("n_copies", count(lit(1)).over(w))
          .filter(col("rn") === 1)
          .select(col("media_id"), col("kind"), col("content_md5"), col("n_copies"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT media_id, kind, content_md5, n_copies FROM (
                SELECT media_id, kind, content_md5,
                       row_number() OVER (PARTITION BY content_md5 ORDER BY media_id) AS rn,
                       count(*) OVER (PARTITION BY content_md5) AS n_copies
                FROM (SELECT doc_id AS media_id,
                             (['image', 'audio', 'video'])[(doc_id % 3 + 1)] AS kind,
                             md5(text) AS content_md5
                      FROM documents))
              WHERE rn = 1 ORDER BY media_id""")),

    // Frame-sampling schedule as a pure expression (the oracle-able form
    // of frameSampleBatched's timestamps): 4 frames per video at
    // idx * (duration/4), duration = 40ms/byte from the stub decode.
    Q("q_frame_sample",
      (s, dir) =>
        mediaTable(s, dir).filter(col("kind") === "video")
          .select(col("media_id"), octet_length(col("bytes")).cast(LongType).as("n_bytes"))
          .filter(col("n_bytes") > 0)
          .select(col("media_id"), explode(sequence(lit(0), lit(3))).as("fi"), col("n_bytes"))
          .select(col("media_id"), col("fi").cast(LongType).as("frame_idx"),
            (col("fi") * col("n_bytes") * 10).as("frame_ts_ms"))
          .orderBy(col("media_id"), col("frame_idx")),
      Some("""SELECT doc_id AS media_id, i AS frame_idx,
                     (i * octet_length(encode(text)) * 10)::BIGINT AS frame_ts_ms
              FROM documents CROSS JOIN range(0, 4) t(i)
              WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0
              ORDER BY media_id, frame_idx""")),
    // Audio windowing schedule — the audio sibling of q_frame_sample:
    // fixed 5s windows, 2.5s stride, over each clip's stub duration
    // (40 ms/byte). One sequence+explode per row, bytes untouched — the
    // shape of every frame/window feature-extraction pass: schedule
    // columnar, payload reads batched behind it.
    Q("q_audio_windows",
      (s, dir) =>
        mediaTable(s, dir).filter(col("kind") === "audio")
          .select(col("media_id"),
            (octet_length(col("bytes")).cast(LongType) * 40L).as("dur_ms"))
          .filter(col("dur_ms") > 0)
          .select(col("media_id"), col("dur_ms"),
            posexplode(sequence(lit(0L), col("dur_ms") - 1, lit(2500L))))
          .select(col("media_id"), col("pos").cast(LongType).as("win_idx"),
            col("col").as("win_start_ms"),
            least(col("col") + 5000L, col("dur_ms")).as("win_end_ms"))
          .orderBy(col("media_id"), col("win_idx")),
      Some("""SELECT media_id,
                     CAST(row_number() OVER (PARTITION BY media_id ORDER BY s) - 1 AS BIGINT) AS win_idx,
                     s AS win_start_ms,
                     least(s + 5000, dur_ms) AS win_end_ms
              FROM (SELECT doc_id AS media_id,
                           CAST(octet_length(encode(text)) * 40 AS BIGINT) AS dur_ms,
                           unnest(generate_series(0, CAST(octet_length(encode(text)) * 40 AS BIGINT) - 1, 2500)) AS s
                    FROM documents
                    WHERE doc_id % 3 = 1 AND octet_length(encode(text)) > 0)
              ORDER BY media_id, win_idx""")),

    // Columnar metadata extraction over binary payloads — the expression
    // form of the decode stub, fully oracle-able (byte lengths and the
    // derived dims are plain arithmetic in both engines). Bytes are never
    // shuffled: the aggregate groups on 9-byte rows.
    Q("q_multimodal_meta",
      (s, dir) =>
        mediaTable(s, dir)
          .select(col("kind"), octet_length(col("bytes")).as("n_bytes"))
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_media"),
            sum(col("n_bytes").cast(LongType)).as("total_bytes"),
            max((col("n_bytes") % 640 + 16)).cast(LongType).as("max_width"),
            min((col("n_bytes") % 480 + 16)).cast(LongType).as("min_height"))
          .orderBy(col("kind")),
      Some("""SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     COUNT(*) AS n_media,
                     SUM(octet_length(encode(text)))::BIGINT AS total_bytes,
                     MAX(octet_length(encode(text)) % 640 + 16) AS max_width,
                     MIN(octet_length(encode(text)) % 480 + 16) AS min_height
              FROM documents GROUP BY 1 ORDER BY kind""")),

    // Caption-pair curation: media joined back to its caption text with
    // the pair-level quality gates a multimodal training set applies —
    // captions of >= 12 tokens and a bytes-per-caption-char ratio inside
    // [0.5, 2] (degenerate pairs: huge payload with a stub caption, or a
    // caption longer than the media). The media side carries only
    // (media_id, kind, n_bytes) into the join — payload bytes are
    // projected away before the shuffle, the q_media_dedup property.
    Q("q_caption_pairs",
      (s, dir) => {
        val media = mediaTable(s, dir).filter(col("kind") === "image")
          .select(col("media_id"), octet_length(col("bytes")).cast(LongType).as("n_bytes"))
        val caps = Tables.load(s, dir, "documents")
          .select(col("doc_id").as("media_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_cap_tokens"),
            col("n_chars"))
        media.join(caps, Seq("media_id"))
          .withColumn("bytes_per_char",
            col("n_bytes").cast(DoubleType) / col("n_chars"))
          .filter(col("n_cap_tokens") >= 12 &&
            col("bytes_per_char") >= 0.5 && col("bytes_per_char") <= 2.0)
          .select(col("media_id"), col("n_bytes"), col("n_cap_tokens"),
            col("bytes_per_char"))
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_cap_tokens,
                     CAST(octet_length(encode(text)) AS DOUBLE) / n_chars AS bytes_per_char
              FROM documents
              WHERE doc_id % 3 = 0
                AND len(string_split(text, ' ')) >= 12
                AND CAST(octet_length(encode(text)) AS DOUBLE) / n_chars BETWEEN 0.5 AND 2.0
              ORDER BY media_id""")),

    // Modality mix report: share of rows and of bytes per kind — the
    // one-line answer to "what is this multimodal corpus made of", the
    // media sibling of q_source_mix's text rates. Integer byte sums,
    // single double division per row of output.
    Q("q_modality_mix",
      (s, dir) => {
        val m = mediaTable(s, dir)
          .select(col("kind"), octet_length(col("bytes")).cast(LongType).as("n_bytes"))
        val per = m.groupBy(col("kind"))
          .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("kind_bytes"))
        val tot = m.agg(count(lit(1)).as("n_total"), sum(col("n_bytes")).as("total_bytes"))
        per.crossJoin(broadcast(tot))
          .select(col("kind"), col("n_media"), col("kind_bytes"),
            (col("n_media").cast(DoubleType) / col("n_total")).as("row_share"),
            (col("kind_bytes").cast(DoubleType) / col("total_bytes")).as("byte_share"))
          .orderBy(col("kind"))
      },
      Some("""WITH m AS (
                SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                FROM documents),
              per AS (SELECT kind, COUNT(*) AS n_media,
                             CAST(SUM(n_bytes) AS BIGINT) AS kind_bytes
                      FROM m GROUP BY kind),
              tot AS (SELECT COUNT(*) AS n_total,
                             CAST(SUM(n_bytes) AS BIGINT) AS total_bytes FROM m)
              SELECT kind, n_media, kind_bytes,
                     CAST(n_media AS DOUBLE) / n_total AS row_share,
                     CAST(kind_bytes AS DOUBLE) / total_bytes AS byte_share
              FROM per CROSS JOIN tot ORDER BY kind""")),

    // FRAME-level content dedup across videos (the intro/outro/static-
    // frame collapse a video corpus runs after whole-file dedup): each
    // video's 4 sampled frames — the deterministic quarter slices of
    // q_frame_sample's schedule — hash individually, and identical
    // frames across DIFFERENT videos collapse to one keeper. Keeper =
    // smallest (media_id, frame_idx), encoded as media_id*4+frame_idx
    // so one integer MIN (order-free, exact) carries both. Bytes never
    // shuffle: only (16-byte md5, packed key) rows reach the exchange —
    // on a petabyte video corpus that is the difference between
    // shuffling frames and shuffling fingerprints.
    Q("q_frame_dedup",
      (s, dir) => {
        val frames = mediaTable(s, dir).filter(col("kind") === "video")
          .select(col("media_id"), col("bytes"),
            octet_length(col("bytes")).cast(LongType).as("n"))
          .filter(col("n") > 0)
          .select(col("media_id"), col("bytes"), col("n"),
            explode(sequence(lit(0L), lit(3L))).as("fi"))
          .withColumn("st", expr("fi * n div 4"))
          .withColumn("fl", expr("(fi + 1) * n div 4") - col("st"))
          .filter(col("fl") > 0)
          .select((col("media_id") * 4 + col("fi")).as("fkey"),
            // md5 over the HEX of the byte slice (not the raw bytes):
            // DuckDB's md5 only takes VARCHAR, and slicing the VARCHAR
            // text by character positions would silently diverge from
            // these BYTE offsets on non-ASCII docs. Hexing first keeps
            // the fingerprint a pure function of the byte slice on both
            // sides (Spark hex and DuckDB hex are both uppercase).
            md5(hex(expr("substring(bytes, st + 1, fl)"))).as("frame_md5"))
        frames.groupBy(col("frame_md5"))
          .agg(min(col("fkey")).as("k"), count(lit(1)).as("n_copies"))
          .select(expr("k div 4").as("keeper_media"),
            (col("k") % 4).as("keeper_frame"),
            col("frame_md5"), col("n_copies"))
          .orderBy(col("keeper_media"), col("keeper_frame"))
      },
      Some("""WITH v AS (
                SELECT doc_id AS media_id, text,
                       CAST(octet_length(encode(text)) AS BIGINT) AS n
                FROM documents
                WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0),
              f AS (
                SELECT media_id * 4 + fi AS fkey,
                       md5(substring(hex(encode(text)),
                             CAST(2 * (fi * n // 4) AS BIGINT) + 1,
                             CAST(2 * ((fi + 1) * n // 4 - fi * n // 4) AS BIGINT))) AS frame_md5
                FROM (SELECT media_id, text, n, unnest(range(0, 4)) AS fi FROM v)
                WHERE (fi + 1) * n // 4 - fi * n // 4 > 0)
              SELECT CAST(k // 4 AS BIGINT) AS keeper_media,
                     CAST(k % 4 AS BIGINT) AS keeper_frame,
                     frame_md5, n_copies
              FROM (SELECT frame_md5, MIN(fkey) AS k, COUNT(*) AS n_copies
                    FROM f GROUP BY frame_md5)
              ORDER BY keeper_media, keeper_frame""")),

    // PERCEPTUAL image near-dup — the oracle-able STUB-RASTER form of
    // mediaNearDupPerceptual (the real-codec sibling is spec-pinned on
    // generated images in MultimodalSpec, like every other real-decoder
    // path): each image payload "decodes" to a deterministic fake 8x8
    // raster (pixel i = code point of the char at position i*L div 64 —
    // clearly-marked stub, same convention as decodeStub), the classic
    // aHash bits are 64*p_i > sum (integer-exact on both engines), and
    // near-dups are found by the 4x16-bit Hamming banding + skew guard +
    // verify — the full LSH pipeline, arithmetic end to end, which is
    // what lets DuckDB oracle it where q_dedup_simhash (xxhash64-valued)
    // cannot be. The corpus plants no byte-level near-identical images,
    // so the fixture synthesizes them IN-QUERY, deterministically (the
    // q_pii_scrub pattern — real matches, not vacuous zeros): each image
    // appears as itself (vid = 4*id), a byte-identical "re-encode"
    // (4*id+1, Hamming 0), and a one-char-perturbed copy (4*id+2, small
    // Hamming). The banded join collapses each image with its variants
    // (natural cross-image Hamming floor in this corpus is 10, so output
    // pairs are exactly the planted structure). Band keys stay as four
    // 16-bit ints rather than one packed long: bit 63 of a packed hash
    // overflows DuckDB's checked BIGINT shift. Scale shape = the
    // production path's: only (vid, band, key) ints shuffle.
    Q("q_media_neardup",
      (s, dir) => {
        val imgs = mediaTable(s, dir).filter(col("kind") === "image")
          .select(col("media_id"), col("bytes").cast(StringType).as("txt"))
          .withColumn("L", length(col("txt"))).filter(col("L") > 0)
        val variants = imgs.select(explode(array(
            struct((col("media_id") * 4).as("vid"), col("txt").as("txt")),
            struct((col("media_id") * 4 + 1).as("vid"), col("txt").as("txt")),
            struct((col("media_id") * 4 + 2).as("vid"),
              concat(lit("q"), expr("substring(txt, 2)")).as("txt")))).as("v"))
          .select(col("v.vid").as("vid"), col("v.txt").as("txt"))
          .withColumn("L", length(col("txt")))
        val keyed = variants
          .select(col("vid"),
            org.apache.spark.sql.graft.GraftSqlShims.column(StubAHashKeys(
              org.apache.spark.sql.graft.GraftSqlShims.expression(col("txt"))))
              .as("k"))
        stubNearDupPairs(keyed)
      },
      Some("""WITH img AS (
                SELECT doc_id AS media_id, text, len(text) AS L
                FROM documents WHERE doc_id % 3 = 0 AND len(text) > 0),
              var AS (
                SELECT media_id * 4 AS vid, text AS txt FROM img
                UNION ALL
                SELECT media_id * 4 + 1, text FROM img
                UNION ALL
                SELECT media_id * 4 + 2, 'q' || substring(text, 2) FROM img),
              pix AS (
                SELECT vid, len(txt) AS L,
                       list_transform(range(0, 64),
                         i -> ascii(substring(txt, CAST(i * len(txt) // 64 AS INTEGER) + 1, 1)) % 256) AS p
                FROM var),
              bits AS (
                SELECT vid,
                       list_transform(range(0, 64),
                         i -> CASE WHEN 64 * p[i + 1] > list_sum(p) THEN 1 ELSE 0 END) AS b
                FROM pix),
              bandk AS (
                SELECT vid,
                       list_transform(range(0, 4), bb ->
                         list_sum(list_transform(range(0, 16), j -> b[bb * 16 + j + 1] * (1 << j)))) AS k
                FROM bits),
              banded AS (
                SELECT vid, k, bb AS band, k[bb + 1] AS key
                FROM (SELECT vid, k, unnest(range(0, 4)) AS bb FROM bandk)),
              guard AS (
                SELECT band, key FROM banded GROUP BY band, key HAVING COUNT(*) <= 64),
              pruned AS (SELECT banded.* FROM banded JOIN guard USING (band, key)),
              pairs AS (
                SELECT DISTINCT a.vid AS a_id, b.vid AS b_id, a.k AS ka, b.k AS kb
                FROM pruned a JOIN pruned b
                  ON a.band = b.band AND a.key = b.key AND a.vid < b.vid)
              SELECT a_id, b_id,
                     CAST(bit_count(xor(CAST(ka[1] AS BIGINT), CAST(kb[1] AS BIGINT)))
                        + bit_count(xor(CAST(ka[2] AS BIGINT), CAST(kb[2] AS BIGINT)))
                        + bit_count(xor(CAST(ka[3] AS BIGINT), CAST(kb[3] AS BIGINT)))
                        + bit_count(xor(CAST(ka[4] AS BIGINT), CAST(kb[4] AS BIGINT))) AS BIGINT) AS hamming
              FROM pairs
              WHERE bit_count(xor(CAST(ka[1] AS BIGINT), CAST(kb[1] AS BIGINT)))
                  + bit_count(xor(CAST(ka[2] AS BIGINT), CAST(kb[2] AS BIGINT)))
                  + bit_count(xor(CAST(ka[3] AS BIGINT), CAST(kb[3] AS BIGINT)))
                  + bit_count(xor(CAST(ka[4] AS BIGINT), CAST(kb[4] AS BIGINT))) <= 3
              ORDER BY a_id, b_id""")),

    // CLIP-granularity perceptual video near-dup — the oracle-able
    // STUB-RASTER form of clipNearDupPerceptual (the real-codec sibling
    // is spec-pinned on animated GIFs in MultimodalSpec): each video
    // payload pads to a multiple of 4 and "decodes" to 4 equal-length
    // stub frames (character quarters), each frame stub-rasters to its
    // 64 aHash bits (the q_media_neardup arithmetic), and the ORDER-
    // AWARE clip signature takes bit slice [16b, 16b+16) from frame b —
    // the time-window sampling of perceptualHashVideoBatched at k=4. The
    // fixture plants, per video: a byte-identical re-encode (+1, Hamming
    // 0), a one-char perturbation touching only frame 0 (+2, small
    // Hamming), and a frame-REVERSED cut (+3) — the same frames in a
    // different order, which a bag-of-frames signature would collapse
    // but the order-aware clip hash must NOT (its band keys sample
    // different frames). 4x16-bit banding + skew guard + verify at
    // Hamming <= 3, arithmetic end to end on both engines.
    Q("q_clip_neardup",
      (s, dir) => {
        import org.apache.spark.sql.graft.GraftSqlShims
        val vids = mediaTable(s, dir).filter(col("kind") === "video")
          .select(col("media_id"), col("bytes").cast(StringType).as("txt"))
          .withColumn("L", length(col("txt"))).filter(col("L") > 0)
          .withColumn("q", expr("(L + 3) div 4"))
          .withColumn("p", expr("rpad(txt, cast(4 * q as int), 'z')"))
        def quarter(i: Int) =
          expr(s"substring(p, cast($i * q + 1 as int), cast(q as int))")
        val variants = vids.select(explode(array(
            struct((col("media_id") * 4).as("vid"), col("p").as("ct")),
            struct((col("media_id") * 4 + 1).as("vid"), col("p").as("ct")),
            struct((col("media_id") * 4 + 2).as("vid"),
              concat(lit("q"), expr("substring(p, 2)")).as("ct")),
            struct((col("media_id") * 4 + 3).as("vid"),
              concat(quarter(3), quarter(2), quarter(1), quarter(0))
                .as("ct")))).as("v"))
          .select(col("v.vid").as("vid"), col("v.ct").as("ct"))
          .withColumn("q", expr("length(ct) div 4"))
        def frameKeys(fi: Int) = GraftSqlShims.column(StubAHashKeys(
          GraftSqlShims.expression(
            expr(s"substring(ct, cast($fi * q + 1 as int), cast(q as int))"))))
        val keyed = variants.select(col("vid"),
          array(element_at(frameKeys(0), 1), element_at(frameKeys(1), 2),
            element_at(frameKeys(2), 3), element_at(frameKeys(3), 4)).as("k"))
        stubNearDupPairs(keyed)
      },
      Some("""WITH vid0 AS (
                SELECT doc_id AS media_id, text, len(text) AS L
                FROM documents WHERE doc_id % 3 = 2 AND len(text) > 0),
              base AS (
                SELECT media_id, (L + 3) // 4 AS q,
                       rpad(text, CAST(((L + 3) // 4) * 4 AS INTEGER), 'z') AS p
                FROM vid0),
              var AS (
                SELECT media_id * 4 AS vid, p AS ct, q FROM base
                UNION ALL
                SELECT media_id * 4 + 1, p, q FROM base
                UNION ALL
                SELECT media_id * 4 + 2, 'q' || substring(p, 2), q FROM base
                UNION ALL
                SELECT media_id * 4 + 3,
                       substring(p, CAST(3 * q + 1 AS INTEGER), CAST(q AS INTEGER))
                    || substring(p, CAST(2 * q + 1 AS INTEGER), CAST(q AS INTEGER))
                    || substring(p, CAST(q + 1 AS INTEGER), CAST(q AS INTEGER))
                    || substring(p, 1, CAST(q AS INTEGER)), q
                FROM base),
              fr AS (
                SELECT vid, fi,
                       substring(ct, CAST(fi * q + 1 AS INTEGER), CAST(q AS INTEGER)) AS ft
                FROM (SELECT vid, ct, q, unnest(range(0, 4)) AS fi FROM var)),
              pix AS (
                SELECT vid, fi,
                       list_transform(range(0, 64),
                         i -> ascii(substring(ft, CAST(i * len(ft) // 64 AS INTEGER) + 1, 1)) % 256) AS p
                FROM fr),
              bits AS (
                SELECT vid, fi,
                       list_transform(range(0, 64),
                         i -> CASE WHEN 64 * p[i + 1] > list_sum(p) THEN 1 ELSE 0 END) AS b
                FROM pix),
              bandk AS (
                SELECT vid, list(key ORDER BY fi) AS k FROM (
                  SELECT vid, fi,
                         list_sum(list_transform(range(0, 16),
                           j -> b[fi * 16 + j + 1] * (1 << j))) AS key
                  FROM bits) GROUP BY vid),
              banded AS (
                SELECT vid, k, bb AS band, k[bb + 1] AS key
                FROM (SELECT vid, k, unnest(range(0, 4)) AS bb FROM bandk)),
              guard AS (
                SELECT band, key FROM banded GROUP BY band, key HAVING COUNT(*) <= 64),
              pruned AS (SELECT banded.* FROM banded JOIN guard USING (band, key)),
              pairs AS (
                SELECT DISTINCT a.vid AS a_id, b.vid AS b_id, a.k AS ka, b.k AS kb
                FROM pruned a JOIN pruned b
                  ON a.band = b.band AND a.key = b.key AND a.vid < b.vid)
              SELECT a_id, b_id,
                     CAST(bit_count(xor(CAST(ka[1] AS BIGINT), CAST(kb[1] AS BIGINT)))
                        + bit_count(xor(CAST(ka[2] AS BIGINT), CAST(kb[2] AS BIGINT)))
                        + bit_count(xor(CAST(ka[3] AS BIGINT), CAST(kb[3] AS BIGINT)))
                        + bit_count(xor(CAST(ka[4] AS BIGINT), CAST(kb[4] AS BIGINT))) AS BIGINT) AS hamming
              FROM pairs
              WHERE bit_count(xor(CAST(ka[1] AS BIGINT), CAST(kb[1] AS BIGINT)))
                  + bit_count(xor(CAST(ka[2] AS BIGINT), CAST(kb[2] AS BIGINT)))
                  + bit_count(xor(CAST(ka[3] AS BIGINT), CAST(kb[3] AS BIGINT)))
                  + bit_count(xor(CAST(ka[4] AS BIGINT), CAST(kb[4] AS BIGINT))) <= 3
              ORDER BY a_id, b_id""")),

    // The COMPOSED media-ingest chain on the hard gate (the media twin
    // of q_curation_pipeline): exact-byte → image → audio → clip gates
    // in one audit (see mediaIngestAudit doc for fixture + semantics).
    // The oracle replays the identical arithmetic — md5 exact grouping,
    // the stub aHash rasters, the order-aware clip windows, the greedy
    // lower-id kill rule — and the admit_md5 column hash-pins the full
    // admitted id set after every stage, so the chain's COMPOSITION
    // (stage order, pass-through of other kinds, kill attribution) is
    // value-checked, not just spec-pinned.
    Q("q_media_ingest_audit",
      (s, dir) => mediaIngestAudit(s, dir),
      Some("""WITH med AS (
                SELECT doc_id AS media_id,
                       (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
                       text AS txt, len(text) AS L
                FROM documents WHERE len(text) > 0),
              vbase AS (SELECT media_id, kind, txt, (L + 3) // 4 AS q,
                               rpad(txt, CAST(((L + 3) // 4) * 4 AS INTEGER), 'z') AS p
                        FROM med),
              var AS (
                SELECT media_id * 4 AS vid, kind,
                       CASE WHEN kind = 'video' THEN p ELSE txt END AS ct, q FROM vbase
                UNION ALL
                SELECT media_id * 4 + 1, kind,
                       CASE WHEN kind = 'video' THEN p ELSE txt END, q FROM vbase
                UNION ALL
                SELECT media_id * 4 + 2, kind,
                       CASE WHEN kind = 'video' THEN 'q' || substring(p, 2)
                            ELSE 'q' || substring(txt, 2) END, q FROM vbase
                UNION ALL
                SELECT media_id * 4 + 3, kind,
                       substring(p, CAST(3 * q + 1 AS INTEGER), CAST(q AS INTEGER))
                    || substring(p, CAST(2 * q + 1 AS INTEGER), CAST(q AS INTEGER))
                    || substring(p, CAST(q + 1 AS INTEGER), CAST(q AS INTEGER))
                    || substring(p, 1, CAST(q AS INTEGER)), q
                FROM vbase WHERE kind = 'video'),
              s1 AS (SELECT v.vid, v.kind, v.ct, v.q FROM var v
                     JOIN (SELECT md5(ct) AS m, min(vid) AS kvid FROM var GROUP BY md5(ct)) k
                       ON md5(v.ct) = k.m AND v.vid = k.kvid),
              pixia AS (SELECT vid, kind,
                          list_transform(range(0, 64),
                            i -> ascii(substring(ct, CAST(i * len(ct) // 64 AS INTEGER) + 1, 1)) % 256) AS pp
                        FROM s1 WHERE kind IN ('image', 'audio')),
              bitsia AS (SELECT vid, kind,
                           list_transform(range(0, 64),
                             i -> CASE WHEN 64 * pp[i + 1] > list_sum(pp) THEN 1 ELSE 0 END) AS b
                         FROM pixia),
              kia AS (SELECT vid, kind,
                        list_transform(range(0, 4), bb ->
                          list_sum(list_transform(range(0, 16), j -> b[bb * 16 + j + 1] * (1 << j)))) AS k
                      FROM bitsia),
              frv AS (SELECT vid, fi,
                        substring(ct, CAST(fi * q + 1 AS INTEGER), CAST(q AS INTEGER)) AS ft
                      FROM (SELECT vid, ct, q, unnest(range(0, 4)) AS fi FROM s1 WHERE kind = 'video')),
              pixv AS (SELECT vid, fi,
                         list_transform(range(0, 64),
                           i -> ascii(substring(ft, CAST(i * len(ft) // 64 AS INTEGER) + 1, 1)) % 256) AS pp
                       FROM frv),
              bitsv AS (SELECT vid, fi,
                          list_transform(range(0, 64),
                            i -> CASE WHEN 64 * pp[i + 1] > list_sum(pp) THEN 1 ELSE 0 END) AS b
                        FROM pixv),
              kv AS (SELECT vid, list(key ORDER BY fi) AS k FROM (
                       SELECT vid, fi,
                              list_sum(list_transform(range(0, 16), j -> b[fi * 16 + j + 1] * (1 << j))) AS key
                       FROM bitsv) GROUP BY vid),
              pool AS (SELECT vid, kind, k FROM kia
                       UNION ALL SELECT kv.vid, 'video' AS kind, kv.k FROM kv),
              kills AS (SELECT DISTINCT b.vid, b.kind FROM pool a JOIN pool b
                          ON a.kind = b.kind AND a.vid < b.vid
                         AND (a.k[1] = b.k[1] OR a.k[2] = b.k[2] OR a.k[3] = b.k[3] OR a.k[4] = b.k[4])
                        WHERE bit_count(xor(CAST(a.k[1] AS BIGINT), CAST(b.k[1] AS BIGINT)))
                            + bit_count(xor(CAST(a.k[2] AS BIGINT), CAST(b.k[2] AS BIGINT)))
                            + bit_count(xor(CAST(a.k[3] AS BIGINT), CAST(b.k[3] AS BIGINT)))
                            + bit_count(xor(CAST(a.k[4] AS BIGINT), CAST(b.k[4] AS BIGINT))) <= 3),
              lvl AS (SELECT v.vid,
                        CASE WHEN s1.vid IS NULL THEN 0
                             WHEN ki.vid IS NOT NULL AND v.kind = 'image' THEN 1
                             WHEN ki.vid IS NOT NULL AND v.kind = 'audio' THEN 2
                             WHEN ki.vid IS NOT NULL AND v.kind = 'video' THEN 3
                             ELSE 4 END AS lvl
                      FROM var v LEFT JOIN s1 ON v.vid = s1.vid
                                 LEFT JOIN kills ki ON v.vid = ki.vid),
              st(stage_id, stage) AS (VALUES (1, 'exact'), (2, 'image'), (3, 'audio'), (4, 'clip'))
              SELECT st.stage_id AS stage_id, st.stage AS stage,
                     CAST(count(*) FILTER (WHERE lvl >= stage_id - 1) AS BIGINT) AS n_in,
                     CAST(count(*) FILTER (WHERE lvl = stage_id - 1) AS BIGINT) AS n_kill,
                     CAST(count(*) FILTER (WHERE lvl >= stage_id) AS BIGINT) AS n_out,
                     md5(string_agg(CASE WHEN lvl >= stage_id THEN CAST(vid AS VARCHAR) END, ',' ORDER BY vid)) AS admit_md5
              FROM st CROSS JOIN lvl
              GROUP BY st.stage_id, st.stage
              ORDER BY stage_id"""))
  )
}
