package graft.streaming

import java.awt.image.BufferedImage
import javax.sound.sampled._

/** Decodable media payloads built in memory (no fixture files), with the
  * generators the media ingest specs use: a seeded RGB gradient image, a
  * two-tone quadrant image, a GIF clip of frames and a mono 16-bit WAV
  * with a 64-window on/off envelope.
  */
object MediaPayloads {

  def img(w: Int, h: Int, seed: Int): BufferedImage = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y, (x * 31 + y * 17 + seed * 101) & 0xffffff)
    im
  }

  def quadrantImage(w: Int, h: Int, quadrant: Int): BufferedImage = {
    val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
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

  def enc(im: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, fmt, bos)
    bos.toByteArray
  }

  def animatedGif(frames: Seq[BufferedImage]): Array[Byte] = {
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

  def envWav(frames: Int, rate: Float, amp: Double): Array[Byte] = {
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val data = new Array[Byte](frames * 2)
    for (i <- 0 until frames) {
      val w = (i.toLong * 64 / frames).toInt
      val a = if (((w >> 1) & 1) == 0) amp else amp / 20.0
      val v = (math.sin(i * 0.3) * a).toInt.toShort
      data(i * 2) = (v & 0xff).toByte
      data(i * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }
}
