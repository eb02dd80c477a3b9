package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** The perceptual ingest gate end-to-end: byte-different re-encodes and
  * mild rescales of an already-ingested image are dropped across
  * micro-batches (store hit) and within one (greedy batchmate
  * resolution); structurally different images and non-image kinds are
  * admitted. Store holds only hash longs — pinned here by schema.
  */
class StreamingMediaDedupSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def img(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y, ((x * 31 + y * 17 + seed * 101) & 0xffffff))
    im
  }

  private def checker(w: Int, h: Int): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      im.setRGB(x, y, if ((x / 4 + y / 4) % 2 == 0) 0xffffff else 0)
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

  test("re-encodes and rescales drop across and within batches; distinct content admits") {
    val dir = graft.sources.Scratch.tempDir("graft_mediadedup")
    val in = MemoryStream[(Long, String, Array[Byte])]
    val media = in.toDF().toDF("media_id", "kind", "bytes")
    val q = StreamingMediaDedup.start(media, s"$dir/store", s"$dir/out",
      s"$dir/ckpt")

    val a = img(64, 48, seed = 5)
    // batch 1: the original + an unrelated audio payload
    in.addData((1L, "image", enc(a, "png")), (50L, "audio", Array[Byte](1, 2, 3)))
    q.processAllAvailable()
    // batch 2: BMP re-encode of A (store hit, hamming 0), mild rescale of
    // A (store hit within radius), a structurally different image (kept),
    // plus a batchmate re-encode of THAT image (greedy in-batch drop)
    in.addData(
      (2L, "image", enc(a, "bmp")),
      (3L, "image", enc(rescaled(a, 58, 44), "png")),
      (4L, "image", enc(checker(64, 48), "png")),
      (5L, "image", enc(checker(64, 48), "bmp")))
    q.processAllAvailable()
    q.stop()

    val kept = spark.read.parquet(s"$dir/out")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 50L), s"got $kept")
    // the store carries ONLY hash/key/id longs — payloads never persist
    val storeTypes = spark.read.parquet(s"$dir/store").schema.fields
      .map(_.dataType.typeName).toSet
    assert(!storeTypes.contains("binary") && !storeTypes.contains("string"),
      s"store schema leaked payload types: $storeTypes")
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

  test("streaming clip dedup: rescaled clip drops at ingest, reordered and fresh admit") {
    val frames = Seq(0, 1, 2, 3).map(q => quadrantImage(64, 48, q))
    val dir = graft.sources.Scratch.tempDir("graft_clipdedup")
    // batch 0: the original clip
    StreamingClipDedup.dedupBatch(spark,
      Seq((1L, "video", animatedGif(frames)))
        .toDF("media_id", "kind", "bytes"),
      0L, s"$dir/store", s"$dir/out", maxHamming = 7)
    // batch 1: a rescaled re-encode (store hit — dropped), the same
    // frames REVERSED (order-aware hash — admitted), and a passthrough
    // other kind
    StreamingClipDedup.dedupBatch(spark,
      Seq(
        (2L, "video", animatedGif(frames.map(f =>
          rescaled(f, 50, 38)))),
        (3L, "video", animatedGif(frames.reverse)),
        (50L, "audio", Array[Byte](1, 2, 3)))
        .toDF("media_id", "kind", "bytes"),
      1L, s"$dir/store", s"$dir/out", maxHamming = 7)
    val kept = spark.read.parquet(s"$dir/out")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 50L), s"got $kept")
  }

  test("crash between store write and out write recovers on replay") {
    // The PerceptualDedupCore failure mode the `__batch_id < batchId`
    // store filter exists for: batch 1 dies after writing its band rows
    // to the store but before writing admitted media to out. The replay
    // must re-admit batch 1's fresh image — with an unfiltered store
    // read it would collide with its OWN prior rows, admit nothing, and
    // the empty dynamic overwrite would leave the image lost for good.
    import org.apache.spark.sql.functions.col
    val dir = graft.sources.Scratch.tempDir("graft_mediadedup_c")
    def batchDf(rows: (Long, String, Array[Byte])*) =
      rows.toDF("media_id", "kind", "bytes")
    StreamingMediaDedup.dedupBatch(spark,
      batchDf((1L, "image", enc(img(64, 48, seed = 5), "png"))),
      0L, s"$dir/store", s"$dir/out", maxHamming = 7)
    StreamingMediaDedup.dedupBatch(spark,
      batchDf((2L, "image", enc(checker(64, 48), "png"))),
      1L, s"$dir/store", s"$dir/out", maxHamming = 7)
    def delRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(delRec)); f.delete(); ()
    }
    delRec(new java.io.File(s"$dir/out/__batch_id=1")) // the simulated crash
    StreamingMediaDedup.dedupBatch(spark,
      batchDf((2L, "image", enc(checker(64, 48), "png"))),
      1L, s"$dir/store", s"$dir/out", maxHamming = 7)
    val kept = spark.read.parquet(s"$dir/out")
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"replay after crash lost media: $kept")
    // and the replayed batch still DEDUPES against genuinely earlier
    // batches: a re-encode of batch 0's image stays dropped on replay
    StreamingMediaDedup.dedupBatch(spark,
      batchDf((3L, "image", enc(img(64, 48, seed = 5), "bmp"))),
      2L, s"$dir/store", s"$dir/out", maxHamming = 7)
    delRec(new java.io.File(s"$dir/out/__batch_id=2"))
    StreamingMediaDedup.dedupBatch(spark,
      batchDf((3L, "image", enc(img(64, 48, seed = 5), "bmp"))),
      2L, s"$dir/store", s"$dir/out", maxHamming = 7)
    val kept2 = spark.read.parquet(s"$dir/out")
      .filter(col("__batch_id") === 2).count()
    assert(kept2 == 0L, "replayed batch admitted a known re-encode")
  }
}
