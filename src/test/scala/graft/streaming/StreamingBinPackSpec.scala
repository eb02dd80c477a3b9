package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

/** Pins for the online first-fit bin packer: micro-batch slicing must
  * not move a single document (the prefix-determinism contract), the
  * fold must equal a plain in-memory online first-fit with the same
  * bounded-open-bins closing rule, and the maxOpen bound must actually
  * bound state while keeping every document placed exactly once.
  */
class StreamingBinPackSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // (doc_id, text) with word counts chosen to exercise fits, misses and
  // bin closing at cap 8, maxOpen 2
  private val docs: Seq[(Long, String)] = Seq(
    1L -> "a b c d e",        // 5
    2L -> "a b c d e f",      // 6 -> new bin
    3L -> "a b",              // 2 -> fits bin of 6 (0-id first-fit: 5+2=7? fits bin0)
    4L -> "a b c d e f g",    // 7 -> close fullest, new bin
    5L -> "a",                // 1
    6L -> "a b c d",          // 4
    7L -> "a b c",            // 3
    8L -> "a b c d e f g h",  // 8 (== cap)
    9L -> "a b",              // 2
    10L -> "a")               // 1

  private def mem(slices: Seq[Seq[(Long, String)]], cap: Long,
      maxOpen: Int): Seq[BinAssignment] = withRocksDBStateStoreSeq {
    val dir = graft.sources.Scratch.tempDir("graft_binpack")
    val in = MemoryStream[(Long, String)]
    val q = StreamingBinPack(in.toDF().toDF("doc_id", "text"), cap,
        hexPrefix = 1, maxOpen = maxOpen)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append).start()
    slices.foreach { s => in.addData(s); q.processAllAvailable() }
    q.stop()
    spark.read.parquet(s"$dir/out").as[BinAssignment]
      .collect().toSeq.sortBy(_.doc_id)
  }

  private def withRocksDBStateStoreSeq[A](f: => A): A = {
    var out: Option[A] = None
    withRocksDBStateStore { out = Some(f) }
    out.get
  }

  /** Plain in-memory online first-fit with the same closing rule. */
  private def replay(ds: Seq[(Long, Long)], cap: Long,
      maxOpen: Int): Seq[(Long, Long, Long)] = {
    def bucket(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(1)
    ds.groupBy { case (id, _) => bucket(id) }.toSeq.flatMap { case (_, bs) =>
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      var next = 0L
      bs.sortBy(_._1).map { case (id, n0) =>
        val n = math.min(n0, cap)
        val i = fills.indexWhere(_ + n <= cap)
        if (i >= 0) { fills(i) += n; (id, ids(i), fills(i)) }
        else {
          if (ids.size >= maxOpen) {
            val j = fills.indices.maxBy(k => (fills(k), -ids(k)))
            ids.remove(j); fills.remove(j)
          }
          ids += next; fills += n; next += 1L
          (id, next - 1L, n)
        }
      }
    }.sortBy(_._1)
  }

  test("slicing invariance: 1-batch, 2-batch and per-doc runs are bit-identical") {
    val one = mem(Seq(docs), cap = 8L, maxOpen = 2)
    val two = mem(Seq(docs.take(4), docs.drop(4)), cap = 8L, maxOpen = 2)
    val ten = mem(docs.map(Seq(_)), cap = 8L, maxOpen = 2)
    assert(one.nonEmpty && one == two && one == ten)
  }

  test("fold equals a plain in-memory online first-fit with the closing rule") {
    val got = mem(Seq(docs.take(3), docs.slice(3, 7), docs.drop(7)),
      cap = 8L, maxOpen = 2)
    val sized = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }
    val expect = replay(sized, cap = 8L, maxOpen = 2)
    assert(got.map(a => (a.doc_id, a.bin, a.fill_after)) == expect)
    // every doc placed exactly once; no bin ever overflows the cap
    assert(got.map(_.doc_id).distinct.size == docs.size)
    assert(got.forall(_.fill_after <= 8L))
  }

  test("restart continues from checkpointed bins — same rows as an unbroken run") {
    withRocksDBStateStore {
      val dir = graft.sources.Scratch.tempDir("graft_binpack_r")
      val in = MemoryStream[(Long, String)]
      def start() = StreamingBinPack(in.toDF().toDF("doc_id", "text"), 8L,
          hexPrefix = 1, maxOpen = 2)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode(OutputMode.Append).start()
      val q1 = start()
      in.addData(docs.take(5))
      q1.processAllAvailable()
      q1.stop()
      in.addData(docs.drop(5))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val restarted = spark.read.parquet(s"$dir/out").as[BinAssignment]
        .collect().toSeq.sortBy(_.doc_id)
      val unbroken = mem(Seq(docs.take(5), docs.drop(5)), cap = 8L, maxOpen = 2)
      assert(restarted == unbroken)
    }
  }

  test("maxOpen bounds concurrent bins; closing still packs every doc") {
    // 40 docs of 5 words at cap 8: nothing pairs (5+5>8), so bins close
    // constantly at maxOpen 2 — ids must keep increasing, docs all place
    val many = (100L until 140L).map(i => i -> "a b c d e")
    val got = mem(Seq(many), cap = 8L, maxOpen = 2)
    assert(got.size == many.size)
    assert(got.forall(_.fill_after == 5L))
    // per bucket, bin ids are dense 0..n-1 in doc arrival order
    got.groupBy(_.bucket).foreach { case (_, as) =>
      assert(as.sortBy(_.doc_id).map(_.bin) == (0L until as.size).toSeq)
    }
  }
}
