package graft.sources

import graft.SparkSpec
import graft.streaming.StreamingNbTrain
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two failures the one store lifecycle mends, each pinned through
  * the public store APIs:
  *
  *  1. an in-place fold that dies between its move-aside and its
  *     rename-in leaves the only copy of the store in `<root>.old-*`;
  *     the next append and fold must put it back, not sweep it away;
  *  2. `StreamingNbTrain.writeBatch` must replace its layer with a
  *     per-writer dynamic overwrite and never touch the caller's
  *     session conf, not even for the duration of the write.
  */
class StoreRecoverySpec extends SparkSpec {

  CrashFs.register(spark)

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select("doc_id", "text", "source")
  private def slice(i: Int) = docs.filter(col("doc_id") % 3 === i)

  private def root(): String =
    "crashfs://" + Scratch.tempDir("graft_recovery") + "/store"

  private def docIds(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).distinct().collect().map(_.getLong(0)).toSet

  private def interruptedFold(append: (DataFrame, Long, String) => Unit,
      compact: String => Unit, table: String): Unit = {
    val dir = root()
    (0 to 2).foreach(i => append(slice(i), i.toLong, dir))
    val before = docIds(spark.read.parquet(s"$dir/$table"))
    val e = intercept[Throwable] {
      CrashFs.crashAt((op, src, dst) => op == "rename" &&
          src.getName.startsWith("store.compact-") && dst.getName == "store") {
        compact(dir)
      }
    }
    assert(CrashFs.crashed(e), e)
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new Path(dir)), "the crash must leave the root moved aside")
    // restart: the in-flight newest batch is replayed, then folded again
    append(slice(2), 2L, dir)
    compact(dir)
    val after = docIds(spark.read.parquet(s"$dir/$table"))
    assert(after == before, s"lost ${(before -- after).size} of ${before.size} docs")
  }

  test("an in-place fold interrupted between move-aside and rename-in loses no layer") {
    interruptedFold(
      (b, id, dir) => IncrementalSignatureStore.appendBatch(spark, b, id, dir, 16, 4),
      dir => IncrementalSignatureStore.compact(spark, dir), "arrays")
    interruptedFold(
      (b, id, dir) => IncrementalExactSpanStore.appendBatch(spark, b, id, dir, 50),
      dir => IncrementalExactSpanStore.compact(spark, dir), "wins")
  }

  test("StreamingNbTrain.writeBatch leaves the session conf unchanged, during the write too") {
    val dir = root()
    val before = spark.conf.getOption(OverwriteMode)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    CrashFs.withHook { (op, p, _) =>
      if (op == "mkdirs" && p.toString.contains("/store/counts"))
        seen.synchronized(seen += spark.conf.getOption(OverwriteMode))
    } {
      StreamingNbTrain.writeBatch(slice(0), 0L, dir)
      StreamingNbTrain.writeBatch(slice(1), 1L, dir)
    }
    assert(seen.nonEmpty, "the hook must observe the layer writes")
    assert(seen.forall(_ == before), s"session conf during the writes: ${seen.distinct}")
    assert(spark.conf.getOption(OverwriteMode) == before)
    // the per-writer overwrite still replaces only the batch's own layer
    val layers = spark.read.parquet(s"$dir/counts").select("batch_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(layers == Set(0, 1))
  }
}
