package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.StoreLifecycle

/** The two gates every ingest-time dedup maintainer admits a micro-batch
  * through. A gate judges the batch against the fingerprint store's
  * layers from strictly earlier batches ([[StoreLifecycle.priorLayers]]),
  * resolves duplicates inside the batch in favour of the lowest-ordered row,
  * writes the admitted rows' fingerprints as the batch's store layer
  * (`__batch_id=<id>`, partition-replacing) and returns the admitted
  * rows; the caller writes its own out partitions from them.
  *
  * A failed write redelivers the whole batch under the same id. Because
  * the batch never sees its own layer, a replay after the store write
  * but before the out write admits what the first attempt admitted, and
  * both writes converge. Only fingerprint columns enter the store.
  */
object IngestGate {

  private val Layer = "__batch_id"

  /** Exact-key gate: drop each row whose `key` an earlier batch stored,
    * keep the minimum-`order` row per remaining key, and store the kept
    * rows' `stored` columns.
    */
  def exact(rows: DataFrame, batchId: Long, storeDir: String, key: String,
      order: String, stored: Seq[String]): DataFrame = {
    val in = rows.persist()
    def layer(df: DataFrame) = df.select(stored.map(col) :+ lit(batchId).as(Layer): _*)
    val prior = StoreLifecycle.priorLayers(in.sparkSession, storeDir, batchId,
      layer(in).schema).select(col(key))
    val fresh = in.join(prior, Seq(key), "left_anti")
    val keepers = fresh.groupBy(col(key)).agg(min(col(order)).as(order))
    val kept = fresh.join(keepers, Seq(key, order), "left_semi")
      .select(in.columns.map(col): _*) // a USING join puts the keys first
      .localCheckpoint() // sever lineage before the writes
    in.unpersist()
    StoreLifecycle.replacePartitions(layer(kept), storeDir, Layer)
    kept
  }

  /** Banded gate over the fingerprint column `fp` of rows keyed by the
    * long `id`: `bands` (an LSH banding of `fp`, e.g.
    * `TextFunctions.minhashBands`) explodes to (band, `key`) rows; a row
    * is dropped when `similar(fp, other)` holds against a stored
    * fingerprint sharing a band key, or against a lower-id batchmate that
    * itself survived the store (greedy, one level: chains resolve per
    * batch, not transitively). The store keeps (band, `key`, id, fp).
    */
  def banded(rows: DataFrame, batchId: Long, storeDir: String, id: String,
      fp: String, bands: Column, key: String)
      (similar: (Column, Column) => Column): DataFrame = {
    val in = rows.persist()
    def bandRows(df: DataFrame) = df.select(col(id), col(fp), explode(bands).as("bb"))
      .select(col(id), col(fp), col("bb.band"), col(s"bb.$key"))
    def layer(df: DataFrame) = bandRows(df)
      .select(col("band"), col(key), col(id), col(fp), lit(batchId).as(Layer))
    val bb = bandRows(in)
    val store = StoreLifecycle.priorLayers(in.sparkSession, storeDir, batchId,
        layer(in).schema)
      .select(col("band"), col(key), col(id).as("old_id"), col(fp).as("old_fp"))
    def matched(pairs: DataFrame) = pairs.distinct()
      .filter(similar(col(fp), col("old_fp"))).select(col(id)).distinct()
    val vsStore = matched(bb.join(store, Seq("band", key))
      .filter(col(id) =!= col("old_id"))
      .select(col(id), col(fp), col("old_fp")))
    val survivors = bb.join(vsStore.withColumnRenamed(id, "dead"),
        col(id) === col("dead"), "left_anti")
    val vsBatch = matched(survivors.as("x").join(survivors.as("y"),
        col("x.band") === col("y.band") && col(s"x.$key") === col(s"y.$key") &&
          col(s"x.$id") > col(s"y.$id"))
      .select(col(s"x.$id").as(id), col(s"x.$fp").as(fp), col(s"y.$fp").as("old_fp")))
    val dropped = vsStore.unionAll(vsBatch).distinct()
    val kept = in.join(dropped, Seq(id), "left_anti")
      .select(in.columns.map(col): _*) // a USING join puts the keys first
      .localCheckpoint() // sever lineage before the writes
    in.unpersist()
    StoreLifecycle.replacePartitions(layer(kept), storeDir, Layer)
    kept
  }
}
