package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.StoreLifecycle

/** The lake job around [[StreamingTopK]] — closes the "library exists but
  * no job uses it" gap: a runnable recipe that maintains a queryable lake
  * table of CURRENT top-k summaries, one row set per group, from an
  * unbounded item stream.
  *
  * Shape: stream → space-saving transformWithState (one shuffle on the
  * summary key, O(capacity) RocksDB state per key) → foreachBatch sink
  * that upserts each updated group's summary into a group-partitioned
  * parquet dir. The sink follows the repo's idempotent-sink convention
  * (StoreLifecycle.replacePartitions, same as StreamingNearDedup's store
  * and Pipelines' merging sinks):
  *
  *  - each micro-batch REPLACES the partitions of exactly the groups it
  *    updated (`group=` hive partitions) — untouched groups keep their
  *    current summary;
  *  - `n_seen` is monotone per group, so within a batch the rows with
  *    max n_seen ARE the latest summary — older emissions in the same
  *    batch are discarded before the write;
  *  - a crash-replayed batch re-emits the same summaries (the space-
  *    saving fold is replay-deterministic) and overwrites the same
  *    partitions with the same bytes — replays CONVERGE, never duplicate
  *    (pinned by StreamingTopKJobSpec).
  *
  * A reader gets the current heavy hitters for group g with a partition-
  * pruned `spark.read.parquet(outDir).filter(col("group") === g)` — no
  * stream interaction, the Athena-style consumption seam the reference
  * delegates its lake to.
  */
object StreamingTopKJob {

  /** Reduce a batch of summary emissions to each group's LATEST summary
    * and overwrite just those groups' lake partitions. Public because the
    * replay spec drives it directly (the same seam dedupBatch exposes on
    * StreamingNearDedup).
    */
  def upsertSummaries(spark: SparkSession, batch: DataFrame,
      outDir: String): Unit = {
    if (!batch.isEmpty) {
      val latest = batch
        .withColumn("__max_seen", max(col("n_seen")).over(
          Window.partitionBy(col("group"))))
        .filter(col("n_seen") === col("__max_seen"))
        .drop("__max_seen")
      StoreLifecycle.replacePartitions(latest, outDir, "group")
    }
  }

  /** Wire a (group, item) event stream through space-saving top-k into a
    * group-partitioned summary table at `outDir`. Requires the RocksDB
    * state-store provider (transformWithState).
    */
  def start(events: Dataset[StreamingTopK.TopKEvent], capacity: Int,
      outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StoreLifecycle.maintain(StreamingTopK(events, capacity).toDF(), checkpoint) {
      (batch, _) => upsertSummaries(batch.sparkSession, batch, outDir)
    }
}
