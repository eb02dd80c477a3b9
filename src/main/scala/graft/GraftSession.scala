package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession builder, shared by the mains (Bench,
  * Verify, Profile, Explain) and the lake jobs, so the plans Explain
  * prints and Verify fingerprints are the plans Bench times.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** `master` (default `local[cpus]`) with one shuffle partition per core,
    * UTC session time, AQE with partition coalescing, a 64 MB broadcast
    * threshold (local mode: a generous budget keeps dim joins
    * shuffle-free), the injected function/strategy path a cluster would
    * run ([[functions.GraftExtensions]]) and no UI.
    */
  def builder(cpus: String, master: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
