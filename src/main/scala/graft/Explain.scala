package graft

/** Plan auditor: prints the formatted physical plan of the named queries
  * (or all), for pushdown/broadcast/codegen review. Usage:
  *   sbt "runMain graft.Explain sfDir q1_agg q_join_star"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq
    val spark = GraftSession.builder(GraftSession.cpus("4")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
