package graft

import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans for selected queries — the iterate-on-
  * the-plan loop (scan pushdown, broadcast choices, codegen spans).
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q02_project_filter", "q14_join_nway_revenue",
        "q15_semi_join", "x03_minhash_lsh", "x10_knn_bruteforce", "x13_window_tumbling",
        "q29_rank_dense", "q37_take_positions", "x28_kmeans_ivf", "x30_neardup_clusters",
        "x34_range_join", "x37_bucketed_join")
    val spark = GraftConf.localProfile(SparkSession.builder(), 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
