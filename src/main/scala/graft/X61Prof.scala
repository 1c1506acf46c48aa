package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops._

/** Stage-level profile of the x61 appendCurated chain (round-20): time
  * each materialization barrier separately so optimization effort lands
  * on the measured bottleneck, not the suspected one (guide §1).
  * Usage: runMain graft.X61Prof [sfDir]
  */
object X61Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftConf.localProfile(SparkSession.builder(), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir)
    docs.count()
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)

    def t[A](label: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = f
      println(f"[x61] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    for (rep <- 1 to 2) {
      StageCache.clearTransient()
      println(s"[x61] --- rep $rep ---")
      val good = newDocs.filter(
        TextAnalysis.qualityExpr(col("text")) > 0.3)
      val corpusDigests = t("corpusDigests") {
        Checkpoints.materialize(
          corpus.select(md5(col("text")).as("_ch")).distinct())
      }
      val freshExact = Checkpoints.scratch(
        good.withColumn("_h", md5(col("text")))
          .join(corpusDigests, col("_h") <=> col("_ch"), "left_anti"))
      val batchKeep = freshExact.groupBy(col("_h"))
        .agg(min(col("doc_id")).as("_keeper"))
      val exact = t("exact (quality+anti+keeper)") {
        try Checkpoints.materialize(
          freshExact.join(batchKeep, "_h")
            .filter(col("doc_id") === col("_keeper"))
            .drop("_h", "_keeper", Checkpoints.ScratchCol))
        finally freshExact.unpersist()
      }
      val bandState = t("bandState (corpusBandDocs)") {
        Checkpoints.materialize(
          Dedup.corpusBandDocs(corpus, bands = 8, rowsPerBand = 2))
      }
      if (rep == 2 && sys.env.contains("X61_EXPLAIN")) {
        println("[x61] ===== vsCorpus lazy plan =====")
        Dedup.bandKeyReject(exact, bandState, bands = 8, rowsPerBand = 2,
          minJaccard = Some(0.5)).explain("formatted")
      }
      val vsCorpus = t("vsCorpus (verified reject)") {
        Checkpoints.materialize(
          Dedup.bandKeyReject(exact, bandState, bands = 8, rowsPerBand = 2,
            minJaccard = Some(0.5)))
      }
      val nearDrop = Dedup.clusterPairs(
          Dedup.verifiedCandidatePairs(vsCorpus, bands = 8,
            rowsPerBand = 2, minJaccard = 0.5), rounds = 3)
        .filter(col("cluster") =!= col("doc_id"))
        .select(col("doc_id"))
      val deduped = t("within-batch dedup") {
        Checkpoints.materialize(
          vsCorpus.join(nearDrop, Seq("doc_id"), "left_anti"))
      }
      val contaminated = Dedup.contamination(deduped, evalSet, shingleN = 5)
        .filter(col("n_shared") > 4L)
        .select(col("doc_id"))
      t("contamination + final count") {
        deduped.join(contaminated, Seq("doc_id"), "left_anti").count()
      }
    }
    spark.stop()
  }
}
