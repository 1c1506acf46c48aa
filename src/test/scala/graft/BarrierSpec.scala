package graft

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** What a curation barrier costs: [[ops.Checkpoints.materialize]] with a
  * reliable checkpoint dir is ONE job and leaves nothing cached, and the
  * backbone spreads an under-partitioned corpus over every core before
  * its first corpus-scale stage. */
class BarrierSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Jobs `body` starts, with its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftTestBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      GraftTestBridge.drainListeners(sc)
      (n.get, out)
    } finally sc.removeSparkListener(l)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("a reliable checkpoint is ONE job past the plan's shuffle stages " +
      "and caches nothing") {
    val base = frame("doc_id" -> (0L until 50L), "x" -> (0 until 50))
    val narrow = base.select(col("doc_id"), (col("x") * 2).as("y"))
    // one exchange: its map stage is a job of its own under AQE
    val shuffled = base.groupBy((col("x") % 7).as("k")).agg(count(lit(1)).as("n"))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val ckDir = java.nio.file.Files.createTempDirectory("barrier_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try for ((df, want) <- Seq(narrow -> 1, shuffled -> 2)) {
      val (jobs, out) = jobsOf(ops.Checkpoints.materialize(df))
      assert(jobs === want)
      assert(spark.sharedState.cacheManager.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
      assert(out.collect().toSet === df.collect().toSet)
      // the backbone's spread decision reads this count on every call
      assert(jobsOf(out.rdd.getNumPartitions)._1 === 0)
    } finally GraftTestBridge.clearCheckpointDir(spark.sparkContext)
  }

  test("the backbone spreads a one-partition corpus over defaultParallelism " +
      "partitions and keeps the same survivors") {
    ops.StageCache.clear()
    val cores = spark.sparkContext.defaultParallelism
    assume(cores > 1, "needs a multi-core session")
    val docs = Tables.documents(spark, dir)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    def stages(c: DataFrame) = ops.Pipeline.curateStages(c, evalSet).toMap
    try {
      val narrow = stages(corpus.coalesce(1))
      val wide = stages(corpus.repartition(cores + 1))
      assert(narrow("quality_kept").rdd.getNumPartitions === 1)
      assert(narrow("exact_kept").rdd.getNumPartitions === cores)
      // a wide corpus is left as it is
      assert(wide("exact_kept").rdd.getNumPartitions === cores + 1)
      for (stage <- narrow.keys)
        assert(ids(narrow(stage)) === ids(wide(stage)), stage)
      // exact survivors = one min-id keeper per distinct quality text
      val good = corpus.filter(ops.TextAnalysis.qualityExpr(col("text")) > 0.3)
      assert(ids(narrow("exact_kept")) ===
        ids(good.groupBy("text").agg(min("doc_id").as("doc_id"))))
    } finally ops.StageCache.clear()
  }
}
