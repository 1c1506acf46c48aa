package graft

import org.apache.spark.sql.SparkSession

/** The cluster configuration profile this engine is designed against.
  * Local runs (tests, Verify, Bench) use local[N] with
  * shuffle.partitions=N; `scaleProfile` documents and applies the
  * settings that matter when the same plans run on a 1000-executor
  * cluster over ~100 TB.
  *
  * Every choice is load-bearing for plans in this repo:
  *  - AQE on: runtime coalescing of the 32→thousands partition gap,
  *    demotion of stale broadcasts, skew-join splitting (our salting
  *    helpers cover the cases AQE can't see).
  *  - shuffle.partitions sized ~2-3× total cores: every groupBy/join in
  *    the query surface shuffles on uniform hash/md5 keys, so partition
  *    count — not key skew — bounds parallelism.
  *  - files.maxPartitionBytes 256m: parquet scans feed codegen'd
  *    map stages (text hashing, vector arithmetic) that are CPU-bound;
  *    bigger splits amortize task startup without risking memory (all
  *    hot-path operators stream, nothing materializes a partition).
  *  - autoBroadcastJoinThreshold 64m: dimension tables (nation, region,
  *    centroids, band-key lists, interval sets) stay broadcast even at
  *    sf-thousands; fact-fact joins are bucketed (ops.Bucketing) or
  *    salted (ops.Skew).
  *  - parquet filter pushdown + column pruning are defaults we rely on
  *    (PLANS.md shows PushedFilters/ReadSchema for every scan-heavy
  *    query); listed here for completeness.
  *  - codegen.cache.maxEntries sized to the query surface (see
  *    [[CodegenCacheEntries]]).
  */
object GraftConf {

  /** Capacity of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A class evicted
    * from it is compiled again by Janino the next time a plan generates
    * the same code, on the driver and in the executor task that needs it,
    * so a warm query whose classes other queries pushed out pays its
    * codegen again. One cold pass over all 313 registered queries on
    * sf0.01 (collected, with an unbounded cache) generates 5016 distinct
    * classes; the 55 interactive queries (q01–q55) alone generate 508. A
    * second pass generates 218 more, whose code differs between runs.
    * 8192 holds the whole surface with room to spare. The cache fills only
    * with classes actually generated, so a process that runs few queries
    * holds few; in a long-lived one the bound caps the generated classes
    * kept in metaspace.
    *
    * A static conf: Spark reads it once per JVM, when the code generator
    * builds its cache, so only the first session of a process sets it.
    */
  val CodegenCacheEntries = 8192

  def scaleProfile(b: SparkSession.Builder, totalCores: Int): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      // reliable checkpoints (Checkpoints.materialize with a checkpoint dir)
      // are never deleted by default — a long-lived curation job would
      // accumulate them unboundedly; this cleans each checkpoint when its
      // RDD is garbage-collected, matching the localCheckpoint lifecycle
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", (totalCores * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Local profile used by Verify/Bench/tests: same semantics, sized for
    * one machine. */
  def localProfile(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
}
