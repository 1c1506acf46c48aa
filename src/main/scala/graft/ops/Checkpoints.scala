package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** Materialization boundary for load-bearing intermediate pipeline state
  * (LSH candidate-pair edge lists, cluster labels): executes the plan
  * eagerly and truncates lineage, choosing the storage tier by what the
  * session has configured.
  *
  *   - With a RELIABLE checkpoint dir configured
  *     (`spark.sparkContext.setCheckpointDir(...)` — HDFS/object store in
  *     production), uses `Dataset.checkpoint()`: the materialized blocks
  *     survive executor loss, the right default for a 100 TB run where a
  *     single lost executor between stages must not become an
  *     unrecoverable job failure (lineage is truncated, so nothing can be
  *     recomputed from upstream).
  *   - Otherwise falls back to `localCheckpoint()`: executor-local,
  *     unreplicated blocks — the low-latency local-mode/dev path, where
  *     "executor loss" means the whole JVM died anyway.
  *
  * Both forms are eager, so callers can unpersist their inputs immediately
  * after this returns (the cache-lifecycle discipline the dedup stages
  * rely on).
  *
  * Lifecycle: reliable checkpoint FILES are not deleted by Spark unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * ([[graft.GraftConf.scaleProfile]] sets it) — without it a long-lived
  * session accumulates checkpoint dirs per invocation.
  */
object Checkpoints {

  /** Session-conf flag a CORRECTNESS run sets (graft.Verify does): when
    * `true`, [[materialize]] REFUSES the localCheckpoint fallback and
    * throws if no reliable checkpoint dir is configured. This is the
    * regression gate for the round-13 incident class (PLANS.md): a
    * contended full sweep once produced an inconsistent read from
    * executor block storage via the localCheckpoint path — the fix was
    * file-backed checkpoints, and this flag makes any future code path
    * that loses the checkpoint dir fail FAST instead of silently
    * reopening that window.
    */
  val RequireReliableKey = "graft.checkpoints.requireReliable"

  /** Column [[scratch]] adds; callers drop it from what they return. */
  val ScratchCol = "_scratch"

  /** Persists `df` as one call's scratch state (MEMORY_AND_DISK) and
    * returns the persisted frame; the caller unpersists it when done.
    * Spark's CacheManager shares one cache entry among equal plans, so two
    * concurrent calls over equal inputs would share an entry and the first
    * caller's `unpersist` would clear it while the other still reads it.
    * A per-call literal column ([[ScratchCol]]) keeps each call's plan,
    * and so its cache entry, its own. The tag is a STRING: generated code
    * inlines a numeric literal's value but reads a string literal from
    * its reference array, so per-call tags still hit the codegen cache.
    */
  def scratch(df: DataFrame): DataFrame =
    df.withColumn(ScratchCol, lit(scratchIds.incrementAndGet().toString))
      .persist(StorageLevel.MEMORY_AND_DISK)

  private val scratchIds = new java.util.concurrent.atomic.AtomicLong

  def materialize(df: DataFrame): DataFrame = {
    val out = materialize0(df)
    // ownership tagging (StageCache eviction hygiene): when this
    // materialize runs inside a memoized stage, the checkpointed RDD
    // becomes disposable with that cache entry
    StageCache.registerOwned(out)
    out
  }

  private def materialize0(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // ONE job: eager Dataset.checkpoint calls RDD.doCheckpoint on the
      // plan's RDD directly, so the checkpoint write IS the execution —
      // no separate action to compute the plan first, and so nothing for
      // a persist in front of it to save (a persist here would only
      // build an in-memory copy no reader ever touches)
      df.checkpoint()
    } else if (df.sparkSession.conf
        .getOption(RequireReliableKey).contains("true")) {
      throw new IllegalStateException(
        "Checkpoints.materialize: this session requires RELIABLE " +
          "checkpoints (" + RequireReliableKey + "=true) but no " +
          "checkpoint dir is set — call sparkContext.setCheckpointDir " +
          "before running the correctness sweep (round-13 incident gate)")
    } else df.localCheckpoint()
}
