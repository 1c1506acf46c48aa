package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Stats.d38

/** Skew mitigation helpers (100 TB design rule: a handful of hot keys must
  * not serialize onto one reducer).
  *
  * AQE's skew-join splitting handles most cases automatically
  * (`spark.sql.adaptive.skewJoin.enabled`); these are the explicit forms
  * for aggregations and for joins whose skew AQE can't see (e.g. building
  * on top of custom keys).
  */
object Skew {

  /** Deterministic per-row salt, derived from row CONTENT (xxhash64 over
    * all columns) — never from partition/attempt state. A recomputed task
    * (fault recovery, speculative retry) assigns identical salts, so no
    * row can be double-counted or lost across the salted shuffle
    * (spark_partition_id/monotonically_increasing_id would both change on
    * recomputation). Exact duplicate rows share a salt and spread only
    * across distinct payloads — acceptable: salting targets hot KEYS, and
    * real wide rows carry distinguishing columns.
    */
  private def contentSalt(df: DataFrame, saltBuckets: Int) =
    pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(saltBuckets.toLong))

  /** Two-phase salted aggregation: partial aggregate on (keys, salt) —
    * spreading a hot key over `saltBuckets` reducers — then final
    * aggregate on keys. The pattern works for any algebraic aggregate
    * expressed as a (partial, merge) pair; this is the count form.
    */
  def saltedCount(df: DataFrame, keys: Seq[String], saltBuckets: Int,
      out: String = "n"): DataFrame = {
    val salted = df.withColumn("_salt", contentSalt(df, saltBuckets))
    salted
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(count(lit(1)).as("_partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).as(out))
  }

  /** Salted equi-join for a skewed large side: the small side is
    * replicated `saltBuckets` times (explode), the large side gets a
    * deterministic salt, and the join key becomes (key, salt) — a hot key
    * now lands on `saltBuckets` reducers. Result rows are identical to the
    * unsalted join.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    val saltedLarge = large.withColumn("_salt", contentSalt(large, saltBuckets))
    val replicatedSmall = small.withColumn("_salt",
      explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    saltedLarge.join(replicatedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Key-distribution audit for a prospective join/groupBy key — the
    * "should I salt this" readout the helpers above act on. ONE row:
    * `key_col, n_rows, n_keys, max_key_n, hot_key, top_share, gini` —
    * the hottest key (ties broken by key value, deterministically), its
    * share of all rows, and the exact Gini coefficient of the key
    * frequencies: 0 = perfectly uniform, → 1 = one key owns the table.
    *
    *   gini = (2·Σ pos_i·n_i − (K+1)·N) / (K·N)
    *
    * over frequencies sorted ascending by (n, key) — a total order, so
    * positions are unambiguous and both engines rank identically. All
    * moments are exact DECIMAL(38,0) integers (the Stats convention);
    * one double division at the end, rounded 6.
    *
    * Scale: the frequency table is ONE map-side-combined shuffle; the
    * position column comes from Ranking.withGlobalRanks' DECOMPOSED
    * global rank (range partition + per-bucket window + O(partitions)
    * offsets), never a single-partition global window — the audit of a
    * billion-key corpus must not itself serialize on one task.
    */
  def keySkewAudit(df: DataFrame, keyCol: String): DataFrame = {
    val freq = df.groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("_n"))
    val ranked = Ranking.withGlobalRanks(freq,
      Seq("_n" -> true, "_k" -> true), rankCol = "_pos", denseCol = "_dd")
    val kn = d38(col("n_keys")) * d38(col("n_rows"))
    ranked.agg(
        sum(col("_n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("_n")).as("max_key_n"),
        max(struct(col("_n"), col("_k"))).as("_hot"),
        sum(d38(col("_pos")) * d38(col("_n"))).as("_s"))
      .select(lit(keyCol).as("key_col"), col("n_rows"), col("n_keys"),
        col("max_key_n"),
        col("_hot").getField("_k").cast("string").as("hot_key"),
        round(col("max_key_n").cast("double") /
          col("n_rows").cast("double"), 6).as("top_share"),
        round((lit(2).cast("decimal(38,0)") * col("_s") -
          d38(col("n_keys") + 1) * d38(col("n_rows"))).cast("double") /
          kn.cast("double"), 6).as("gini"))
  }
}
