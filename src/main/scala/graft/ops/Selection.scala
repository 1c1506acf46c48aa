package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact order statistics at scale WITHOUT a global sort: iterative
  * histogram refinement (the classic distributed selection algorithm —
  * Blum et al.'s selection generalized to passes over bucketed counts).
  *
  * Each round partitions the live value range into ≤ `buckets` integer
  * bands, counts one map-side-combined histogram (a ≤ buckets-row
  * collect — the documented k-means bounded-collect posture), descends
  * into the band containing the kth value, and repeats; a 64-bit range
  * needs ≤ ⌈64/log2(buckets)⌉ = 7 passes. Contrast with x27's GK
  * sketch (one pass, approximate): this is multi-pass and EXACT.
  */
object Selection {

  /** Shared refinement core over (_v, _w) rows: the value at cumulative
    * weight `kOfTotal(W)` in ascending-value order — i.e. the smallest
    * v whose ≤-v weight reaches k. Returns (W, k, value) — pure-integer
    * passes, deterministic on any engine, any partitioning.
    */
  private def kthCore(valsIn: DataFrame, kOfTotal: Long => Long,
      buckets: Int): (Long, Long, Long) = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    // persisted for the passes: the projected two columns are cached
    // once (spilling to disk beyond memory) instead of re-scanning the
    // source per refinement round — the recompute-vs-cache tradeoff
    // documented for a fat source table; unpersisted before returning
    val vals = Checkpoints.scratch(valsIn)
    try {
      val head = vals.agg(sum(col("_w")).as("n"), min(col("_v")).as("lo"),
        max(col("_v")).as("hi")).collect()(0)
      require(!head.isNullAt(0), "selection needs at least one row")
      val n = head.getLong(0)
      var lo = head.getLong(1)
      var hi = head.getLong(2)
      val k0 = kOfTotal(n)
      require(k0 >= 1 && k0 <= n, s"k = $k0 outside [1, $n]")
      var k = k0
      // invariant: the target value of the full column is the one at
      // remaining-weight k within [lo, hi]; each pass narrows ~x buckets
      while (hi - lo + 1 > buckets) {
        val width = (hi - lo) / buckets + 1
        val hist = vals.filter(col("_v").between(lo, hi))
          // integer band index (Column./ would be a DOUBLE division)
          .groupBy(expr(s"(_v - ${lo}L) div ${width}L").as("_b"))
          .agg(sum(col("_w")).as("_c"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var rem = k
        var chosen = -1L
        for ((b, c) <- hist if chosen < 0) {
          if (rem <= c) chosen = b else rem -= c
        }
        k = rem
        val newLo = lo + chosen * width
        hi = math.min(hi, newLo + width - 1)
        lo = newLo
      }
      val finale = vals.filter(col("_v").between(lo, hi))
        .groupBy(col("_v")).agg(sum(col("_w")).as("_c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var rem = k
      var value = lo
      for ((v, c) <- finale if rem > 0) {
        value = v
        rem -= c
      }
      (n, k0, value)
    } finally vals.unpersist()
  }

  /** kth-smallest (1-indexed) of an integer column; k defaults to the
    * lower median (n+1) div 2. Returns ONE row `(n, k, value)` built
    * driver-side from pure-integer passes.
    */
  def exactKth(df: DataFrame, valueCol: Column,
      kOfN: Long => Long = n => (n + 1) / 2,
      buckets: Int = 1024): DataFrame = {
    val vals = df.select(valueCol.cast("bigint").as("_v"),
        lit(1L).as("_w"))
      .filter(col("_v").isNotNull)
    val (n, k0, value) = kthCore(vals, kOfN, buckets)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, k0, value)).toDF("n", "k", "value")
  }

  /** WEIGHTED lower median of an integer column under non-negative
    * integer weights: the smallest v whose cumulative ≤-v weight
    * reaches (W+1) div 2 — e.g. the quantity-weighted median unit
    * price, where every physical unit votes instead of every order
    * line. Same refinement machinery as [[exactKth]] with weight sums
    * for counts; zero-weight rows are inert and dropped up front.
    * Returns ONE row `(total_weight, k, value)`.
    */
  def weightedMedian(df: DataFrame, valueCol: Column, weightCol: Column,
      buckets: Int = 1024): DataFrame = {
    val vals = df.select(valueCol.cast("bigint").as("_v"),
        weightCol.cast("bigint").as("_w"))
      .filter(col("_v").isNotNull && col("_w").isNotNull && col("_w") > 0)
    val (w, k0, value) = kthCore(vals, t => (t + 1) / 2, buckets)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((w, k0, value)).toDF("total_weight", "k", "value")
  }

  /** 2-D skyline (Pareto frontier): the rows not dominated under
    * (maximize `maxCol`, minimize `minCol`) — q dominates p iff
    * q.max ≥ p.max ∧ q.min ≤ p.min with one strict. Ties on the
    * frontier are all kept, with their multiplicity. Rows:
    * `(max_v, min_v, n_rows)`, the frontier in decreasing max_v.
    *
    * Scale: ONE corpus reduce to the (max, min) cell grid; the
    * frontier scan is an exclusive prefix-min window over ≤ |distinct
    * max| rows — a BOUNDED single-partition window (the x153
    * span-bounded convention), never over corpus rows.
    */
  def skyline2d(df: DataFrame, maxCol: Column, minCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.select(maxCol.cast("bigint").as("max_v"),
        minCol.cast("bigint").as("min_v"))
      .filter(col("max_v").isNotNull && col("min_v").isNotNull)
      .groupBy(col("max_v"), col("min_v"))
      .agg(count(lit(1)).as("n_rows"))
    val wm = Window.partitionBy(col("max_v"))
    val lv = cells.withColumn("_best", min(col("min_v")).over(wm))
      .filter(col("min_v") === col("_best"))
    val wp = Window.orderBy(col("max_v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    lv.withColumn("_pm", min(col("min_v")).over(wp))
      .filter(col("_pm").isNull || col("min_v") < col("_pm"))
      .select(col("max_v"), col("min_v"), col("n_rows"))
  }
}
