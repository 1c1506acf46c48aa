package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Stats.d38
import org.apache.spark.sql.types.NumericType

/** Dataset profiling and distribution audits — the data-quality checks a
  * pipeline runs before trusting a new drop: per-column null/distinct
  * profiles and a Benford first-digit audit for monetary columns
  * (fabricated or truncated amounts drift from Benford's law; the audit
  * is the standard forensic screen).
  */
object Profiling {

  /** Benford first-digit shares of 6-decimal log10(1 + 1/d), inlined
    * identically into the Spark plan and the SQL oracle so neither
    * engine evaluates log10 at query time (libm is not bit-stable). */
  val BenfordExpected: Seq[(Int, Double)] = (1 to 9).map { dd =>
    dd -> BigDecimal(math.log10(1.0 + 1.0 / dd))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** First-significant-digit distribution of a positive monetary column
    * vs Benford's law. Per digit 1-9: `digit, n, share, expected, dev`
    * (share round 6, dev = share − expected round 6; digits absent from
    * the data produce no row — the consumer left-joins the 1-9 grid).
    *
    * The digit is extracted via exact INTEGER formatting: cents =
    * round(value·100) as BIGINT (exact for 2-dp money doubles), then the
    * first character of the integer's decimal string — both engines
    * format integers identically, unlike doubles (shortest-roundtrip vs
    * Java's legacy Double.toString) and unlike floor(log10) (libm).
    * Non-positive values are excluded (Benford applies to positive
    * magnitudes), as are positives below half a cent — they'd round to 0
    * cents, outside the 1-9 first-digit domain.
    *
    * Scale: map-only digit extraction + a 9-group aggregate with
    * map-side combine; the total joins back as a one-row broadcast.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    // positives below half a cent round to 0 cents — no leading digit in
    // the 1-9 domain, so they are excluded from the denominator too (a
    // digit-0 row would silently drop from a 1-9 grid left-join while
    // still deflating every share)
    val cents = round(col(valueCol).cast("double") * 100).cast("bigint")
    val digits = df.filter(col(valueCol) > 0)
      .select(cents.as("_c")).filter(col("_c") >= 1)
      .select(substring(col("_c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = broadcast(digits.agg(sum(col("n")).as("_tot")))
    val expected = BenfordExpected.foldLeft(lit(null).cast("double")) {
      case (acc, (dd, e)) => when(col("digit") === dd, e).otherwise(acc)
    }
    digits.crossJoin(total)
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("_tot").cast("double"), 6)
          .as("share"),
        expected.as("expected"),
        round(col("n").cast("double") / col("_tot").cast("double")
          - expected, 6).as("dev"))
  }

  /** One-pass column profile: per column, `col_name, n_rows, n_nulls,
    * n_distinct, min_num, max_num` (min/max only for numeric columns,
    * cast to double AFTER the typed min/max — never string-ordered; NULL
    * for non-numerics). Distinct counts are EXACT multi-column distincts
    * (Catalyst's Expand: one scan, k× map-side row blowup) — the
    * documented exact-vs-sketch tradeoff; at 100 TB swap in
    * approx_count_distinct (x27's HLL path) when ±2% is acceptable.
    *
    * The per-column rows are selects over the MATERIALIZED one-row
    * aggregate (the x150 convention: lazy, each union branch would
    * re-run the corpus-scale pass).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val numeric = cols.filter(c =>
      df.schema(c).dataType.isInstanceOf[NumericType]).toSet
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c"),
        count_distinct(col(c)).as(s"_nd_$c")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"_min_$c"),
            max(col(c)).cast("double").as(s"_max_$c"))
        else Nil)
    }
    val m = Checkpoints.materialize(
      df.agg(count(lit(1)).as("_n"), aggs: _*))
    cols.map { c =>
      m.select(lit(c).as("col_name"), col("_n").as("n_rows"),
        col(s"_nulls_$c").as("n_nulls"), col(s"_nd_$c").as("n_distinct"),
        (if (numeric(c)) col(s"_min_$c") else lit(null).cast("double"))
          .as("min_num"),
        (if (numeric(c)) col(s"_max_$c") else lit(null).cast("double"))
          .as("max_num"))
    }.reduce(_ union _)
  }

  /** Population-stability-index drift report between a REFERENCE frame
    * and a CURRENT frame over one numeric column — the standard "did
    * the incoming data's distribution move" monitor a training pipeline
    * runs per ingest batch. Bin edges are the reference's `bins`-tiles
    * (exact interpolated percentiles, the x23/x152 convention,
    * broadcast); returns one row per bin: `bin, n_ref, n_cur,
    * share_ref, share_cur, psi_term` (shares round 6; psi_term =
    * (p_ref − p_cur)·ln(p_ref/p_cur), round 6 — NULL when either side
    * of the bin is empty, so the consumer chooses its own
    * empty-bin/epsilon policy; Σ psi_term is the headline PSI).
    *
    * Determinism: bin membership is an exact cut-point comparison
    * chain; shares divide exact counts; the ln ride follows the x103
    * round-before-use convention. Scale: one percentile aggregate on
    * the reference + one broadcast-join counting pass per frame —
    * map-side combined, `bins` output rows.
    */
  def psiBins(ref: DataFrame, cur: DataFrame, valueCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val fracs = (1 until bins).map(i =>
      i.toDouble / bins).mkString(", ")
    val cuts = broadcast(ref.select(valueCol.cast("double").as("_v"))
      .agg(expr(s"percentile(_v, array($fracs))").as("_t")))
    def binned(df: DataFrame, n: String) = {
      val bin = ((0 until bins - 1)
        .map(i => when(col("_v") > col("_t").getItem(i), 1).otherwise(0))
        .reduce(_ + _) + lit(1)).cast("long")
      df.select(valueCol.cast("double").as("_v"))
        .filter(col("_v").isNotNull)
        .crossJoin(cuts)
        .select(bin.as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(n))
    }
    // the full 1..bins grid: a bin can be empty on either side
    val spark = ref.sparkSession
    import spark.implicits._
    val grid = (1 to bins).map(_.toLong).toDF("bin")
    val joined = grid
      .join(binned(ref, "n_ref"), Seq("bin"), "left")
      .join(binned(cur, "n_cur"), Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val tot = broadcast(joined.agg(sum(col("n_ref")).as("_tr"),
      sum(col("n_cur")).as("_tc")))
    val pr = col("n_ref").cast("double") / col("_tr").cast("double")
    val pc = col("n_cur").cast("double") / col("_tc").cast("double")
    joined.crossJoin(tot)
      .select(col("bin"), col("n_ref"), col("n_cur"),
        when(col("_tr") =!= 0, round(pr, 6)).as("share_ref"),
        when(col("_tc") =!= 0, round(pc, 6)).as("share_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0 &&
            col("_tr") =!= 0 && col("_tc") =!= 0,
          round((pr - pc) * log(pr / pc), 6)).as("psi_term"))
  }

  /** Weight-of-evidence / information-value feature screen: bin
    * `valueCol` into `bins` exact global quantile bins (rank-derived,
    * never ntile-on-one-task) against the 0/1 `labelCol`, report per
    * bin WOE = ln((good_b/G)/(bad_b/B)) and the feature's total IV =
    * Σ (good_b/G − bad_b/B)·WOE_b — the standard credit-scoring screen
    * for "does this feature separate the classes, monotonically where".
    *
    * Determinism: bins come from exact 64-bit rank arithmetic — rank()
    * is a pure function of the value, so it is derived as 1 + the
    * exclusive prefix sum of per-value counts over the DISTINCT-value
    * table (ties share a bin by construction, both engines agree);
    * shares are half-up integer-rounded 6-dp ratios (never a rounded
    * double quotient); WOE is ln of one exact DECIMAL ratio cast to
    * double, round 6 (the PPMI idiom); IV sums round-12 DECIMAL(28,12)
    * terms and surfaces through decimal round(…,6) — DuckDB's bare
    * DECIMAL downcast truncates where Spark's rounds half-up, so the
    * cast alone is NOT engine-portable. WOE/IV are NULL when a bin (or
    * class) is empty on either side — 0.5-smoothing is a modeling
    * choice this audit does not silently make.
    *
    * Scale: ONE corpus groupBy reduces to the distinct-value table
    * (checkpointed — the prefix input and the label join-back must read
    * one physical frame); the decomposed prefix sums of
    * [[graft.ops.Ranking.withGroupPrefixSums]] then run on |distinct|
    * rows, not the corpus. The prefix input carries ONLY (group, key,
    * summand) so both decomposition branches canonicalize to the SAME
    * range exchange and Spark's reuse collapses them — an extra rider
    * column defeats that canonical equality and lets two independent
    * RangePartitioners sample different boundaries (caught at ×10 scale
    * as ±partition-sized rank errors). The bin cells (≤ bins rows) are
    * checkpointed before the class-total / IV broadcast fan-out.
    */
  def woeIv(df: DataFrame, valueCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"need bins in [2,1000], got $bins")
    // DISTINCT-VALUE table first: rank() is a pure function of the value,
    // so the quantile machinery runs on |distinct| rows, not the corpus.
    // Checkpointed ONCE — the prefix-sum input and the label join-back
    // must read the SAME physical frame (two lineage replays would each
    // re-sample range boundaries; see the Ranking reuse invariant).
    val vals = Checkpoints.materialize(
      df.select(col(valueCol).as("_v"), col(labelCol).cast("long").as("_l"))
        .groupBy(col("_v"))
        .agg(count(lit(1)).as("_c"), sum(col("_l")).as("_gc")))
    // prefix input carries ONLY (group, sort key, summand): every column
    // is consumed by BOTH decomposition branches, so the two range
    // exchanges canonicalize identically and exchange reuse is guaranteed
    // (an extra rider column broke exactly this for the row-level form —
    // offsets from one boundary sample, labels from another)
    val pre = Ranking.withGroupPrefixSums(
      vals.select(lit(0L).as("_one"), col("_v"), col("_c")), "_one",
      Seq("_v" -> true), "_c", rankCol = "_vr", prefixCol = "_ct")
    val n1 = broadcast(vals.agg(coalesce(sum(col("_c")), lit(0L)).as("_n")))
    // row-space rank of every row holding value v = exclusive prefix + 1
    // = _ct - _c + 1; integral div (a truncated double quotient can
    // mis-bin a value whose true ratio sits a hair under an integer)
    val cells = Checkpoints.materialize(
      pre.join(vals.select(col("_v"), col("_gc")), Seq("_v"))
        .crossJoin(n1)
        .select(expr(s"((_ct - _c) * ${bins}L) div _n").as("bin"),
          col("_c"), col("_gc"))
        .groupBy(col("bin"))
        .agg(sum(col("_c")).as("n_rows"), sum(col("_gc")).as("n_good"),
          (sum(col("_c")) - sum(col("_gc"))).as("n_bad")))
    val tot = broadcast(cells.agg(
      coalesce(sum(col("n_good")), lit(0L)).as("_g"),
      coalesce(sum(col("n_bad")), lit(0L)).as("_b")))
    def share6(num: String, den: String) =
      expr(s"""CAST((2 * CAST($num AS DECIMAL(38,0)) * 1000000 +
              |  CAST($den AS DECIMAL(38,0))) div
              |  (2 * CAST($den AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0"""
        .stripMargin)
    val woeOk = col("n_good") > 0 && col("n_bad") > 0 &&
      col("_g") > 0 && col("_b") > 0
    val woe = round(log((d38(col("n_good")) * d38(col("_b")))
      .cast("double") /
      (d38(col("n_bad")) * d38(col("_g"))).cast("double")), 6)
    val withWoe = cells.crossJoin(tot)
      .withColumn("woe", when(woeOk, woe))
      .withColumn("_term", when(woeOk,
        round(((d38(col("n_good")) * d38(col("_b")) -
          d38(col("n_bad")) * d38(col("_g"))).cast("double") /
          (d38(col("_g")) * d38(col("_b"))).cast("double")) * col("woe"),
          12).cast("decimal(28,12)")))
    val iv = broadcast(withWoe.agg(
      when(count(lit(1)) === count(col("_term")),
        sum(col("_term")).cast("decimal(18,6)").cast("double")).as("iv")))
    withWoe.crossJoin(iv).select(col("bin"), col("n_rows"),
      col("n_good"), col("n_bad"),
      when(col("_g") > 0, share6("n_good", "_g")).as("share_good"),
      when(col("_b") > 0, share6("n_bad", "_b")).as("share_bad"),
      col("woe"), col("iv"))
  }

  /** Quantile normalization audit across sources: map every per-source
    * value of integral `valueCol` onto the POOLED distribution's value
    * at the same quantile (rank r of n_s → pooled value at row-space
    * index ceil(r·N/n_s)) — the cross-source harmonization step that
    * makes "length 400 from source A" comparable to "length 400 from
    * source B" when the sources' scales drift. Reports per source:
    * n_docs, n_vals (distinct), mean_raw, mean_norm, max_abs_shift.
    *
    * Determinism: ranks and target indices are exact integer arithmetic
    * on the (source, value) and pooled VALUE TABLES (rank() is a pure
    * function of the value — the woeIv posture); the index→pooled-value
    * lookup is one bucketed range join with exactly one containing
    * interval per index; means are half-up integer-rounded 6-dp ratios.
    *
    * Scale: two value-table reduces (per-source, pooled — both
    * checkpointed once), decomposed prefix sums on |distinct| rows, and
    * [[graft.ops.RangeJoin.pointInInterval]] for the lookup (quantized
    * equi-join, never a BNLJ). The corpus itself is touched by ONE
    * groupBy only.
    */
  def quantileNormalize(df: DataFrame, srcCol: String, valueCol: String,
      bucketWidth: Long = 64L): DataFrame = {
    val svals = Checkpoints.materialize(
      df.select(col(srcCol).as("_s"), col(valueCol).cast("long").as("_v"))
        .groupBy(col("_s"), col("_v")).agg(count(lit(1)).as("_c")))
    val spre = Ranking.withGroupPrefixSums(svals, "_s",
      Seq("_v" -> true), "_c", rankCol = "_i", prefixCol = "_cs")
    val nS = broadcast(svals.groupBy(col("_s"))
      .agg(sum(col("_c")).as("_ns")))
    val pvals = Checkpoints.materialize(
      svals.groupBy(col("_v")).agg(sum(col("_c")).as("_pc"))
        .select(lit(0L).as("_one"), col("_v"), col("_pc")))
    val ppre = Ranking.withGroupPrefixSums(pvals, "_one",
      Seq("_v" -> true), "_pc", rankCol = "_pi", prefixCol = "_pcum")
    val n1 = broadcast(pvals.agg(coalesce(sum(col("_pc")), lit(0L)).as("_N")))
    val intervals = ppre.select(col("_v").as("_w"),
      (col("_pcum") - col("_pc") + 1).as("_lo"), col("_pcum").as("_hi"))
    val points = spre.join(nS, Seq("_s")).crossJoin(n1)
      // rank of the value's first row; ceil(r·N/n_s) via integral div
      .select(col("_s"), col("_v"), col("_c"),
        expr("((_cs - _c + 1) * _N + _ns - 1) div _ns").as("_ix"))
    val mapped = RangeJoin.pointInInterval(points, "_ix",
      intervals, "_lo", "_hi", bucketWidth)
    def r6(num: String, den: String) =
      expr(s"""CAST((2 * CAST($num AS DECIMAL(38,0)) * 1000000 +
              |  CAST($den AS DECIMAL(38,0))) div
              |  (2 * CAST($den AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0"""
        .stripMargin)
    mapped.groupBy(col("_s"))
      .agg(sum(col("_c")).as("n_docs"), count(lit(1)).as("n_vals"),
        sum(col("_c") * col("_v")).as("_sr"),
        sum(col("_c") * col("_w")).as("_sn"),
        max(abs(col("_w") - col("_v"))).as("max_abs_shift"))
      .select(col("_s").as("source"), col("n_docs"), col("n_vals"),
        r6("_sr", "n_docs").as("mean_raw"),
        r6("_sn", "n_docs").as("mean_norm"),
        col("max_abs_shift"))
  }
}
