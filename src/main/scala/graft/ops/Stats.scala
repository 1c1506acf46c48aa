package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Closed-form exact statistics from integer moments: ordinary least
  * squares and Pearson correlation over QUANTIZED columns. The caller
  * quantizes (e.g. cents via `round(x*100)` — exact for 2-dp doubles);
  * every moment is then an exact DECIMAL(38,0) integer sum, so the
  * statistic is bitwise reproducible in any reduction order on any
  * engine (the Pca fixed-point convention applied to regression) — no
  * Welford/naive-float drift, no shuffle-order dependence.
  *
  * Scale shape: each fit is ONE map-side-combined aggregate over the
  * input (a handful of sum cells), then scalar arithmetic on a one-row
  * frame. Nothing iterative, nothing driver-side except the final row.
  */
object Stats {

  /** DECIMAL(38,0) staging of an integer column: the exact-moment cast
    * every integer-moment statistic in graft.ops sums through. */
  private[graft] def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** Sign-aware half-up 6-dp mean in integer micro-units (`div` is a
    * SQL-only operator, hence expr; both operands exact integers).
    * `s` and `n` are COLUMN NAMES of the sum and count. */
  private[ops] def halfUpMicro(s: String, n: String): Column = expr(
    s"""CASE WHEN $s < 0
       |  THEN -((CAST(-2 AS DECIMAL(38,0)) * $s * 1000000 + $n)
       |          div (CAST(2 AS DECIMAL(38,0)) * $n))
       |  ELSE ((CAST(2 AS DECIMAL(38,0)) * $s * 1000000 + $n)
       |          div (CAST(2 AS DECIMAL(38,0)) * $n)) END""".stripMargin)

  /** OLS fit y = intercept + slope·x over integer-valued columns.
    * Returns ONE row (n, slope, intercept, r2), round 6; slope/r2 NULL
    * when x (or y, for r2) is constant — zero variance, and ANSI-mode
    * double division by zero is an error, not an Infinity.
    *
    *   slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)
    *   intercept = (Sy − slope_raw·Sx) / n      (slope_raw unrounded)
    *   r²    = (n·Sxy − Sx·Sy)² / ((n·Sxx − Sx²)·(n·Syy − Sy²))
    */
  def linearFit(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val m = df.agg(
      count(lit(1)).as("n"),
      sum(d38(xCol)).as("sx"), sum(d38(yCol)).as("sy"),
      sum(d38(xCol) * d38(xCol)).as("sxx"),
      sum(d38(yCol) * d38(yCol)).as("syy"),
      sum(d38(xCol) * d38(yCol)).as("sxy"))
    val n = d38(col("n"))
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val denX = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val denY = (n * col("syy") - col("sy") * col("sy")).cast("double")
    val slopeRaw = num / denX
    val nD = col("n").cast("double")
    m.select(
      col("n"),
      when(denX =!= 0.0, round(slopeRaw, 6)).as("slope"),
      when(denX =!= 0.0,
        round((col("sy").cast("double") - slopeRaw *
          col("sx").cast("double")) / nD, 6)).as("intercept"),
      when(denX =!= 0.0 && denY =!= 0.0,
        round(num * num / (denX * denY), 6)).as("r2"))
  }

  /** Pairwise Pearson correlation over quantized columns, ONE moments
    * pass for all pairs. Returns (col_a, col_b, n, corr) for a < b in
    * the given order; corr NULL when either side is constant.
    */
  def pairwiseCorr(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val named = cols.map { case (nm, c) => nm -> d38(c) }
    val sums = named.map { case (nm, c) => sum(c).as(s"s_$nm") } ++
      named.map { case (nm, c) => sum(c * c).as(s"ss_$nm") } ++
      named.combinations(2).map { case Seq((a, ca), (b, cb)) =>
        sum(ca * cb).as(s"sp_${a}_$b")
      }.toSeq
    // MATERIALIZED: the pair rows below are a union of selects over this
    // one-row frame — unmaterialized, each union branch would re-execute
    // the corpus-scale moments aggregate (6 passes for 4 columns)
    val m = Checkpoints.materialize(df.agg(count(lit(1)).as("n"), sums: _*))
    val n = d38(col("n"))
    val pairRows = named.combinations(2).map { case Seq((a, _), (b, _)) =>
      val num = (n * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
        .cast("double")
      val da = (n * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
      val db = (n * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
      m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        when(da =!= 0.0 && db =!= 0.0,
          round(num / sqrt(da * db), 6)).as("corr"))
    }.toSeq
    pairRows.reduce(_ union _)
  }

  /** Per-group robust outlier report via the median/MAD rule: for each
    * group, the exact median of `valueCol`, the median absolute
    * deviation, and how many rows the modified z-score
    * 0.6745·(v − med)/MAD flags beyond `threshold`.
    *
    * The flag is evaluated DIVISION-FREE as
    * `|v − med| · 0.6745 > threshold · MAD` — algebraically the same
    * predicate, but it needs no MAD≠0 guard (ANSI double division) and
    * multiplications keep both engines on the identical IEEE ops. At
    * MAD = 0 the rule degenerates to "any deviation is an outlier",
    * which is the correct limit of the statistic.
    *
    * Scale: two group shuffles (median pass, then MAD-of-deviations
    * pass) plus a final per-group count — each map-side combined; the
    * per-group median frame joins back as a broadcast (group counts are
    * bounded: event types, sources — the exact-percentile state is the
    * documented exact-vs-sketch tradeoff, x27's GK approx being the
    * 100 TB default).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("median"))
    val dev = df.join(broadcast(med), groupCol)
      .select(col(groupCol), col(valueCol).cast("double").as("_v"),
        col("median"),
        abs(col(valueCol).cast("double") - col("median")).as("_ad"))
    val mad = dev.groupBy(col(groupCol), col("median"))
      .agg(expr("percentile(_ad, 0.5)").as("mad"))
    dev.drop("median").join(broadcast(mad), groupCol)
      .groupBy(col(groupCol), col("median"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("_v") - col("median")) * 0.6745 >
          col("mad") * threshold, 1L).otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), col("n"), col("median"), col("mad"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") /
          col("n").cast("double"), 6).as("outlier_rate"))
  }

  /** Two-sample Kolmogorov-Smirnov test: did the value distribution of
    * `groupA` drift from `groupB`? ONE row: `group_a, group_b, n_a, n_b,
    * d, d_crit_95` — d = sup |F_a − F_b| exactly, d_crit the 95%
    * two-sample critical value 1.358·√((n_a+n_b)/(n_a·n_b)).
    *
    * Exactness: the sup runs over the distinct observed values with the
    * CDF difference cross-multiplied into integers —
    * max |cum_a·n_b − cum_b·n_a| as DECIMAL(38,0) — so the entire
    * statistic is exact integer arithmetic until ONE final division
    * (and sqrt, which is IEEE-correctly-rounded on any engine).
    *
    * Scale: per-value counts are one map-side-combined shuffle; the
    * cumulative counts use the DECOMPOSED prefix-sum shape
    * (range partition → per-bucket window → O(partitions) offsets, the
    * Ranking.scala convention) — never a single-task global window over
    * the distinct-value table, which at 100 TB is itself corpus-sized.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, spark_partition_id}
    // NULL values are excluded, not grouped: Spark's ascending sort puts
    // NULLS FIRST, DuckDB's cumulative window defaults NULLS LAST, so a
    // NULL group would shift every cumulative count between engines —
    // and a NULL observation has no place on an ECDF anyway
    val counts = df.filter(col(groupCol).isin(groupA, groupB))
      .filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("a"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("b"))
    val ranged = counts.repartitionByRange(col("v").asc)
      .withColumn("_bucket", spark_partition_id())
    val w = Window.partitionBy(col("_bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged
      .withColumn("_la", sum(col("a")).over(w))
      .withColumn("_lb", sum(col("b")).over(w))
    val sums = local.groupBy(col("_bucket"))
      .agg(sum(col("a")).as("_sa"), sum(col("b")).as("_sb"))
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("_ao", coalesce(sum(col("_sa")).over(wCum), lit(0L)))
      .withColumn("_bo", coalesce(sum(col("_sb")).over(wCum), lit(0L)))
      .select(col("_bucket"), col("_ao"), col("_bo"))
    val cum = local.join(broadcast(offsets), "_bucket")
      .select((col("_la") + col("_ao")).as("ca"),
        (col("_lb") + col("_bo")).as("cb"))
    val tot = broadcast(counts.agg(sum(col("a")).as("na"),
      sum(col("b")).as("nb")))
    val sup = cum.crossJoin(tot)
      .agg(max(abs(d38(col("ca")) * d38(col("nb")) -
        d38(col("cb")) * d38(col("na")))).as("_sup"))
    val nA = col("na").cast("double")
    val nB = col("nb").cast("double")
    tot.crossJoin(broadcast(sup))
      .select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") =!= 0 && col("nb") =!= 0,
          round(col("_sup").cast("double") / (nA * nB), 6)).as("d"),
        when(col("na") =!= 0 && col("nb") =!= 0,
          round(lit(1.358) * sqrt((nA + nB) / (nA * nB)), 6))
          .as("d_crit_95"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns. ONE row: `n, n_rows_cat, n_cols_cat, dof, chi2` over the
    * FULL contingency grid — absent cells contribute their full expected
    * mass (row_tot·col_tot/N), which the observed-cells-only shortcut
    * silently drops.
    *
    * Determinism: each cell's contribution
    * (O·N − RT·CT)² / (N·RT·CT) is computed with an exact DECIMAL(38,0)
    * integer numerator, rounded to 6 and SUMMED AS DECIMAL (the x103
    * round-then-decimal-sum convention) — a decimal sum is
    * order-independent where a double sum over shuffled cells is not,
    * and the pre-round pins the double→decimal cast on both engines
    * (contributions reach O(10³), where a raw 12-dp cast would sit at
    * the engines' differing double-to-decimal rounding edges).
    *
    * Scale: one (a, b) cell aggregate + two marginal aggregates, all
    * map-side combined; the grid is |a|·|b| cells (categoricals —
    * bounded), built from the broadcast marginals.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cells = df.groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val rowTot = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_rt"))
    val colTot = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_ct"))
    val n = cells.agg(sum(col("_o")).as("_n"))
    val grid = rowTot.crossJoin(broadcast(colTot))
      .join(cells, Seq("_a", "_b"), "left")
      .select(col("_a"), col("_b"), col("_rt"), col("_ct"),
        coalesce(col("_o"), lit(0L)).as("_o"))
      .crossJoin(broadcast(n))
    val num = (d38(col("_o")) * d38(col("_n")) -
      d38(col("_rt")) * d38(col("_ct"))).cast("double")
    val den = (d38(col("_n")) * d38(col("_rt")) * d38(col("_ct")))
      .cast("double")
    grid
      .select(col("_n"), col("_a"), col("_b"),
        round(num * num / den, 6).cast("decimal(28,6)").as("_contrib"))
      .agg(max(col("_n")).as("n"),
        count_distinct(col("_a")).as("_nr"),
        count_distinct(col("_b")).as("_nc"),
        sum(col("_contrib")).as("_chi"))
      .select(col("n"), col("_nr").as("n_rows_cat"),
        col("_nc").as("n_cols_cat"),
        ((col("_nr") - 1) * (col("_nc") - 1)).as("dof"),
        round(col("_chi").cast("double"), 6).as("chi2"))
  }

  /** Two-sample Mann-Whitney U (rank-sum) test with midrank tie
    * handling — the distribution-free sibling of [[ksTest]] for "did
    * this metric shift between cohorts". ONE row: `group_a, group_b,
    * n_a, n_b, u_a, u_b, z` (z is the tie-corrected normal
    * approximation, round 6, NULL when a side is empty or every value
    * is tied).
    *
    * Exactness: everything until z is INTEGER. Per distinct value v
    * with counts (a_v, b_v) and pooled count before it c_v, the DOUBLED
    * midrank is `2c_v + a_v + b_v + 1` (doubling clears the half), so
    * `2R_A = Σ a_v·(2c_v + a_v + b_v + 1)` and `2U_A = 2R_A −
    * n_a(n_a+1)` are exact DECIMAL(38,0); u_a/u_b divide by 2.0 in ONE
    * IEEE op (halves are exact doubles). The tie term `T = Σ t_v³ −
    * t_v` is exact; z's numerator/denominator are single casts of those
    * integers, so the only engine-shared float work is one division
    * and one correctly-rounded sqrt.
    *
    * Scale: per-value counts are one map-side-combined shuffle; the
    * pooled counts-before use the DECOMPOSED prefix-sum shape (the
    * ksTest machinery) — never a single-task window over the
    * distinct-value table. NULL values are excluded (the ksTest NULLS
    * FIRST/LAST rationale).
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, spark_partition_id}
    val counts = df.filter(col(groupCol).isin(groupA, groupB))
      .filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("a"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("b"))
    val ranged = counts.repartitionByRange(col("v").asc)
      .withColumn("_bucket", spark_partition_id())
    val w = Window.partitionBy(col("_bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged
      .withColumn("_la", sum(col("a")).over(w))
      .withColumn("_lb", sum(col("b")).over(w))
    val sums = local.groupBy(col("_bucket"))
      .agg(sum(col("a")).as("_sa"), sum(col("b")).as("_sb"))
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("_ao", coalesce(sum(col("_sa")).over(wCum), lit(0L)))
      .withColumn("_bo", coalesce(sum(col("_sb")).over(wCum), lit(0L)))
      .select(col("_bucket"), col("_ao"), col("_bo"))
    // c_v = pooled count strictly BEFORE v; t_v = a_v + b_v
    val t = d38(col("a") + col("b"))
    val agg = local.join(broadcast(offsets), "_bucket")
      .select(col("a"), col("b"),
        (col("_la") + col("_ao") - col("a")
          + col("_lb") + col("_bo") - col("b")).as("_c"))
      .agg(
        sum(d38(col("a")) * (d38(col("_c")) * lit(2) + d38(col("a"))
          + d38(col("b")) + lit(1))).as("_r2a"),
        sum(t * t * t - t).as("_t"),
        sum(col("a")).as("_na"), sum(col("b")).as("_nb"))
    val na = d38(col("_na"))
    val nb = d38(col("_nb"))
    val n = na + nb
    val u2a = col("_r2a") - na * (na + lit(1)) // = 2·U_A, exact
    // σ² = (n_a·n_b)·((n+1)n(n−1) − T) / (12n(n−1)): the three factors
    // stay exact DECIMAL(38,0) (each ≤ n³ < 10^38 at 10^12 rows) and
    // multiply as DOUBLES — their exact product would overflow 38 digits
    val tieTerm = (n + lit(1)) * n * (n - lit(1)) - col("_t")
    val sigNum = (na * nb).cast("double") * tieTerm.cast("double")
    val sigDen = (lit(12).cast("decimal(38,0)") * n * (n - lit(1)))
      .cast("double")
    agg.select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("_na").as("n_a"), col("_nb").as("n_b"),
      when(col("_na") =!= 0 && col("_nb") =!= 0,
        u2a.cast("double") / 2.0).as("u_a"),
      when(col("_na") =!= 0 && col("_nb") =!= 0,
        (na * nb * lit(2) - u2a).cast("double") / 2.0).as("u_b"),
      when(col("_na") =!= 0 && col("_nb") =!= 0 && sigNum > 0.0,
        round((u2a - na * nb).cast("double")
          / (lit(2.0) * sqrt(sigNum / sigDen)), 6)).as("z"))
  }

  /** One-way ANOVA F test: does the group mean of `valueCol` (an
    * INTEGER-quantized column, the linearFit convention — e.g. cents)
    * differ across `groupCol`? ONE row: `n, k, dof_between, dof_within,
    * f` (round 6; NULL when k < 2, n ≤ k, or the within-group variance
    * is 0).
    *
    * Determinism: per-group moments (n_g, S_g, Q_g) are exact
    * DECIMAL(38,0); the one float reduction — Σ_g S_g²/n_g — runs as a
    * SEQUENTIAL FOLD over the group-sorted moment array
    * (`aggregate(array_sort(...))` here, `list_reduce(list(... ORDER
    * BY g))` in the oracle), so both engines add the same doubles in
    * the same order — bitwise, without decimal-cast edges at 1e19
    * magnitudes (groups are bounded categoricals, so the array is
    * tiny). SSB/SSW/F are then a fixed closed-form double sequence.
    *
    * Scale: one map-side-combined groupBy over the input + a k-row
    * epilogue. Nothing iterative, nothing corpus-sized past the first
    * aggregate.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val moments = df
      .groupBy(col(groupCol).cast("string").as("_g"))
      .agg(count(lit(1)).as("_ng"), sum(d38(valueCol)).as("_sg"),
        sum(d38(valueCol) * d38(valueCol)).as("_qg"))
    val one = moments.agg(
      count(lit(1)).as("_k"), sum(col("_ng")).as("_n"),
      sum(col("_sg")).as("_s"), sum(col("_qg")).as("_q"),
      aggregate(
        array_sort(collect_list(struct(col("_g"), col("_sg"), col("_ng")))),
        lit(0.0),
        (acc, x) => acc + (x.getField("_sg") * x.getField("_sg"))
          .cast("double") / x.getField("_ng").cast("double")).as("_a2"))
    val nD = col("_n").cast("double")
    val meanTerm = (d38(col("_s")) * d38(col("_s"))).cast("double") / nD
    val ssb = col("_a2") - meanTerm
    val ssw = col("_q").cast("double") - col("_a2")
    val dofB = col("_k") - 1
    val dofW = col("_n") - col("_k")
    one.select(col("_n").as("n"), col("_k").as("k"),
      dofB.as("dof_between"), dofW.as("dof_within"),
      when(col("_k") >= 2 && col("_n") > col("_k") && ssw > 0.0,
        round((ssb / dofB.cast("double"))
          / (ssw / dofW.cast("double")), 6)).as("f"))
  }

  /** Balanced-half-sample (BRR-style) confidence interval for a mean,
    * the survey-statistics replication method that needs NO
    * distributional assumption and ONE extra pass: replicate r ∈ 0..B−1
    * keeps the rows whose md5(salt:id) has bit r set (~half each), and
    * `Var(θ̂) ≈ (1/B)·Σ_r (θ_r − θ̂)²`. ONE row:
    * `(n, b_replicates, theta, se, ci_lo, ci_hi)` (95% normal CI).
    *
    * Determinism: θ and each θ_r are single IEEE divisions of exact
    * integer sums; the B squared deviations are round-12
    * DECIMAL-summed (x103 convention), divided by the power-of-two B
    * (exact), sqrt'd (IEEE), and combined with the 1.96 literal — the
    * same op sequence on both engines. Empty replicates (vanishing
    * probability at any real n) are excluded with B_eff = count.
    *
    * Scale: one md5 per row and a B-way explode-filter (~B/2×
    * map-side rows) into ONE map-side-combined (r) reduce — B bounds
    * the pass cost, the documented tradeoff (B = 64 default).
    */
  def brrMeanCi(df: DataFrame, idCol: String, valueCol: Column,
      b: Int = 64, salt: String = "brr"): DataFrame = {
    require(b >= 2 && b <= 64 && (b & (b - 1)) == 0,
      s"need b a power of two in [2, 64], got $b")
    val rows = df.select(col(idCol).cast("string").as("_id"),
        valueCol.cast("bigint").as("_v"))
      .withColumn("_h", md5(concat(lit(s"$salt:"), col("_id"))))
    val tot = broadcast(rows.agg(count(lit(1)).as("n"),
      sum(d38(col("_v"))).as("_s")))
    val reps = rows
      .select(col("_h"), col("_v"),
        explode(sequence(lit(0), lit(b - 1))).as("_r"))
      .filter(expr("((instr('0123456789abcdef', " +
        "substr(_h, 1 + _r div 4, 1)) - 1) >> (_r % 4)) & 1 = 1"))
      .groupBy(col("_r"))
      .agg(count(lit(1)).as("_nr"), sum(d38(col("_v"))).as("_sr"))
      .filter(col("_nr") > 0)
    val theta = col("_s").cast("double") / col("n").cast("double")
    val thetaR = col("_sr").cast("double") / col("_nr").cast("double")
    val dev = thetaR - theta
    val varAgg = reps.crossJoin(tot)
      .agg(count(lit(1)).as("b_replicates"),
        sum(round(dev * dev, 12).cast("decimal(28,12)")).as("_ss"),
        first(col("n")).as("n"), first(col("_s")).as("_s2"))
    val th = col("_s2").cast("double") / col("n").cast("double")
    val se = sqrt(col("_ss").cast("double") /
      col("b_replicates").cast("double"))
    varAgg.select(col("n"), col("b_replicates"), th.as("theta"),
      se.as("se"), (th - lit(1.96) * se).as("ci_lo"),
      (th + lit(1.96) * se).as("ci_hi"))
  }

  /** Mutual information between two categorical columns, reported
    * per cell (the [[graft.ops.Profiling.psiBins]] per-term shape —
    * consumers sum `mi_term` for the scalar MI in nats):
    * `(a, b, n_ab, n_a, n_b, share, mi_term)` with
    * `mi_term = (n_ab/N) · ln((n_ab·N)/(n_a·n_b))`, rounded to 6.
    * Absent (a, b) combinations contribute 0 to MI and are omitted.
    *
    * Determinism: the ln argument is ONE division of exact DECIMAL
    * cross-products and p_ab one division of exact integers; ln itself
    * is the 1-ulp libm class, bounded by the same round-6 convention
    * PSI uses (documented tradeoff — an exact-log engine pair would
    * need rational-log staging).
    *
    * Scale: one (a, b) reduce — map-side combinable; marginals reduce
    * the cell table, not the corpus; one-row N broadcast (x57).
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val ma = cells.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val mb = cells.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
    val tot = broadcast(cells.agg(sum(col("n_ab")).as("_n")))
    cells.join(ma, Seq("a")).join(mb, Seq("b")).crossJoin(tot)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("_n").cast("double"), 6)
          .as("share"),
        round((col("n_ab").cast("double") / col("_n").cast("double")) *
          log((d38(col("n_ab")) * d38(col("_n"))).cast("double") /
            (d38(col("n_a")) * d38(col("n_b"))).cast("double")), 6)
          .as("mi_term"))
  }

  /** Spearman rank correlation between two INTEGER-quantized columns
    * (the linearFit convention): Pearson over midranks, robust to any
    * monotone transform. ONE row `(n, rho)`, round 6; NULL when either
    * column is constant (zero rank variance).
    *
    * Exactness: DOUBLED midranks are integers (the [[mannWhitney]]
    * trick — for value v with count c_v and count-before p_v the
    * doubled midrank is `2p_v + c_v + 1`; the factor 2 cancels in
    * Pearson), so every moment is an exact DECIMAL(38,0) sum and rho
    * is two IEEE sqrts + one multiply + one division of exact-integer
    * doubles. Moment bound: Σdm² ≤ 4n³, so n·Σdm² ≤ 4n⁴ < 10³⁸ holds
    * to n ≈ 10⁹ rows — beyond that, pre-bucket the values (rank
    * ties only coarsen, Spearman degrades gracefully).
    *
    * Scale: TWO per-value count reduces (map-side combined), each
    * followed by the DECOMPOSED prefix-sum shape (the ksTest
    * machinery — never a single-task window over a distinct-value
    * table that at 100 TB is itself corpus-sized); midranks join back
    * to the row set by value (hash equi-joins), then ONE moments
    * aggregate. NULL in either column excludes the row.
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, spark_partition_id}
    val rowsIn = df.select(xCol.cast("bigint").as("_x"),
        yCol.cast("bigint").as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)

    // doubled midrank per distinct value of `c`: 2·(count before) + cnt + 1
    def midranks(valueName: String): DataFrame = {
      val counts = rowsIn.groupBy(col(valueName).as("_v"))
        .agg(count(lit(1)).as("_c"))
      val ranged = counts.repartitionByRange(col("_v").asc)
        .withColumn("_bucket", spark_partition_id())
      val w = Window.partitionBy(col("_bucket")).orderBy(col("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = ranged.withColumn("_lc", sum(col("_c")).over(w))
      val sums = local.groupBy(col("_bucket"))
        .agg(sum(col("_c")).as("_sc"))
      val wCum = Window.orderBy(col("_bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = sums
        .withColumn("_off", coalesce(sum(col("_sc")).over(wCum), lit(0L)))
        .select(col("_bucket"), col("_off"))
      local.join(broadcast(offsets), "_bucket")
        .select(col("_v").as(valueName),
          (lit(2L) * (col("_lc") + col("_off") - col("_c"))
            + col("_c") + lit(1L)).as(s"_dm$valueName"))
    }

    val m = rowsIn
      .join(midranks("_x"), Seq("_x"))
      .join(midranks("_y"), Seq("_y"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("_dm_x"))).as("_sx"), sum(d38(col("_dm_y"))).as("_sy"),
        sum(d38(col("_dm_x")) * d38(col("_dm_x"))).as("_sxx"),
        sum(d38(col("_dm_y")) * d38(col("_dm_y"))).as("_syy"),
        sum(d38(col("_dm_x")) * d38(col("_dm_y"))).as("_sxy"))
    val n = d38(col("n"))
    val num = (n * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val dx = (n * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val dy = (n * col("_syy") - col("_sy") * col("_sy")).cast("double")
    m.select(col("n"),
      when(dx > 0.0 && dy > 0.0,
        round(num / (sqrt(dx) * sqrt(dy)), 6)).as("rho"))
  }

  /** Two-sample 1-Wasserstein (earth-mover) distance between the
    * value distributions of two cohorts — the ∫|F_a − F_b| companion
    * to [[ksTest]]'s sup: KS asks "is there ANY drift", W₁ asks "how
    * much probability mass moved how far" in the column's own units.
    * ONE row: `(group_a, group_b, n_a, n_b, w1)`; NULL w1 when a
    * cohort is empty.
    *
    * Exactness: over each gap between consecutive distinct values the
    * CDF difference is constant, so
    * `W₁·n_a·n_b = Σ_v |ca⁻·n_b − cb⁻·n_a| · (v − prev(v))` with
    * ca⁻ = cumulative strictly before v — every term an exact
    * DECIMAL(38,0) product, ONE final division. prev(v) needs no
    * second pass: within a range bucket it is lag(v); at a bucket's
    * first row it is the previous bucket's max, read from the same
    * O(partitions) offsets frame the prefix sums broadcast.
    *
    * Scale: the ksTest machinery verbatim — one per-value count
    * reduce, decomposed prefix sums, O(partitions) driver-free
    * boundary handling. NULL values are excluded (ksTest rationale).
    */
  def wasserstein1(df: DataFrame, groupCol: String, valueCol: Column,
      groupA: String, groupB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, spark_partition_id}
    val vals = df.filter(col(groupCol).isin(groupA, groupB))
      .select(valueCol.cast("bigint").as("v"), col(groupCol).as("_g"))
      .filter(col("v").isNotNull)
    val counts = vals
      .groupBy(col("v"))
      .agg(sum(when(col("_g") === groupA, 1L).otherwise(0L)).as("a"),
        sum(when(col("_g") === groupB, 1L).otherwise(0L)).as("b"))
    val ranged = counts.repartitionByRange(col("v").asc)
      .withColumn("_bucket", spark_partition_id())
    val wRun = Window.partitionBy(col("_bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLag = Window.partitionBy(col("_bucket")).orderBy(col("v"))
    val local = ranged
      .withColumn("_la", sum(col("a")).over(wRun))
      .withColumn("_lb", sum(col("b")).over(wRun))
      .withColumn("_pv", lag(col("v"), 1).over(wLag))
    val sums = ranged.groupBy(col("_bucket"))
      .agg(sum(col("a")).as("_sa"), sum(col("b")).as("_sb"),
        max(col("v")).as("_mx"))
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPrev = Window.orderBy(col("_bucket")).rowsBetween(-1, -1)
    val offsets = sums
      .withColumn("_ao", coalesce(sum(col("_sa")).over(wCum), lit(0L)))
      .withColumn("_bo", coalesce(sum(col("_sb")).over(wCum), lit(0L)))
      .withColumn("_pmx", max(col("_mx")).over(wPrev))
      .select(col("_bucket"), col("_ao"), col("_bo"), col("_pmx"))
    val tot = broadcast(counts.agg(sum(col("a")).as("na"),
      sum(col("b")).as("nb")))
    val terms = local.join(broadcast(offsets), "_bucket")
      .select(col("v"), col("a"), col("b"),
        (col("_la") + col("_ao") - col("a")).as("cpa"),
        (col("_lb") + col("_bo") - col("b")).as("cpb"),
        coalesce(col("_pv"), col("_pmx")).as("pv"))
      .crossJoin(tot)
      .select(when(col("pv").isNull, lit(0).cast("decimal(38,0)"))
        .otherwise(abs(d38(col("cpa")) * d38(col("nb")) -
          d38(col("cpb")) * d38(col("na"))) * d38(col("v") - col("pv")))
        .as("_term"))
    val sumT = broadcast(terms.agg(sum(col("_term")).as("_w")))
    tot.crossJoin(sumT)
      .select(lit(groupA).as("group_a"), lit(groupB).as("group_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        when(col("na") =!= 0 && col("nb") =!= 0,
          round(col("_w").cast("double") /
            (col("na").cast("double") * col("nb").cast("double")), 6))
          .as("w1"))
  }

  /** Pairwise 1-Wasserstein (earth-mover) distance matrix between the
    * groups' VALUE distributions — the scale-shift drift detector the
    * JS token matrix (x233) cannot be: JS compares category masses,
    * W₁ integrates |CDF_a − CDF_b| over the value axis, so "source B's
    * documents grew 20% longer" shows up directly in value units. One
    * row per unordered pair from the EXPLICIT `groups` list (the
    * pinned-vocabulary convention — the caller profiles groups offline;
    * an explicit list keeps the oracle generable and the column layout
    * static): `(group_a, group_b, n_a, n_b, w1)` (w1 round 6, NULL on
    * an empty side).
    *
    * Exactness: [[wasserstein1]]'s exact-integer construction widened
    * to k groups in ONE pass — a single (value) reduce carries k
    * conditional counts, ONE range-partitioned prefix decomposition
    * serves every column (the offsets branch derives from the same
    * `ranged` subtree, so the exchange is reused, not re-sampled), and
    * each pair's term is |cpa·n_b − cpb·n_a|·gap in DECIMAL(38,0),
    * summed reduction-order-free. k(k−1)/2 pair columns ride one
    * aggregate; the output explodes a bounded struct array.
    *
    * Scale: one corpus reduce to the |distinct| value table, the
    * decomposed prefix pass, a one-row epilogue — |groups| bounded by
    * the caller's list, never by the data.
    */
  def wasserstein1Matrix(df: DataFrame, groupCol: String,
      valueCol: Column, groups: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, spark_partition_id}
    require(groups.size >= 2 && groups.size <= 32
      && groups.distinct.size == groups.size,
      s"need 2..32 distinct groups, got $groups")
    val k = groups.size
    val vals = df.filter(col(groupCol).isin(groups: _*))
      .select(valueCol.cast("bigint").as("v"), col(groupCol).as("_g"))
      .filter(col("v").isNotNull)
    val aggs = groups.zipWithIndex.map { case (g, i) =>
      sum(when(col("_g") === g, 1L).otherwise(0L)).as(s"c$i")
    }
    val counts = vals.groupBy(col("v")).agg(aggs.head, aggs.tail: _*)
    val ranged = counts.repartitionByRange(col("v").asc)
      .withColumn("_bucket", spark_partition_id())
    val wRun = Window.partitionBy(col("_bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLag = Window.partitionBy(col("_bucket")).orderBy(col("v"))
    val local = (0 until k).foldLeft(ranged) { (d, i) =>
      d.withColumn(s"_l$i", sum(col(s"c$i")).over(wRun))
    }.withColumn("_pv", lag(col("v"), 1).over(wLag))
    val sums = ranged.groupBy(col("_bucket"))
      .agg(max(col("v")).as("_mx"),
        (0 until k).map(i => sum(col(s"c$i")).as(s"_s$i")): _*)
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPrev = Window.orderBy(col("_bucket")).rowsBetween(-1, -1)
    val offsets = (0 until k).foldLeft(sums) { (d, i) =>
      d.withColumn(s"_o$i", coalesce(sum(col(s"_s$i")).over(wCum), lit(0L)))
    }.withColumn("_pmx", max(col("_mx")).over(wPrev))
      .select(col("_bucket") +: col("_pmx") +:
        (0 until k).map(i => col(s"_o$i")): _*)
    val tot = broadcast(counts.agg(
      sum(col("c0")).as("n0"),
      (1 until k).map(i => sum(col(s"c$i")).as(s"n$i")): _*))
    val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
    val withCp = local.join(broadcast(offsets), "_bucket")
      .select(col("v") +:
        coalesce(col("_pv"), col("_pmx")).as("pv") +:
        (0 until k).flatMap(i => Seq(col(s"c$i"),
          (col(s"_l$i") + col(s"_o$i") - col(s"c$i")).as(s"cp$i"))): _*)
      .crossJoin(tot)
    val termCols = pairs.map { case (i, j) =>
      sum(when(col("pv").isNull, lit(0).cast("decimal(38,0)"))
        .otherwise(abs(d38(col(s"cp$i")) * d38(col(s"n$j"))
          - d38(col(s"cp$j")) * d38(col(s"n$i")))
          * d38(col("v") - col("pv")))).as(s"_w${i}_$j")
    }
    val termSums = withCp.agg(termCols.head, termCols.tail: _*)
    val rows = pairs.map { case (i, j) =>
      struct(lit(groups(i)).as("group_a"), lit(groups(j)).as("group_b"),
        col(s"n$i").as("n_a"), col(s"n$j").as("n_b"),
        col(s"_w${i}_$j").as("w"))
    }
    tot.crossJoin(broadcast(termSums))
      .select(explode(array(rows: _*)).as("_p"))
      .select(col("_p.group_a").as("group_a"),
        col("_p.group_b").as("group_b"),
        col("_p.n_a").as("n_a"), col("_p.n_b").as("n_b"),
        when(col("_p.n_a") =!= 0 && col("_p.n_b") =!= 0,
          round(col("_p.w").cast("double") /
            (col("_p.n_a").cast("double") * col("_p.n_b").cast("double")),
            6)).as("w1"))
  }

  /** Overdispersion audit — "is per-user activity Poisson, or bursty?"
    * Per event_type: the variance-to-mean ratio (index of dispersion)
    * of per-user event counts, with the χ²-shaped dispersion statistic
    * D = (n−1)·VMR whose √(2D) − √(2(n−1)−1) normal approximation
    * flags overdispersion at `zCrit` (default 3.0) — the standard
    * screen before fitting anything Poisson-shaped (retention, arrival
    * models); bursty users (VMR ≫ 1) call for a negative-binomial
    * posture. One row per type: `(event_type, n_users, mean, vmr, z,
    * overdispersed)` (round 6; vmr/z NULL when n < 2 or mean = 0).
    *
    * Exactness: per-user counts are exact integers; Σc and Σc² are
    * exact DECIMAL(38,0) moments, so mean and VMR are fixed double op
    * sequences over exact integers (the linearFit convention), mirrored
    * in the oracle.
    *
    * Scale: ONE (user, type) reduce then a |types|-cardinality moment
    * rollup — map-side combinable, no window, no broadcast.
    */
  def dispersionAudit(events: DataFrame, zCrit: Double = 3.0): DataFrame = {
    val perUser = events.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("_c"))
    val m = perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(d38(col("_c"))).as("_s"),
        sum(d38(col("_c")) * d38(col("_c"))).as("_ss"))
    val nD = col("n_users").cast("double")
    val mean = col("_s").cast("double") / nD
    // sample variance: (n·Σc² − (Σc)²) / (n·(n−1)) over exact moments
    val varS = (d38(col("n_users")) * col("_ss") - col("_s") * col("_s"))
      .cast("double") / (nD * (nD - 1.0))
    val vmr = varS / mean
    val d = (nD - 1.0) * vmr
    val z = sqrt(lit(2.0) * d) - sqrt(lit(2.0) * (nD - 1.0) - 1.0)
    val ok = col("n_users") > 1 && mean > 0.0
    m.select(col("event_type"), col("n_users"),
      round(mean, 6).as("mean"),
      when(ok, round(vmr, 6)).as("vmr"),
      when(ok, round(z, 6)).as("z"),
      coalesce(when(ok, z > zCrit), lit(false)).as("overdispersed"))
  }

  /** Mann-Kendall monotone-trend test per series: Kendall's S over
    * (time, value) pairs of the dense zero-filled daily grid, with the
    * tie-corrected tau-b and the continuity-corrected normal z. One
    * row per series: `(series, n_days, s, tau_b, z)` — tau_b/z round
    * 6, NULL when n < 2 or the series is constant (zero variance).
    *
    * Exactness: S = Σ_{i<j} sign(y_j − y_i) and the tie terms are
    * exact integers; the halves in tau-b's textbook form cancel —
    * with N = n(n−1) and M = N − Σt(t−1),
    * `tau_b = 2S/√(N·M)` — so everything is integer until ONE sqrt
    * of an exact product and one division; z's variance is an exact
    * integer divided by 18.0 — the same op sequence both engines.
    *
    * Scale: one map-side-combined (series, day) count; the pair join
    * is an EQUI hash join on series with a d2 > d1 residual (the
    * theilSen shape) over the SPAN-BOUNDED grid — pairs grow with
    * span², never with corpus size.
    */
  def mannKendall(daily: DataFrame, seriesCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val g = daily.select(col(seriesCol).as("_s"),
      col(dayCol).cast("bigint").as("_d"),
      col(valueCol).cast("bigint").as("_y"))
    val a = g.select(col("_s"), col("_d").as("_d1"), col("_y").as("_y1"))
    val b = g.select(col("_s"), col("_d").as("_d2"), col("_y").as("_y2"))
    val sAgg = a.join(b, Seq("_s")).filter(col("_d2") > col("_d1"))
      .groupBy(col("_s"))
      .agg(sum(when(col("_y2") > col("_y1"), 1L)
        .when(col("_y2") < col("_y1"), -1L).otherwise(0L)).as("s"))
    val t = col("_t")
    val ties = g.groupBy(col("_s"), col("_y"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col("_s"))
      .agg(sum(col("_t")).as("n_days"),
        sum(d38(t) * d38(t - 1)).as("_tt"),
        sum(d38(t) * d38(t - 1) * d38(lit(2) * t + 5)).as("_tv"))
    val n = d38(col("n_days"))
    val bigN = n * (n - lit(1))
    val bigM = bigN - col("_tt")
    val varS = ((bigN * (lit(2) * n + lit(5)) - col("_tv"))
      .cast("double")) / lit(18.0)
    val sD = col("s").cast("double")
    sAgg.join(ties, Seq("_s"))
      .select(col("_s").as("series"), col("n_days"), col("s"),
        when(col("n_days") >= 2 && bigM.cast("double") > 0.0,
          round(lit(2.0) * sD / sqrt((bigN * bigM).cast("double")), 6))
          .as("tau_b"),
        when(col("n_days") >= 2 && varS > 0.0,
          round((sD - signum(sD)) / sqrt(varS), 6)).as("z"))
  }

  /** Depth-1 decision tree (decision stump): the single threshold
    * split `feature <= t` minimizing weighted Gini impurity against a
    * boolean label — the classic weak learner / feature-screening
    * primitive. ONE row: `(n, n_pos, threshold, gini_split, gain,
    * left_n, left_pos, right_n, right_pos)` (gini round 6).
    *
    * NOTE on units: `gini_split` and `gain` are reported n-SCALED —
    * (A_L·c_R + A_R·c_L)/(c_L·c_R) equals n times the conventional
    * [0,1] weighted Gini impurity, and the baseline A/c equals n times
    * Gini. The scaling keeps every candidate's score a single exact
    * DECIMAL division; argmin, the gain's sign, and oracle parity are
    * unaffected. Divide by `n` for the textbook [0,1] values.
    *
    * Exactness: with left counts (cl, pl) the weighted impurity's
    * numerator `A_L·c_R + A_R·c_L` (A = c² − pos² − neg²) and
    * denominator `c_L·c_R` are exact DECIMAL(38,0); each candidate's
    * w is ONE division, and the argmin breaks double ties on the
    * threshold value (min over struct(w, v, …) — pinned on both
    * engines). The baseline Gini is the same form on the totals.
    *
    * Scale: one per-value count reduce + the decomposed prefix-sum
    * shape (ksTest machinery); candidates are the distinct-value
    * table, reduced by ONE min(struct) aggregate — no sort, no limit.
    */
  def decisionStump(df: DataFrame, featureCol: Column,
      labelCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, spark_partition_id}
    val vals = df.select(featureCol.cast("bigint").as("v"),
        labelCol.cast("long").as("_y"))
      .filter(col("v").isNotNull && col("_y").isNotNull)
    val counts = vals.groupBy(col("v"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("p"))
    val ranged = counts.repartitionByRange(col("v").asc)
      .withColumn("_bucket", spark_partition_id())
    val w = Window.partitionBy(col("_bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged
      .withColumn("_ln", sum(col("n")).over(w))
      .withColumn("_lp", sum(col("p")).over(w))
    val sums = local.groupBy(col("_bucket"))
      .agg(sum(col("n")).as("_sn"), sum(col("p")).as("_sp"))
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("_no", coalesce(sum(col("_sn")).over(wCum), lit(0L)))
      .withColumn("_po", coalesce(sum(col("_sp")).over(wCum), lit(0L)))
      .select(col("_bucket"), col("_no"), col("_po"))
    val tot = broadcast(counts.agg(sum(col("n")).as("tn"),
      sum(col("p")).as("tp")))
    def aTerm(c: Column, p: Column): Column =
      d38(c) * d38(c) - d38(p) * d38(p) - d38(c - p) * d38(c - p)
    val cand = local.join(broadcast(offsets), "_bucket")
      .select(col("v"), (col("_ln") + col("_no")).as("cl"),
        (col("_lp") + col("_po")).as("pl"))
      .crossJoin(tot)
      .filter(col("cl") < col("tn")) // right side must be non-empty
      .select(col("v"), col("cl"), col("pl"), col("tn"), col("tp"),
        ((aTerm(col("cl"), col("pl")) * d38(col("tn") - col("cl")) +
          aTerm(col("tn") - col("cl"), col("tp") - col("pl")) *
            d38(col("cl"))).cast("double") /
          (d38(col("cl")) * d38(col("tn") - col("cl"))).cast("double"))
          .as("_w"))
    val best = cand
      .agg(min(struct(col("_w"), col("v"), col("cl"), col("pl"),
        col("tn"), col("tp"))).as("_b"))
      .select(col("_b.*"))
    val g0 = aTerm(col("tn"), col("tp")).cast("double") /
      col("tn").cast("double")
    best.select(col("tn").as("n"), col("tp").as("n_pos"),
      col("v").as("threshold"), round(col("_w"), 6).as("gini_split"),
      round(g0 - col("_w"), 6).as("gain"),
      col("cl").as("left_n"), col("pl").as("left_pos"),
      (col("tn") - col("cl")).as("right_n"),
      (col("tp") - col("pl")).as("right_pos"))
      // a single-valued feature has NO candidate split: emit ZERO rows
      // (the min(struct) over the empty candidate set is one all-NULL
      // row, which the SQL form's empty `best` never produces)
      .filter(col("threshold").isNotNull)
  }

  /** Cramér's V effect size for the association between two
    * categorical columns — the [0, 1]-normalized complement of
    * [[chiSquare]]'s test statistic (chi2 grows with n; V answers
    * "how strong", not "how significant"). ONE row:
    * `(n, dof, chi2, v)`; V NULL for degenerate 1-level columns.
    *
    * Determinism: rides chiSquare's round-6 decimal-summed statistic
    * verbatim; V adds one division by an exact integer and one IEEE
    * sqrt, round 6. Scale: identical to chiSquare (one cell reduce +
    * bounded-grid epilogue).
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val minDim = least(col("n_rows_cat"), col("n_cols_cat")) - lit(1)
    chiSquare(df, aCol, bCol)
      .select(col("n"), col("dof"), col("chi2"),
        when(minDim > 0 && col("n") > 0,
          round(sqrt(col("chi2") /
            (col("n") * minDim).cast("double")), 6)).as("v"))
  }

  /** Offline single-changepoint estimate per event_type over the daily
    * count series: the split k maximizing the CUSUM deviation
    * |S_k − (k/n)·S_n| — equivalently the scaled integer statistic
    * g_k = |n·S_k − k·S_n|, evaluated for every prefix k ∈ [1, n)
    * (the AMOC/binary-segmentation step; x183's tabular CUSUM monitors
    * ONLINE drift, this answers the offline "when did the level shift").
    *
    * Determinism: S_k, k, n, S_n are exact integers, so g_k and the
    * argmax (strict >, i.e. earliest k on ties) are discrete-exact in
    * DECIMAL(38,0); only the reported before/after daily means are
    * final round-6 doubles of exact integer ratios.
    *
    * Scale: daily pre-aggregation is the corpus-scale reduce; the
    * per-type fold runs over the SPAN-BOUNDED day array (the
    * x153/x183 posture: days grow with calendar time, not corpus
    * size). Output per type: n_days, cp_day (last day of the "before"
    * regime), g_max, mean_before, mean_after.
    */
  def changepointDaily(events: DataFrame): DataFrame = {
    val mom = EventWindows.dailyCounts(events).groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      sum(d38(col("cnt"))).as("_tot"),
      array_sort(collect_list(struct(col("day"), col("cnt")))).as("_ser"))
    val zero = struct(lit(0L).as("k"), d38(lit(0)).as("cum"),
      d38(lit(-1)).as("g"), lit(-1L).as("cpDay"), d38(lit(0)).as("cpCum"),
      lit(0L).as("cpK"))
    val folded = mom.withColumn("_st",
      aggregate(col("_ser"), zero, (a, x) => {
        val k = a.getField("k") + lit(1L)
        val cum = a.getField("cum") + d38(x.getField("cnt"))
        val g = abs(d38(col("n_days")) * cum - d38(k) * col("_tot"))
        val better = k < col("n_days") && g > a.getField("g")
        struct(k.as("k"), cum.as("cum"),
          when(better, g).otherwise(a.getField("g")).as("g"),
          when(better, x.getField("day"))
            .otherwise(a.getField("cpDay")).as("cpDay"),
          when(better, cum).otherwise(a.getField("cpCum")).as("cpCum"),
          when(better, k).otherwise(a.getField("cpK")).as("cpK"))
      }))
    folded
      .filter(col("n_days") > 1)
      .select(col("event_type"), col("n_days"),
        col("_st.cpDay").as("cp_day"),
        // BIGINT keeps the statistic integer-exact in the compare
        // (n·S_k caps at days·events — bigint territory well past sf1)
        col("_st.g").cast("bigint").as("g_max"),
        round(col("_st.cpCum").cast("double") /
          col("_st.cpK").cast("double"), 6).as("mean_before"),
        round((col("_tot") - col("_st.cpCum")).cast("double") /
          (col("n_days") - col("_st.cpK")).cast("double"), 6)
          .as("mean_after"))
  }

  /** Poisson(1) CDF thresholds in 2^32 units: w(u) = #{k : u >= T_k}
    * over a 32-bit md5 uniform reproduces a Poisson(1) draw EXACTLY on
    * any engine — integer comparisons against pinned constants, no
    * float CDF. Truncated at w = 12 (tail mass ~6e-11 per draw; the
    * last threshold is 2^32 − 4 so w = 12 is reachable, 13 is not). */
  private val PoissonThresholds = Seq(
    1580030168L, 3160060337L, 3950075421L, 4213413783L, 4279248373L,
    4292415291L, 4294609777L, 4294923276L, 4294962463L, 4294966817L,
    4294967252L, 4294967292L)

  /** Poisson bootstrap CI for the mean of an integer-quantized metric —
    * THE cluster-scale bootstrap: instead of resampling n units B times
    * (which needs global coordination), each unit independently draws a
    * Poisson(1) replication weight per replicate, and every replicate
    * mean is a weighted aggregate (Σw·x / Σw). One row:
    * `(n_units, reps_used, mean, boot_se, ci_lo, ci_hi)`.
    *
    * Determinism: the weight is an exact integer function of
    * md5(salt, id, replicate) against [[PoissonThresholds]]; replicate
    * means are half-up 6-dp integer divisions (sign-aware); boot_se is
    * one double sqrt over exact DECIMAL moments of those 6-dp means;
    * the CI bounds are exact rank selections (lo = ceil(reps/40), hi =
    * reps+1−lo, i.e. 2.5/97.5 percentiles) — all replayed verbatim by
    * the oracle. Replicates that draw an empty resample (possible only
    * for tiny n) are excluded identically on both engines and surfaced
    * via reps_used.
    *
    * Scale: ONE pass over the units expanded reps× map-side (explode of
    * a bounded sequence, partially aggregated before the shuffle — the
    * exchange carries reps·partitions rows, not reps·n), then a ≤reps-
    * row epilogue. No driver collect, no global window over data rows
    * (the rank window runs on the ≤reps replicate frame).
    */
  def poissonBootstrapMean(units: DataFrame, idCol: String, valCol: String,
      reps: Int = 48, salt: String = "boot"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(reps >= 8 && reps <= 512, s"need reps in [8,512], got $reps")
    val u = units.select(col(idCol).as("_id"),
      col(valCol).cast("long").as("_x"))
    val tot = u.agg(count(lit(1)).as("_n"), sum(d38(col("_x"))).as("_s"))
      .select(col("_n"), halfUpMicro("_s", "_n").as("_m6"))
    val w = PoissonThresholds
      .map(t => when(col("_u") >= t, 1L).otherwise(0L)).reduce(_ + _)
    val rep = u
      .withColumn("_r", explode(expr(s"sequence(0, ${reps - 1})")))
      .withColumn("_d",
        md5(concat(lit(s"pb:$salt:"), col("_id"), lit(":"), col("_r"))))
      .withColumn("_u", expr(TextAnalysis.hexToIntSql("_d", 8)))
      .withColumn("_w", w)
      .groupBy(col("_r"))
      .agg(sum(col("_w")).as("_nr"),
        sum(d38(col("_w")) * d38(col("_x"))).as("_sr"))
      .filter(col("_nr") > 0)
      .select(col("_r"), halfUpMicro("_sr", "_nr").as("_mr"))
    // bounded epilogue: <= reps rows; rank window + exact moments
    val ranked = rep.withColumn("_rk",
      row_number().over(Window.orderBy(col("_mr"), col("_r"))).cast("long"))
    val loRank = (reps + 39) / 40 // ceil(2.5% of reps)
    val hiRank = reps + 1 - loRank
    val bd = reps.toDouble
    val eps = ranked.agg(
      count(lit(1)).as("reps_used"),
      // micro-unit means square past the BIGINT ceiling — exact DECIMAL
      sum(d38(col("_mr"))).as("_sm"),
      sum(d38(col("_mr")) * d38(col("_mr"))).as("_smm"),
      min(when(col("_rk") === loRank, col("_mr"))).as("_lo"),
      min(when(col("_rk") === hiRank, col("_mr"))).as("_hi"))
    tot.crossJoin(eps).select(
      col("_n").as("n_units"), col("reps_used"),
      (col("_m6").cast("double") / 1000000.0).as("mean"),
      when(col("reps_used") === reps, round(
        sqrt((d38(lit(reps)) * col("_smm") - col("_sm") * col("_sm"))
          .cast("double") / lit(bd * bd * (bd - 1.0))) / 1000000.0, 6))
        .as("boot_se"),
      // CI ranks are positions in the FULL reps-replicate order; if any
      // replicate dropped (empty resample), the percentile positions are
      // wrong — gate the CI like boot_se rather than emit a shifted bound
      when(col("reps_used") === reps,
        col("_lo").cast("double") / 1000000.0).as("ci_lo"),
      when(col("reps_used") === reps,
        col("_hi").cast("double") / 1000000.0).as("ci_hi"))
  }

  /** Kruskal–Wallis H test — "do the groups share one distribution?"
    * rank-based, the k-sample sibling of Mann–Whitney (x175). ONE row:
    * `(n, n_groups, h, h_adj)` with h_adj tie-corrected (NULL when all
    * values are tied — zero correction denominator).
    *
    * Exactness: runs on the (group, value) VALUE TABLE; the doubled
    * average rank of value v is the exact integer 2·cs_v − c_v + 1, so
    * each group's doubled rank-sum R2_g is an exact DECIMAL(38,0).
    * Per-group deviation terms are a fixed double op sequence over
    * those exact integers, rounded to 12 dp and summed as
    * DECIMAL(38,12) (reduction-order free); the tie correction
    * Σ(c³−c)/(n³−n) is exact-integer-derived. Oracle-mirrored verbatim.
    *
    * Scale: one (group, value) reduce, decomposed pooled prefix sums on
    * the |distinct| value table, a |groups|-row epilogue with one-row
    * broadcasts — the corpus is touched by ONE groupBy.
    */
  def kruskalWallis(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val svals = Checkpoints.materialize(
      df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"))
        .filter(col("_g").isNotNull && col("_v").isNotNull)
        .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c")))
    val pooled = Checkpoints.materialize(
      svals.groupBy(col("_v")).agg(sum(col("_c")).as("_pc"))
        .select(lit(0L).as("_one"), col("_v"), col("_pc")))
    val ppre = Ranking.withGroupPrefixSums(pooled, "_one",
      Seq("_v" -> true), "_pc", rankCol = "_pi", prefixCol = "_pcum")
    val totals = broadcast(pooled.agg(
      coalesce(sum(col("_pc")), lit(0L)).as("_n"),
      coalesce(sum(d38(col("_pc")) * d38(col("_pc")) * d38(col("_pc"))
        - d38(col("_pc"))), lit(0L).cast("decimal(38,0)")).as("_ties")))
    val perGroup = svals
      .join(ppre.select(col("_v"), col("_pc"), col("_pcum")), "_v")
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"),
        sum(d38(col("_c"))
          * d38(lit(2) * col("_pcum") - col("_pc") + 1)).as("_r2"))
    val nd = col("_n").cast("double")
    val rbar = col("_r2").cast("double") / (col("_ng").cast("double") * 2.0)
    val dev = rbar - (nd + 1.0) / 2.0
    val term = round(lit(12.0) * col("_ng").cast("double") * dev * dev
      / (nd * (nd + 1.0)), 12).cast("decimal(38,12)")
    val cubes = (d38(col("_n")) * d38(col("_n")) * d38(col("_n"))
      - d38(col("_n"))).cast("double")
    perGroup.crossJoin(totals)
      .select(col("_n"), col("_ties"), term.as("_t"))
      .groupBy(lit(1).as("_k"))
      .agg(max(col("_n")).as("_n"), max(col("_ties")).as("_ties"),
        count(lit(1)).as("n_groups"), sum(col("_t")).as("_h"))
      .select(col("_n").as("n"), col("n_groups"),
        round(col("_h").cast("double"), 6).as("h"),
        when(col("_ties").cast("double") =!= cubes,
          round(col("_h").cast("double")
            / (lit(1.0) - col("_ties").cast("double") / cubes), 6))
          .as("h_adj"))
  }

  /** Split conformal calibration per group — the distribution-free
    * prediction-interval primitive: the calibration half (even ids)
    * fits the trivial per-group model (half-up 6-dp mean), the
    * nonconformity score is the exact integer |v·10⁶ − mean₆|, and
    * q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest calibration score — the
    * finite-sample-valid conformal quantile. The test half (odd ids)
    * then audits empirical coverage of mean ± q̂. Per group:
    * `(grp, n_cal, n_test, center, qhat, coverage)` — center/q̂ in
    * value units, each an exact micro-unit integer divided by 10⁶, so
    * a downstream gate ([[graft.streaming.StreamingWindows
    * .streamingConformalGate]]) recovers the integers losslessly below
    * 2⁵³; coverage round 6, NULL when the test half is empty.
    *
    * Determinism: scores and the rank target
    * min(⌈(n_cal+1)(100−α₁₀₀)/100⌉, n_cal) are exact integers; q̂ is
    * an exact rank selection on the (group, score) VALUE TABLE via
    * decomposed prefix sums; coverage is one double division.
    *
    * Scale: one calibration reduce, one score map, prefix sums on
    * |distinct scores| rows, one equi-join of the test half against
    * the ≤|groups|-row q̂ table. No global window, no driver collect.
    */
  def conformalCalibration(df: DataFrame, groupCol: Column,
      valueCol: Column, idCol: Column, alpha100: Int = 10): DataFrame = {
    require(alpha100 >= 1 && alpha100 <= 50,
      s"need alpha100 in [1,50], got $alpha100")
    val base = df.select(groupCol.as("_g"), valueCol.cast("long").as("_v"),
        (pmod(idCol, lit(2L)) === 0).as("_cal"))
      .filter(col("_g").isNotNull && col("_v").isNotNull)
    val calStats = base.filter(col("_cal"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_nc"), sum(d38(col("_v"))).as("_sv"))
      .select(col("_g"), col("_nc"), halfUpMicro("_sv", "_nc").as("_m6"),
        // rank target, capped at n_cal (degenerate tiny groups
        // saturate at the max score instead of an undefined quantile)
        least(expr(s"((_nc + 1) * ${100 - alpha100} + 99) div 100"),
          col("_nc")).as("_tgt"))
    val scored = base.join(calStats.select(col("_g"), col("_m6")), "_g")
      .select(col("_g"), col("_cal"),
        abs(col("_v") * 1000000L - col("_m6")).as("_s"))
    val calScores = Checkpoints.materialize(
      scored.filter(col("_cal"))
        .groupBy(col("_g"), col("_s")).agg(count(lit(1)).as("_c")))
    val pre = Ranking.withGroupPrefixSums(calScores, "_g",
      Seq("_s" -> true), "_c", rankCol = "_i", prefixCol = "_cs")
    val qhat = pre.join(calStats.select(col("_g"), col("_tgt")), "_g")
      .filter(col("_cs") >= col("_tgt"))
      .groupBy(col("_g")).agg(min(col("_s")).as("_q"))
    val test = scored.filter(!col("_cal"))
      .join(qhat, "_g")
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("_s") <= col("_q"), 1L).otherwise(0L)).as("_cov"))
    calStats.select(col("_g"), col("_nc"), col("_m6")).join(qhat, "_g")
      .join(test, Seq("_g"), "left")
      .select(col("_g").as("grp"), col("_nc").as("n_cal"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        (col("_m6").cast("double") / 1000000.0).as("center"),
        (col("_q").cast("double") / 1000000.0).as("qhat"),
        when(col("n_test") > 0,
          round(col("_cov").cast("double")
            / col("n_test").cast("double"), 6)).as("coverage"))
  }
}
