package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Stats.d38

/** Online-experiment (A/B test) analysis over the events table.
  *
  * Reference precedent: the reference frame is the backing store of an
  * analytics product (athenianco/medvedi README — "pandas replacement"
  * for the Athenian web-app's computations); experiment readouts are the
  * canonical such computation. Everything here is deterministic hash
  * assignment + exact counting + one closed-form z-score, so the DuckDB
  * oracle replays it bitwise.
  *
  * Scale shape (100 TB events): ONE groupBy(user_id) shuffle with map-side
  * combine reduces the corpus to one row per user; the variant hash is
  * map-only on that reduced set; the per-variant rollup is a second,
  * cardinality-`nVariants` aggregate; the control row joins back by
  * broadcast. No window, no self-join, nothing driver-side.
  */
object Experiments {

  /** Deterministic variant assignment: first 8 hex chars of
    * md5("ab:<salt>:" + userCol) mod nVariants, appended as a `variant`
    * column. Engine-portable (DuckDB oracles replay the same md5 +
    * hexToIntSql arithmetic); stable across runs, machines, and engines
    * — the property a real experiment system needs so a user never
    * flips variants. The digest is materialized once per row before the
    * hex fold references it 8× (the Sketches bulk-column rule). The ONE
    * assignment implementation — abTest and
    * EventAnalytics.funnelByVariant both route through here, so the
    * hash spec cannot silently diverge between readouts.
    */
  def withVariant(df: DataFrame, userCol: String, nVariants: Int,
      salt: String): DataFrame =
    // typed-API digest (no SQL-string splicing: a quote in the salt or a
    // non-identifier userCol must not change the expression's shape)
    df.withColumn("_d", md5(concat(lit(s"ab:$salt:"), col(userCol))))
      .withColumn("variant",
        expr(s"(${TextAnalysis.hexToIntSql("_d", 8)} % ${nVariants}L)"))
      .drop("_d")

  /** Per-variant experiment readout with a two-proportion z-test against
    * variant 0 (control).
    *
    * A user is "in" the experiment if they have any event; they convert
    * if they have at least one `convType` event with `value >= minValue`
    * (a bare "has the event" predicate saturates on dense clickstreams —
    * every user purchases eventually — and a saturated pooled rate makes
    * the z-test degenerate). Output per variant: `variant, n_users,
    * n_conv, rate, lift_vs_control, z_score` — rate and lift rounded to
    * 6, z from the pooled-proportion formula
    * z = (p_i - p_0) / sqrt(p*(1-p)*(1/n_0+1/n_i)), p pooled. Control's
    * lift/z are NULL (not 0) so downstream code cannot mistake the
    * control row for a no-op treatment; z is also NULL when the pooled
    * rate is exactly 0 or 1 (zero standard error — ANSI-mode division
    * by zero otherwise, and the statistic is undefined there anyway).
    * An EMPTY control arm (no user hashed to variant 0) keeps every
    * treatment row, with NULL lift/z — the control frame is a one-row
    * conditional aggregate, never an empty cross join that would
    * silently discard the whole readout.
    */
  def abTest(events: DataFrame, convType: String = "purchase",
      minValue: Double = 150.0, nVariants: Int = 3,
      salt: String = "exp1"): DataFrame = {
    val perUser = withVariant(
      events.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === convType &&
          col("value") >= minValue, 1).otherwise(0)).as("conv")),
      "user_id", nVariants, salt)
    val perVariant = perUser
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val control = perVariant.agg(
      max(when(col("variant") === 0, col("n_users"))).as("n0"),
      max(when(col("variant") === 0, col("n_conv"))).as("c0"))
    val d = (c: Column) => c.cast("double")
    val joined = perVariant.crossJoin(broadcast(control))
    val p0 = d(col("c0")) / d(col("n0"))
    val pi = d(col("n_conv")) / d(col("n_users"))
    val pooled = d(col("c0") + col("n_conv")) / d(col("n0") + col("n_users"))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / d(col("n0")) + lit(1.0) / d(col("n_users"))))
    joined.select(
      col("variant"), col("n_users"), col("n_conv"),
      round(pi, 6).as("rate"),
      when(col("variant") =!= 0, round(pi - p0, 6)).as("lift_vs_control"),
      when(col("variant") =!= 0 && se =!= 0.0, round((pi - p0) / se, 6))
        .as("z_score"))
  }

  /** Per-variant Wilson 95% confidence interval for the conversion rate
    * — [[abTest]]'s interval companion (the Wilson score interval stays
    * sane at rates near 0/1 where the normal approximation collapses).
    * Per variant: `variant, n_users, n_conv, rate, ci_low, ci_high`
    * (round 6, unclamped — the raw Wilson bounds already sit in [0,1]).
    * Same assignment hash as abTest ([[withVariant]]); z = 1.96 and its
    * square are spelled as the same literals in the oracle, every
    * arithmetic step mirrored, so the bounds replay bitwise.
    *
    * Scale: abTest's shape minus the control join — one user reduce,
    * one |variants|-row rollup, closed-form scalar math.
    */
  def variantCi(events: DataFrame, convType: String = "purchase",
      minValue: Double = 150.0, nVariants: Int = 3,
      salt: String = "exp1"): DataFrame = {
    val perVariant = withVariant(
      events.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === convType &&
          col("value") >= minValue, 1).otherwise(0)).as("conv")),
      "user_id", nVariants, salt)
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val n = col("n_users").cast("double")
    val p = col("n_conv").cast("double") / n
    val z2 = lit(1.96) * lit(1.96)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n)) / denom
    perVariant.select(col("variant"), col("n_users"), col("n_conv"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("ci_low"),
      round(center + half, 6).as("ci_high"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013):
    * adjust each user's post-period revenue by their PRE-period
    * revenue — `y' = y − θ·(x − x̄)` with θ = cov(x,y)/var(x) pooled —
    * the industry-standard way to shrink A/B confidence intervals
    * without more traffic. Per variant: `(variant, n_users, mean_post,
    * mean_adj, theta, var_reduction)` where var_reduction = ρ²(x, y)
    * (the theoretical CI-width win), round 6; theta/adjustment NULL
    * when pre-period variance is 0. UNITS: mean_post/mean_adj are in
    * integer CENTS (the exact per-user sums), unlike [[diffInDiff]]
    * which divides through to dollars — the cent scale keeps θ and the
    * adjustment exact-integer-derived; divide by 100 downstream.
    *
    * Determinism: x/y are exact integer cent sums per user; every
    * moment is DECIMAL(38,0); θ, the adjusted means, and ρ² are a
    * fixed double op sequence over casts of those integers — mirrored
    * verbatim in the oracle. Assignment is [[withVariant]]'s md5.
    *
    * Scale: ONE user reduce (conditional sums split pre/post in the
    * same pass), one pooled-moment reduce, a |variants|-row epilogue
    * with one-row broadcasts.
    */
  def cupedReadout(events: DataFrame, cutNs: Long, nVariants: Int = 2,
      salt: String = "exp1"): DataFrame = {
    val cents = round(col("value").cast("double") * 100).cast("long")
    val perUser = withVariant(
      events.groupBy(col("user_id")).agg(
        coalesce(sum(when(col("ts_ns") < cutNs, cents)), lit(0L))
          .as("_x"),
        coalesce(sum(when(col("ts_ns") >= cutNs, cents)), lit(0L))
          .as("_y")),
      "user_id", nVariants, salt)
    val pooled = broadcast(perUser.agg(
      count(lit(1)).as("_n"),
      sum(d38(col("_x"))).as("_sx"), sum(d38(col("_y"))).as("_sy"),
      sum(d38(col("_x")) * d38(col("_x"))).as("_sxx"),
      sum(d38(col("_x")) * d38(col("_y"))).as("_sxy"),
      sum(d38(col("_y")) * d38(col("_y"))).as("_syy")))
    val perVar = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(d38(col("_x"))).as("_vx"), sum(d38(col("_y"))).as("_vy"))
    val n38 = d38(col("_n"))
    val varX = (n38 * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val varY = (n38 * col("_syy") - col("_sy") * col("_sy")).cast("double")
    val covXY = (n38 * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val theta = covXY / varX
    val nU = col("n_users").cast("double")
    val meanPost = col("_vy").cast("double") / nU
    val meanAdj = meanPost - theta *
      (col("_vx").cast("double") / nU -
        col("_sx").cast("double") / col("_n").cast("double"))
    perVar.crossJoin(pooled).select(
      col("variant"), col("n_users"),
      round(meanPost, 6).as("mean_post"),
      when(varX =!= 0.0, round(meanAdj, 6)).as("mean_adj"),
      when(varX =!= 0.0, round(theta, 6)).as("theta"),
      when(varX =!= 0.0 && varY =!= 0.0,
        round(covXY * covXY / (varX * varY), 6)).as("var_reduction"))
  }

  /** Wald SPRT audit per variant: replay the experiment's users in
    * arrival order (first event, tie user_id) and report where the
    * sequential log-likelihood ratio for H1: rate = p1 vs H0: rate = p0
    * first crosses the Wald boundaries ln((1-beta)/alpha) /
    * ln(beta/(1-alpha)) — the "could we have stopped early, and which
    * way" readout a sequential-testing culture runs next to the fixed-
    * horizon z-test (x131).
    *
    * Determinism: a Bernoulli LLR takes only two per-user increments,
    * ln(p1/p0) for a converter and ln((1-p1)/(1-p0)) otherwise; both are
    * rounded to 12 and carried as DECIMAL(13,12), so the LLR after k
    * users is EXACTLY c*la + (k-c)*lb — an integer-weighted sum of two
    * pinned decimals, independent of summation order on both engines.
    * Crossing tests compare decimals, so `first_cross_n` and `decision`
    * are discrete-exact; only the reported `llr_end` is a final round-6
    * double.
    *
    * Scale: ONE user_id shuffle to per-user rows, then the decomposed
    * per-variant prefix sums of [[graft.ops.Ranking.withGroupPrefixSums]]
    * (range partition + per-partition window + an O(partitions) offset
    * broadcast) — never a single-task per-variant window.
    */
  def sprtAudit(events: DataFrame, convType: String = "purchase",
      minValue: Double = 150.0, nVariants: Int = 3, salt: String = "exp1",
      p0: Double = 0.04, p1: Double = 0.08,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need distinct rates in (0,1), got p0=$p0 p1=$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"need error rates in (0,1), got alpha=$alpha beta=$beta")
    val perUser = withVariant(
      events.groupBy(col("user_id"))
        .agg(min(col("ts_ns")).as("_entry"),
          max(when(col("event_type") === convType &&
            col("value") >= minValue, 1L).otherwise(0L)).as("conv")),
      "user_id", nVariants, salt)
    val pre = Ranking.withGroupPrefixSums(perUser, "variant",
      Seq("_entry" -> true, "user_id" -> true), "conv",
      rankCol = "k", prefixCol = "c")
    val d1312 = (x: Column) => x.cast("decimal(13,12)")
    val d12 = (x: Column) => x.cast("decimal(12,0)")
    val la = d1312(round(log(lit(p1) / lit(p0)), 12))
    val lb = d1312(round(log(lit(1.0 - p1) / lit(1.0 - p0)), 12))
    val up = d1312(round(log(lit(1.0 - beta) / lit(alpha)), 12))
    val lo = d1312(round(log(lit(beta) / lit(1.0 - alpha)), 12))
    val llr = d12(col("c")) * la + d12(col("k") - col("c")) * lb
    val rows = pre.select(col("variant"), col("k"), col("c"),
      llr.as("_llr"), (llr >= up).as("_hi"), (llr <= lo).as("_lo"))
    rows.groupBy(col("variant")).agg(
        max(col("k")).as("n_users"),
        max(col("c")).as("n_conv"),
        max_by(col("_llr"), col("k")).as("_llrEnd"),
        min(when(col("_hi") || col("_lo"), col("k"))).as("_kx"),
        min(when(col("_hi"), col("k"))).as("_kh"))
      .select(col("variant"), col("n_users"), col("n_conv"),
        round(col("_llrEnd").cast("double"), 6).as("llr_end"),
        coalesce(col("_kx"), lit(-1L)).as("first_cross_n"),
        when(col("_kx").isNull, lit("continue"))
          .when(col("_kh") <=> col("_kx"), lit("accept_h1"))
          .otherwise(lit("accept_h0")).as("decision"))
  }

  /** Difference-in-differences readout on per-user purchase spend
    * around the corpus midpoint day.
    *
    * Panel form: each user contributes pre = cents spent strictly
    * before the split day and post = cents from the split day on (0
    * when absent — the user universe is "has any event", so a user who
    * only spends post still anchors a pre of 0). The per-user delta
    * post−pre is an exact BIGINT of cents; DiD = mean(delta | treat) −
    * mean(delta | control) with SE from the two arms' exact
    * DECIMAL(38,0) moments — the standard two-sample panel-DiD
    * estimator. Split day = floor((min_day + max_day + 1) / 2), integer
    * arithmetic on a ONE-ROW broadcast bounds frame (x57 pattern).
    *
    * Scale: a 5-row bounds/day scan, ONE user_id shuffle with map-side
    * combine, a 2-row arm rollup; the treat/control pivot is a
    * conditional aggregate, not a join.
    */
  def diffInDiff(events: DataFrame, convType: String = "purchase",
      salt: String = "did1"): DataFrame = {
    val day = EventWindows.epochDay
    val bounds = broadcast(events
      .select(day.as("_d"))
      .agg(min(col("_d")).as("_dmin"), max(col("_d")).as("_dmax"))
      .select(expr(
        "((_dmin + _dmax + 1) div 2) + (CASE WHEN (_dmin + _dmax + 1) % 2 < 0 THEN -1 ELSE 0 END)")
        .as("_split")))
    val cents = when(col("event_type") === convType,
      round(col("value") * 100).cast("bigint")).otherwise(0L)
    val perUser = withVariant(
      events.crossJoin(bounds)
        .groupBy(col("user_id"))
        .agg(sum(when(day < col("_split"), cents).otherwise(0L)).as("_pre"),
          sum(when(day >= col("_split"), cents).otherwise(0L)).as("_post")),
      "user_id", 2, salt)
      .select(col("variant"), (col("_post") - col("_pre")).as("_delta"))
    val arms = perUser.groupBy(col("variant")).agg(
      count(lit(1)).as("_n"),
      sum(d38(col("_delta"))).as("_s"),
      sum(d38(col("_delta")) * d38(col("_delta"))).as("_q"))
    val cell = (v: Int, c: Column) => max(when(col("variant") === v, c))
    val one = arms.agg(
      cell(1, col("_n")).as("n_treat"), cell(0, col("_n")).as("n_ctrl"),
      cell(1, col("_s")).as("_st"), cell(0, col("_s")).as("_sc"),
      cell(1, col("_q")).as("_qt"), cell(0, col("_q")).as("_qc"))
    val nT = col("n_treat").cast("double")
    val nC = col("n_ctrl").cast("double")
    // dollars; sample variance of the per-user delta per arm
    val mT = col("_st").cast("double") / nT / lit(100.0)
    val mC = col("_sc").cast("double") / nC / lit(100.0)
    val vT = (col("_qt").cast("double") -
      col("_st").cast("double") * col("_st").cast("double") / nT) /
      (nT - lit(1.0)) / lit(10000.0)
    val vC = (col("_qc").cast("double") -
      col("_sc").cast("double") * col("_sc").cast("double") / nC) /
      (nC - lit(1.0)) / lit(10000.0)
    val se = sqrt(vT / nT + vC / nC)
    // SE undefined below 2 users per arm (n-1 denominator) or at zero
    // variance; NULL beats a planted Infinity/NaN in a readout table
    val seOk = col("n_treat") > 1 && col("n_ctrl") > 1 && se =!= 0.0
    one.select(col("n_treat"), col("n_ctrl"),
      round(mT, 6).as("mean_delta_treat"),
      round(mC, 6).as("mean_delta_ctrl"),
      round(mT - mC, 6).as("did"),
      when(seOk, round(se, 6)).as("se"),
      when(seOk, round((mT - mC) / se, 6)).as("t_stat"))
  }

  /** Sample-ratio-mismatch (SRM) check — the first gate any experiment
    * readout must pass: with deterministic hashing into `nVariants`
    * equal arms, do the observed arm sizes fit the uniform design?
    * Chi-square GoF against equal expected counts, computed exactly:
    * χ² = Σ_v (K·n_v − n)² / (K·n) — every numerator is an exact
    * integer, each term one IEEE division rounded to 12 and summed as
    * DECIMAL(28,12), totals surfaced via decimal round (reduction-order
    * free, both engines). `srm_flag` fires at `chi2 > critical` — pass
    * the α-appropriate critical value for k−1 dof (default 13.816 =
    * α 0.001 at 2 dof, the industry-standard SRM alarm level).
    *
    * Per-variant rows: variant, n_users, dev (n_v − n/K in exact
    * 6-dp), chi2, srm_flag — chi2/flag repeated per row (x57 one-row
    * broadcast pattern) so the table is self-contained. Every designed
    * arm 0..K−1 appears even with ZERO assigned users (left join onto
    * the generated arm list, zero-filled) — an arm receiving no
    * traffic is the most extreme mismatch and must contribute its full
    * (n/K)²/(n/K) deviation term, not vanish from the groupBy.
    *
    * Scale: ONE user_id reduce, a ≤K-row rollup, a one-row broadcast.
    */
  def srmCheck(events: DataFrame, nVariants: Int = 3,
      salt: String = "exp1", critical: Double = 13.816): DataFrame = {
    require(nVariants >= 2, s"need nVariants >= 2, got $nVariants")
    val observed = withVariant(
      events.groupBy(col("user_id")).agg(count(lit(1)).as("_e")),
      "user_id", nVariants, salt)
      .groupBy(col("variant")).agg(count(lit(1)).as("_obs"))
    val perVariant = events.sparkSession.range(nVariants.toLong)
      .select(col("id").as("variant"))
      .join(observed, Seq("variant"), "left")
      .select(col("variant"), coalesce(col("_obs"), lit(0L)).as("n_users"))
    val tot = broadcast(perVariant.agg(
      coalesce(sum(col("n_users")), lit(0L)).as("_n")))
    val kL = lit(nVariants.toLong)
    val num = kL * col("n_users") - col("_n")
    val terms = perVariant.crossJoin(tot)
      // square in DOUBLE: a worst-case deviation ~n squares past the
      // BIGINT ceiling at platform user counts
      .withColumn("_t", round(
        num.cast("double") * num.cast("double") /
          (kL * col("_n")).cast("double"), 12)
        .cast("decimal(28,12)"))
      // dev = n_v − n/K at exact 6 dp: (10^6·(K·n_v − n)) / K integer-
      // rounded (half-up, signed)
      .withColumn("_dev6", expr(
        s"""(CASE WHEN ${nVariants}L * n_users - _n < 0 THEN -1L ELSE 1L END)
           | * ((2L * abs(${nVariants}L * n_users - _n) * 1000000L
           |      + ${nVariants}L) div (2L * ${nVariants}L))"""
          .stripMargin))
    val chi = broadcast(terms.agg(
      round(sum(col("_t")), 6).cast("double").as("chi2")))
    terms.crossJoin(chi)
      .select(col("variant"), col("n_users"),
        (col("_dev6").cast("double") / lit(1000000.0)).as("dev"),
        col("chi2"),
        (col("chi2") > lit(critical)).as("srm_flag"))
  }

  /** Cochran–Mantel–Haenszel test across strata — "does treatment
    * associate with conversion AFTER controlling for a confounder?"
    * (here: the user's entry day-of-week, the classic seasonality
    * confounder). Each stratum contributes its 2×2 table; the
    * statistic pools Σ(a_i − E_i) against ΣV_i with the 0.5 continuity
    * correction (clamped at 0), and the Mantel–Haenszel common odds
    * ratio pools Σ(a·d/n)/Σ(b·c/n). ONE row:
    * `(n_strata, sum_treated_conv, cmh, or_mh)` (round 6; or_mh NULL
    * when its denominator is 0, cmh NULL when ΣV = 0).
    *
    * Determinism: cell counts are exact integers (md5 two-arm
    * assignment, exact conversion predicate, integer day-of-week);
    * E_i, V_i, and the OR terms are each ONE double division of exact
    * DECIMAL(38,0) products, rounded to 12 dp and summed as
    * DECIMAL(38,12); the epilogue is a fixed double op sequence.
    * Strata with n < 2 are excluded identically on both engines (V
    * undefined).
    *
    * Scale: ONE user reduce (entry + conversion in one pass), a ≤7-row
    * stratum rollup, a one-row epilogue.
    */
  def cmhTest(events: DataFrame, convType: String = "purchase",
      minValue: Double = 150.0, salt: String = "exp1"): DataFrame = {
    val perUser = withVariant(
      events.groupBy(col("user_id")).agg(
        max(when(col("event_type") === convType
          && col("value") >= minValue, 1L).otherwise(0L)).as("_conv"),
        min(col("ts_ns")).as("_entry")),
      "user_id", 2, salt)
    val cells = perUser
      .withColumn("_st", pmod(expr("_entry div 86400000000000") + 4,
        lit(7L)))
      .groupBy(col("_st"))
      .agg(
        sum(when(col("variant") === 1 && col("_conv") === 1, 1L)
          .otherwise(0L)).as("_n11"),
        sum(when(col("variant") === 1 && col("_conv") === 0, 1L)
          .otherwise(0L)).as("_n10"),
        sum(when(col("variant") === 0 && col("_conv") === 1, 1L)
          .otherwise(0L)).as("_n01"),
        sum(when(col("variant") === 0 && col("_conv") === 0, 1L)
          .otherwise(0L)).as("_n00"))
      .withColumn("_n",
        col("_n11") + col("_n10") + col("_n01") + col("_n00"))
      .filter(col("_n") >= 2)
    val r1 = col("_n11") + col("_n10"); val r0 = col("_n01") + col("_n00")
    val c1 = col("_n11") + col("_n01"); val c0 = col("_n10") + col("_n00")
    def t12(c: Column) = round(c, 12).cast("decimal(38,12)")
    val e = t12((d38(r1) * d38(c1)).cast("double")
      / col("_n").cast("double"))
    val v = t12((d38(r1) * d38(r0) * d38(c1) * d38(c0)).cast("double")
      / (d38(col("_n")) * d38(col("_n")) * d38(col("_n") - 1))
        .cast("double"))
    val orN = t12((d38(col("_n11")) * d38(col("_n00"))).cast("double")
      / col("_n").cast("double"))
    val orD = t12((d38(col("_n10")) * d38(col("_n01"))).cast("double")
      / col("_n").cast("double"))
    val agg = cells
      .select(col("_n11").as("_a"), e.as("_e"), v.as("_v"),
        orN.as("_on"), orD.as("_od"))
      .agg(count(lit(1)).as("n_strata"),
        sum(col("_a")).as("sum_treated_conv"),
        sum(col("_e")).as("_se"), sum(col("_v")).as("_sv"),
        sum(col("_on")).as("_son"), sum(col("_od")).as("_sod"))
    val g = greatest(
      abs(col("sum_treated_conv").cast("double")
        - col("_se").cast("double")) - 0.5, lit(0.0))
    agg.select(col("n_strata"), col("sum_treated_conv"),
      when(col("_sv").cast("double") > 0.0,
        round(g * g / col("_sv").cast("double"), 6)).as("cmh"),
      when(col("_sod").cast("double") > 0.0,
        round(col("_son").cast("double")
          / col("_sod").cast("double"), 6)).as("or_mh"))
  }

  /** O'Brien–Fleming boundaries C·√(K/k) for K equal-information looks,
    * pinned to round-6 decimals JVM-side (C = 2.0403, the published
    * two-sided α = 0.05, K = 5 OBF critical value) — the plan and the
    * oracle embed the SAME literals, so libm sqrt cannot skew parity. */
  private[graft] def obfBoundaries(looks: Int,
      c: Double = 2.0403): Seq[BigDecimal] =
    (1 to looks).map(k => BigDecimal(c * math.sqrt(looks.toDouble / k))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP))

  /** Group-sequential experiment audit — the interim-analysis
    * discipline an always-on experimentation platform needs: users in
    * arrival order are cut into `looks` equal-information looks, and
    * at each look the CUMULATIVE two-proportion pooled z (x131's
    * formula) is compared against the pinned O'Brien–Fleming boundary
    * for that look ([[obfBoundaries]] — conservative early, nominal at
    * the final look; the family-wise α stays 0.05 across all K
    * interims). One row per look: `(look, n_cum, n_treat, conv_treat,
    * n_ctrl, conv_ctrl, z, boundary, crossed)` (z round 6, NULL when
    * an arm is empty or the pooled rate degenerates).
    *
    * Determinism: arrival order is the exact decomposed global rank on
    * an (entry, user_id) projection (no-rider contract; counts join
    * back on the unique user id); look = ⌈rank·K/n⌉ in pure integer
    * arithmetic; cumulative cells are exact integers; z is one fixed
    * double op sequence; boundaries are pinned literals.
    *
    * Scale: ONE user reduce, the decomposed rank, a ≤K-row epilogue
    * (its running sums run on K rows, not data).
    */
  def groupSequentialAudit(events: DataFrame, convType: String = "purchase",
      minValue: Double = 150.0, salt: String = "exp1",
      looks: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(looks >= 2 && looks <= 20, s"need looks in [2,20], got $looks")
    val perUser = withVariant(
      events.groupBy(col("user_id")).agg(
        max(when(col("event_type") === convType
          && col("value") >= minValue, 1L).otherwise(0L)).as("_conv"),
        min(col("ts_ns")).as("_entry")),
      "user_id", 2, salt)
    val ranked = Ranking.withGlobalRanks(
        perUser.select(col("_entry"), col("user_id")),
        Seq("_entry" -> true, "user_id" -> true))
      .select(col("user_id"), col("rnk"))
    val tot = broadcast(perUser.agg(count(lit(1)).as("_n")))
    val cells = perUser.join(ranked, "user_id").crossJoin(tot)
      .withColumn("look", expr(s"(rnk * ${looks}L + _n - 1) div _n"))
      .groupBy(col("look"))
      .agg(
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("_nt"),
        sum(when(col("variant") === 1, col("_conv")).otherwise(0L))
          .as("_ct"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("_nc"),
        sum(when(col("variant") === 0, col("_conv")).otherwise(0L))
          .as("_cc"))
    // cumulative over the <= looks rows — a bounded epilogue window
    val w = Window.orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("nt", sum(col("_nt")).over(w))
      .withColumn("ct", sum(col("_ct")).over(w))
      .withColumn("nc", sum(col("_nc")).over(w))
      .withColumn("cc", sum(col("_cc")).over(w))
    val ntD = col("nt").cast("double"); val ncD = col("nc").cast("double")
    val p = (col("ct") + col("cc")).cast("double") /
      (col("nt") + col("nc")).cast("double")
    val se = sqrt(p * (lit(1.0) - p) * (lit(1.0) / ntD + lit(1.0) / ncD))
    val z = when(col("nt") > 0 && col("nc") > 0 && se =!= 0.0,
      round((col("ct").cast("double") / ntD
        - col("cc").cast("double") / ncD) / se, 6))
    val bs = obfBoundaries(looks)
    val boundary = coalesce(bs.zipWithIndex.map { case (b, i) =>
      when(col("look") === (i + 1).toLong, lit(b.toDouble))
    }: _*)
    cum.select(col("look"), (col("nt") + col("nc")).as("n_cum"),
        col("nt").as("n_treat"), col("ct").as("conv_treat"),
        col("nc").as("n_ctrl"), col("cc").as("conv_ctrl"),
        z.as("z"), boundary.as("boundary"),
        coalesce(abs(z) >= boundary, lit(false)).as("crossed"))
  }
}
