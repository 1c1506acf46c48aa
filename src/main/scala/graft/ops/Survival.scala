package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan-Meier survival analysis over the events table: the "how long
  * do users stay" readout (churn = the death event, users still active
  * near the corpus edge are right-censored). Reference precedent: the
  * reference frame backs an analytics product (athenianco/medvedi
  * README); survival/retention curves are the canonical lifetime
  * computation downstream of its groupby/window surface, and the KM
  * estimator is the standard nonparametric form.
  *
  * Scale shape (100 TB events): ONE user_id shuffle with map-side
  * combine reduces the corpus to a (first_day, last_day) row per user;
  * the corpus max day is a one-row broadcast; lifetimes then reduce to a
  * per-lifetime-day table bounded by the TIME SPAN (≤ a few thousand
  * rows for a decade of days), never by event or user volume. The
  * at-risk window and the survival prefix-product both run over that
  * tiny table — the global window is post-aggregate, not a data-scale
  * sort.
  *
  * Determinism: survival at time t is a PRODUCT of per-time factors
  * (1 - d_i/n_i). Float multiplication is order-sensitive, so both
  * engines must fold in the same order: the Spark side folds a
  * sort_array'd factor list left-to-right with `aggregate`, and the
  * DuckDB oracle replays the identical ascending fold with a recursive
  * CTE (never `product()`, whose internal segment-tree order is
  * unspecified) — same IEEE ops in the same order, bitwise-equal before
  * the final round.
  */
object Survival {

  /** KM estimator rows, one per distinct observed lifetime `t_days`
    * (days from a user's first to last active day): `n_risk` users with
    * lifetime >= t, `n_churned` users whose observation ENDED at t (last
    * active day at least `censorDays` before the corpus max day — they
    * went quiet and stayed quiet), `n_censored` users last seen at t but
    * too close to the corpus edge to call (still-alive at cutoff), and
    * `survival` = Π_{t_i <= t} (1 - d_i / n_i) rounded to 6.
    */
  def kaplanMeier(events: DataFrame, censorDays: Long = 7): DataFrame = {
    require(censorDays >= 0, s"need censorDays >= 0, got $censorDays")
    val day = EventWindows.epochDay
    val per = events.groupBy(col("user_id"))
      .agg(min(day).as("_first"), max(day).as("_last"))
    val mx = broadcast(per.agg(max(col("_last")).as("_max_day")))
    val lifetimes = per.crossJoin(mx)
      .select((col("_last") - col("_first")).as("t_days"),
        (col("_last") <= col("_max_day") - censorDays).as("_churned"))
    val perT = lifetimes.groupBy(col("t_days"))
      .agg(sum(when(col("_churned"), 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("_churned"), 0L).otherwise(1L)).as("n_censored"))
    // at-risk = reverse cumulative count over the tiny per-day table
    val wDesc = Window.orderBy(col("t_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val km = perT.withColumn("n_risk",
      sum(col("n_churned") + col("n_censored")).over(wDesc))
    // every factor, sorted ascending by t (struct sort on the first
    // field), folded per row over the t_i <= t prefix — O(T²) over a
    // span-bounded T, and the fold order is pinned for the oracle
    val factors = broadcast(km.agg(
      sort_array(collect_list(struct(col("t_days").as("t"),
        (lit(1.0) - col("n_churned").cast("double") /
          col("n_risk").cast("double")).as("f")))).as("_fs")))
    km.crossJoin(factors)
      .select(col("t_days"), col("n_risk"), col("n_churned"),
        col("n_censored"),
        round(expr("aggregate(filter(_fs, x -> x.t <= t_days), " +
          "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x.f)"), 6).as("survival"))
  }

  /** Two-group log-rank test over [[kaplanMeier]]'s lifetime model: do
    * cohort A and cohort B churn at the same rate? `isA` assigns each
    * user a cohort (a deterministic predicate over user_id — e.g. the
    * Experiments variant hash). ONE row: `n_a, n_b, o_a, e_a, chi2`
    * (observed vs hypergeometric-expected group-A churn events and the
    * 1-dof statistic (O−E)²/V; e_a/chi2 round 6, chi2 NULL when V = 0).
    *
    * Determinism: O is an exact integer; each churn time's E term
    * n_Aj·d_j/n_j and variance term
    * d_j·n_Aj·n_Bj·(n_j−d_j)/(n_j²·(n_j−1)) is a double from exact
    * integers, rounded to 12 and SUMMED AS DECIMAL (the x103
    * order-independent convention).
    *
    * Scale: rides kaplanMeier's reduction — one user_id shuffle to
    * (first, last, cohort) rows, then everything is over the
    * span-bounded (t, cohort) grid (the windows sort ≤ 2·span rows).
    */
  def logRank(events: DataFrame, isA: org.apache.spark.sql.Column,
      censorDays: Long = 7): DataFrame = {
    require(censorDays >= 0, s"need censorDays >= 0, got $censorDays")
    val day = EventWindows.epochDay
    val per = events.groupBy(col("user_id"))
      .agg(min(day).as("_first"), max(day).as("_last"), max(isA).as("_a"))
    val mx = broadcast(per.agg(max(col("_last")).as("_max_day")))
    val lifetimes = per.crossJoin(mx)
      .select((col("_last") - col("_first")).as("t"), col("_a"),
        (col("_last") <= col("_max_day") - censorDays).as("_churned"))
    val perTG = lifetimes.groupBy(col("t"), col("_a"))
      .agg(sum(when(col("_churned"), 1L).otherwise(0L)).as("_d"),
        count(lit(1)).as("_e")) // _e = all ending observations at (t, g)
    // full (t x cohort) grid: a cohort with no row at t still has an
    // at-risk count there (2-row cohort frame broadcast — bounded)
    val spark = events.sparkSession
    import spark.implicits._
    val grid = perTG.select(col("t")).distinct()
      .crossJoin(broadcast(Seq(true, false).toDF("_a")))
    val filled = grid.join(perTG, Seq("t", "_a"), "left")
      .na.fill(0L, Seq("_d", "_e"))
    val wDesc = Window.partitionBy(col("_a")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = filled.withColumn("_n", sum(col("_e")).over(wDesc))
    // one row per time: group-A counts vs pooled counts
    val perT = risk.groupBy(col("t"))
      .agg(sum(when(col("_a"), col("_d")).otherwise(0L)).as("da"),
        sum(col("_d")).as("d"),
        sum(when(col("_a"), col("_n")).otherwise(0L)).as("na"),
        sum(col("_n")).as("n"))
      .filter(col("d") >= 1 && col("n") >= 1)
    val dD = col("d").cast("double")
    val naD = col("na").cast("double")
    val nD = col("n").cast("double")
    val eTerm = naD * dD / nD
    val vTerm = when(col("n") >= 2,
      dD * naD * (nD - naD) * (nD - dD)
        / (nD * nD * (nD - lit(1.0)))).otherwise(lit(0.0))
    val agg = perT.agg(
      sum(col("da")).as("_oa"),
      sum(round(eTerm, 12).cast("decimal(28,12)")).as("_ea"),
      sum(round(vTerm, 12).cast("decimal(28,12)")).as("_v"))
    val tot = broadcast(lifetimes.agg(
      sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_a"), 0L).otherwise(1L)).as("n_b")))
    val oMinusE = col("_oa").cast("double") - col("_ea").cast("double")
    agg.crossJoin(tot)
      .select(col("n_a"), col("n_b"), col("_oa").as("o_a"),
        round(col("_ea").cast("double"), 6).as("e_a"),
        when(col("_v").cast("double") > 0.0,
          round(oMinusE * oMinusE / col("_v").cast("double"), 6))
          .as("chi2"))
  }
}
