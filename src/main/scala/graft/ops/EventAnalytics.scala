package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Stats.d38

/** Behavioral analytics over the events table: ordered funnels, cohort
  * retention, event-transition matrices, rolling active-user counts.
  * (North-star extension surface; the reference's event consumers — see
  * medvedi's README usage examples — run exactly these shapes downstream
  * of its DataFrame ops.)
  *
  * All time arithmetic is integer epoch math on the `ts_ns` column
  * (Tables.events contract) so every query replays bitwise in the DuckDB
  * oracle — no timezone, DST, or float-precision traps. Every daily
  * series here reads one core in [[EventWindows]]: `epochDay`, the
  * `(event_type, day, cnt)` [[EventWindows.dailyCounts]] and its
  * zero-filled grid [[EventWindows.denseDaily]].
  *
  * Scale notes (100 TB events):
  *  - Every operator here shuffles by `user_id` (or by day for
  *    [[rollingActives]]) exactly once per stage, and every aggregation is
  *    map-side combinable. Nothing partitions by a low-cardinality key.
  *  - [[funnel]]'s per-stage frames shrink monotonically (stage k+1 users
  *    ⊆ stage k users) and each stage is a materialization barrier, so
  *    the chain is k type-pruned events scans joined against tiny,
  *    shrinking, AQE-broadcastable states; [[funnelOnePass]] is the
  *    single-exchange alternative when the step types are broad.
  */
object EventAnalytics {

  private def sec: Column = EventWindows.epochSec

  /** Ordered conversion funnel: for each prefix of `steps`, the number of
    * users who performed those event types in order (each step strictly
    * after the previous one; the earliest qualifying occurrence is taken,
    * the classic "unbounded window, first touch" funnel semantics).
    *
    * Returns (step, event_type, n_users, rate_vs_first, rate_vs_prev),
    * one row per step, ordered; rates are round(·, 6) doubles and 1.0 for
    * the first step.
    *
    * Scale: stage 1 is one map-side-combined min-aggregate of the events
    * scan; each later stage joins the (user_id, t_prev) state — which only
    * ever shrinks — against the pre-filtered events of that type (the
    * type predicate reaches each parquet scan). All joins and aggregates
    * key on user_id: no skewed or low-cardinality key, and AQE broadcasts
    * the state side as soon as it fits. Each stage state is MATERIALIZED:
    * the lazy chain would inline every earlier stage's subtree into every
    * later one (k(k+1)/2 events scans for k steps — PlanSpec pins the
    * returned plan at zero parquet scans instead).
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    funnelEpilogue(stateChain(events, steps, None), steps)
  }

  /** The materialized per-user stage-state chain shared by every funnel
    * form: state k = (user_id, t0, t), the earliest completion of the
    * ordered prefix steps(0..k) (bounded to t0 + horizon when given).
    * t0 rides along so cohort segmentation and the horizon check are
    * per-row expressions, never extra joins. */
  private def stateChain(events: DataFrame, steps: Seq[String],
      horizonNs: Option[Long]): Seq[DataFrame] = {
    val ev = events.select(col("user_id"), col("event_type"), col("ts_ns"))
    val stage1 = Checkpoints.materialize(
      ev.filter(col("event_type") === steps.head)
        .groupBy(col("user_id")).agg(min(col("ts_ns")).as("t"))
        .select(col("user_id"), col("t").as("t0"), col("t")))
    steps.tail.scanLeft(stage1) { (prev, step) =>
      val within = ev.filter(col("event_type") === step)
        .join(prev, "user_id")
        .filter(col("ts_ns") > col("t"))
      val bounded = horizonNs
        .map(h => within.filter(col("ts_ns") <= col("t0") + h))
        .getOrElse(within)
      Checkpoints.materialize(
        bounded.groupBy(col("user_id"), col("t0"))
          .agg(min(col("ts_ns")).as("t"))
          .select(col("user_id"), col("t0"), col("t")))
    }
  }

  /** Time-bounded funnel: like [[funnel]], but later steps only count
    * within `horizonSec` of the user's FIRST-step time — the "converted
    * within 7 days of signup" form every product funnel actually ships.
    * Same output shape and scale behavior; each stage state carries
    * (user_id, t0, t) so the horizon check is a per-row filter, not an
    * extra join.
    */
  def funnelWithin(events: DataFrame, steps: Seq[String],
      horizonSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(horizonSec > 0, s"need horizonSec > 0, got $horizonSec")
    funnelEpilogue(
      stateChain(events, steps, Some(horizonSec * 1000000000L)), steps)
  }

  /** Cohort-segmented funnel: the [[funnelWithin]] chain grouped by the
    * user's first-step period — "how does signup-week X convert?", the
    * cross of x114 and x116. Returns (cohort_start, step, event_type,
    * n_users, rate_vs_first) with the rate against the SAME cohort's
    * step-1 count; only reached (cohort, step) cells are emitted, and
    * step 1 is present for every emitted cohort by construction (stage-k
    * membership implies stage 1).
    *
    * Scale: identical to the funnel chain (t0 already rides the states);
    * the cohort key is a per-row expression over t0 — no extra join, and
    * the rate window partitions by cohort over ≤ cohorts·steps rows.
    */
  def cohortFunnel(events: DataFrame, steps: Seq[String],
      periodSec: Long = 7L * 86400,
      horizonSec: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(horizonSec.forall(_ > 0), s"need horizonSec > 0, got $horizonSec")
    val states = stateChain(events, steps, horizonSec.map(_ * 1000000000L))
    val t0sec = expr(EventWindows.floorDivSql("t0", 1000000000L))
    val counts = states.zipWithIndex.map { case (st, i) =>
      st.select(EventWindows.winStart(t0sec, periodSec).as("cohort_start"))
        .groupBy(col("cohort_start"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("cohort_start"), lit(i + 1L).as("step"),
          lit(steps(i)).as("event_type"), col("n_users"))
    }.reduce(_.unionAll(_))
    val w = Window.partitionBy(col("cohort_start")).orderBy(col("step"))
    counts.withColumn("rate_vs_first",
      when(first(col("n_users")).over(w) =!= 0,
        round(col("n_users").cast("double")
          / first(col("n_users")).over(w), 6)))
  }

  /** One-pass funnel: the same result as [[funnel]]/[[funnelWithin]]
    * from ONE shuffle of the events table — each user's events fold
    * through the stage machine in (ts_ns, event_id) order inside
    * mapGroups (the batch twin of StreamingWindows.streamingFunnel's
    * state update; greedy-first == chained-min because both take the
    * minimal qualifying time at every stage).
    *
    * The trade vs the chained form: k type-pruned scans + k shrinking
    * joins there, one full exchange + per-user in-memory sort here.
    * At 100 TB pick by step-type selectivity — rare funnel steps favor
    * the chain (its scans skip most row groups), broad steps favor this
    * pass. Per-user memory is that user's event count — sessionize
    * first (EventWindows.sessions) for pathological power users.
    */
  def funnelOnePass(events: DataFrame, steps: Seq[String],
      horizonSec: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(horizonSec.forall(_ > 0),
      s"need horizonSec > 0, got $horizonSec") // same contract as funnelWithin
    val spark = events.sparkSession
    import spark.implicits._
    val hNs = horizonSec.map(_ * 1000000000L)
    val k = steps.length
    val ev = events.select(col("user_id"), col("event_type"), col("ts_ns"),
      col("event_id")).as[(Long, String, Long, Long)]
    val stageOf = ev.groupByKey(_._1).mapGroups { (uid, it) =>
      var t0 = 0L; var stage = 0; var t = 0L
      it.toSeq.sortBy(e => (e._3, e._4)).foreach { e =>
        if (stage == 0) {
          if (e._2 == steps.head) { t0 = e._3; stage = 1; t = e._3 }
        } else if (stage < k && e._2 == steps(stage) && e._3 > t &&
            hNs.forall(h => e._3 <= t0 + h)) {
          stage += 1; t = e._3
        }
      }
      (uid, stage)
    }
    // stay LAZY (no collect — Explain/plan tooling must not execute the
    // shuffle): a user at stage s counts toward steps 1..s via a bounded
    // k-slot explode, and the step frame left-joins so empty stages
    // still emit their zero row
    val stepsDf = spark.createDataFrame(
      (1 to k).map(i => (i.toLong, steps(i - 1)))).toDF("step", "event_type")
    val counts = stageOf.toDF("user_id", "stage")
      .filter(col("stage") >= 1)
      .select(explode(expr("sequence(1L, CAST(stage AS BIGINT))")).as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("_n"))
    // broadcast the RIGHT side (k-row counts) — a left-outer join can't
    // build on its left side, so broadcasting stepsDf would be a no-op
    val full = stepsDf.join(broadcast(counts), Seq("step"), "left")
      .select(col("step"), col("event_type"),
        coalesce(col("_n"), lit(0L)).as("n_users"))
    funnelRates(full)
  }

  /** The shared count/rate epilogue over materialized stage states.
    * Rates over an empty predecessor are null, not a division error
    * (ANSI mode) — the funnel can legitimately be empty from step 1. */
  private def funnelEpilogue(states: Seq[DataFrame],
      steps: Seq[String]): DataFrame = {
    val counts = states.zipWithIndex.map { case (st, i) =>
      st.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(steps(i)).as("event_type"),
          col("n_users"))
    }.reduce(_.unionAll(_))
    funnelRates(counts)
  }

  /** Rate columns over a (step, event_type, n_users) frame. */
  private def funnelRates(counts: DataFrame): DataFrame = {
    val wPrev = Window.orderBy(col("step"))
    def rate(denom: Column): Column =
      when(denom =!= 0,
        round(col("n_users").cast("double") / denom, 6))
    counts
      .withColumn("rate_vs_first", rate(first(col("n_users")).over(wPrev)))
      .withColumn("rate_vs_prev",
        rate(coalesce(lag(col("n_users"), 1).over(wPrev), col("n_users"))))
  }

  /** Per-variant conversion funnel: [[funnel]] segmented by an A/B
    * variant — "did the treatment change the funnel shape". The variant
    * is a PURE FUNCTION of user_id (Experiments.withVariant's md5
    * bucket), so the stage chain runs ONCE, unsegmented; segmentation
    * happens at the count epilogue by hashing each surviving state row's
    * user_id — no per-variant scans, no extra joins. Returns (variant,
    * step, event_type, n_users, rate_vs_first) with the rate within the
    * variant, round 6; a variant absent from a stage simply has no row.
    */
  def funnelByVariant(events: DataFrame, steps: Seq[String],
      nVariants: Int = 3, salt: String = "exp1"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val states = stateChain(events, steps, None)
    val counts = states.zipWithIndex.map { case (st, i) =>
      Experiments.withVariant(st.select(col("user_id")), "user_id",
          nVariants, salt)
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("variant"), lit(i + 1L).as("step"),
          lit(steps(i)).as("event_type"), col("n_users"))
    }.reduce(_ union _)
    val wFirst = Window.partitionBy(col("variant")).orderBy(col("step"))
    counts.withColumn("rate_vs_first",
      when(first(col("n_users")).over(wFirst) =!= 0,
        round(col("n_users").cast("double") /
          first(col("n_users")).over(wFirst), 6)))
  }

  /** Cohort lifetime value: per (signup-cohort, period offset), the
    * period's revenue, the running cumulative revenue, and cumulative
    * LTV per cohort user — the monetized companion of
    * [[retentionCohorts]]. Revenue sums in DECIMAL(18,2) (the dsum
    * convention: exact, order-independent); the cumulative window also
    * runs in DECIMAL, so every value replays bitwise.
    *
    * Scale: two shuffles — the per-user first-period min and the
    * (cohort, offset) revenue aggregate, both map-side combined. The
    * cumulative window partitions by cohort over the tiny aggregate;
    * cohort sizes broadcast back.
    */
  def cohortLtv(events: DataFrame,
      periodSec: Long = 7L * 86400): DataFrame = {
    val p = events.select(col("user_id"),
      EventWindows.winStart(sec, periodSec).as("per"), col("value"))
    val firsts = p.groupBy(col("user_id"))
      .agg(min(col("per")).as("cohort_start"))
    val sizes = firsts.groupBy(col("cohort_start"))
      .agg(count(lit(1)).as("cohort_size"))
    val g = p.join(firsts, "user_id")
      .select(col("cohort_start"),
        expr(s"(per - cohort_start) div $periodSec").as("offset"),
        col("value").cast("decimal(18,2)").as("_v"))
      .groupBy(col("cohort_start"), col("offset"))
      .agg(sum(col("_v")).as("_rev"))
    val w = Window.partitionBy(col("cohort_start")).orderBy(col("offset"))
    g.withColumn("_cum", sum(col("_rev")).over(w))
      .join(broadcast(sizes), "cohort_start")
      .select(col("cohort_start"), col("offset"),
        col("_rev").cast("double").as("revenue"),
        col("_cum").cast("double").as("cum_revenue"),
        round(col("_cum").cast("double") /
          col("cohort_size").cast("double"), 6).as("ltv_per_user"))
  }

  /** Hour-of-week activity heatmap: events and distinct users per
    * (day-of-week, hour-of-day) cell, all in UTC integer epoch math
    * (dow 0 = Monday: epoch day 0 was a Thursday, hence the +3; pmod
    * keeps pre-epoch timestamps in [0,6]/[0,23] — floorDivSql already
    * handles their floor division).
    * The "when are users active" product readout.
    *
    * Scale: the event count is ONE map-side-combined aggregate on ≤168
    * keys; the distinct-user count shuffles the (cell, user) distinct —
    * the same reduce-then-count shape as rollingActives.
    */
  def activityHeatmap(events: DataFrame): DataFrame = {
    val cell = events.select(
      pmod(EventWindows.epochDay + lit(3L), lit(7L)).as("dow"),
      pmod(expr(EventWindows.floorDivSql("ts_ns", 3600L * 1000000000L)),
        lit(24L)).as("hod"),
      col("user_id"))
    val counts = cell.groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_events"))
    val users = cell.distinct()
      .groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n_users"))
    counts.join(users, Seq("dow", "hod"))
  }

  /** Time-to-convert distribution: for users completing the WHOLE step
    * chain, the spread of (last-step time − first-step time) in whole
    * seconds — the "how long does signup→purchase take" readout.
    * Returns ONE row: (n_converted, p50_s, p90_s, mean_s, max_s), exact
    * interpolated percentiles (x23 convention), mean round 6.
    *
    * Scale: the chain is [[funnel]]'s (k shrinking materialized
    * stages); the epilogue is one aggregate over the FINAL state — a
    * frame already reduced to converted users.
    */
  def timeToConvert(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "need at least two steps to measure a delay")
    val last = stateChain(events, steps, None).last
    last.select(expr("(t - t0) div 1000000000").as("secs"))
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(cast(secs as double), 0.5)").as("p50_s"),
        expr("percentile(cast(secs as double), 0.9)").as("p90_s"),
        round(sum(col("secs")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_s"),
        max(col("secs")).as("max_s"))
  }

  /** Last-touch attribution: for every conversion event, the type of the
    * user's latest STRICTLY-EARLIER non-conversion event ('direct' when
    * none) — the classic marketing-attribution query. Returns
    * (attributed_type, n_conversions, share) with share = n / Σ n,
    * round 6.
    *
    * Scale: one window pass partitioned by user_id (last(ignoreNulls)
    * over the ordered frame — no self-join of events against events),
    * then a ≤ |types|+1-group count; the share normalization broadcasts
    * one row.
    */
  def lastTouchAttribution(events: DataFrame,
      conversionType: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attr = events
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("_touch",
        last(when(col("event_type") =!= conversionType, col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === conversionType)
      .groupBy(coalesce(col("_touch"), lit("direct")).as("attributed_type"))
      .agg(count(lit(1)).as("n_conversions"))
    val total = attr.agg(sum(col("n_conversions")).as("_t"))
    attr.crossJoin(broadcast(total))
      .select(col("attributed_type"), col("n_conversions"),
        round(col("n_conversions").cast("double") / col("_t"), 6).as("share"))
  }

  /** Touch→conversion pairs: every (touchType, convType) event pair of
    * the same user with the conversion inside [touch, touch + lagSec] —
    * the pair-level input behind windowed attribution models. Returns
    * (user_id, touch_id, conv_id, gap_ns), exact nanos.
    *
    * Scale: an equi-join on user_id (both sides pre-filtered by type at
    * the scan) with the range as a residual predicate — never a
    * nested-loop; per-user fan-out is touches·convs within the lag
    * window. StreamingWindows.streamingConversionPairs is the
    * stream-stream twin (watermarked self-join, state bounded by the
    * same lag).
    */
  def conversionPairs(events: DataFrame, touchType: String,
      convType: String, lagSec: Long): DataFrame = {
    require(lagSec > 0, s"need lagSec > 0, got $lagSec")
    val t = events.filter(col("event_type") === touchType)
      .select(col("user_id"), col("ts_ns").as("_tns"),
        col("event_id").as("touch_id"))
    val c = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("ts_ns").as("_cns"),
        col("event_id").as("conv_id"))
    t.join(c, "user_id")
      .filter(col("_cns") >= col("_tns") &&
        col("_cns") <= col("_tns") + lagSec * 1000000000L)
      .select(col("user_id"), col("touch_id"), col("conv_id"),
        (col("_cns") - col("_tns")).as("gap_ns"))
  }

  /** Event-type transition matrix: per user, events ordered by
    * (ts_ns, event_id) — the id breaks timestamp ties deterministically —
    * each consecutive pair contributes one (from_type, to_type) count.
    * Returns (from_type, to_type, n, p) where p = n / Σ n over from_type,
    * round 6.
    *
    * Scale: one window sort partitioned by user_id (cardinality = users,
    * no funnel key), then a map-side-combinable count over ≤ |types|²
    * groups; the probability normalization joins the tiny per-from totals
    * back broadcast-style. Per-user event counts bound the sort buffer —
    * for power users beyond memory, sessionize first (EventWindows
    * .sessions) and feed sessions through the same shape.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("_tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("_tot"), 6).as("p"))
  }

  /** Top event paths: the `k` most frequent length-3 event-type
    * sequences over each user's time-ordered stream (ties broken by
    * event_id, the transitionMatrix convention; the top-k cut is totally
    * ordered by (n DESC, path) so it is deterministic). The 3-gram
    * generalization of [[transitionMatrix]] — the "what do users
    * actually do" Sankey feed.
    *
    * Scale: ONE user_id exchange feeds the lead window (per-user state
    * is two lookahead rows); the path aggregate is map-side combinable
    * on ≤ |types|³ keys and the top-k is a TakeOrdered heap, no global
    * sort.
    */
  def topPaths(events: DataFrame, k: Int = 25): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** Weekly cohort retention: cohort = floor(first event / period); for
    * every (cohort, offset) cell, the distinct users of that cohort active
    * `offset` periods after their cohort period. Returns (cohort_start,
    * offset, n_active, cohort_size, retention) with retention round 6;
    * offset 0 is the cohort size itself by construction.
    *
    * Scale: two shuffles — the per-user first-event min (map-side
    * combined) and the distinct over (cohort, offset, user). The join
    * bringing each event its user's cohort keys on user_id (hash, high
    * cardinality); cohort sizes re-derive from the offset-0 cells, so no
    * extra pass.
    */
  def retentionCohorts(events: DataFrame, periodSec: Long = 7L * 86400): DataFrame = {
    val period = events
      .select(col("user_id"), EventWindows.winStart(sec, periodSec).as("p"))
    val firsts = period.groupBy(col("user_id")).agg(min(col("p")).as("cohort_start"))
    val cells = period.join(firsts, "user_id")
      .select(col("cohort_start"),
        ((col("p") - col("cohort_start")) / periodSec).cast("long").as("offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_start"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("offset") === 0)
      .select(col("cohort_start"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_start")
      .select(col("cohort_start"), col("offset"), col("n_active"), col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
  }

  /** Per-type event-rate anomaly scores: tumbling-window counts per
    * event_type, each scored against its own `trailing` PREVIOUS windows
    * with a z-score — the "error rate spiked" alert query. Returns
    * (win_start, event_type, n, z, is_anomaly) for windows with a full
    * trailing history; z = (n·W − Σ) / √(W·Σsq − Σ²) over the trailing
    * counts — an exact-integer numerator and radicand (counts are longs,
    * the window frame sum is sequential and deterministic), so one sqrt +
    * one division produce the engine-stable rounded score. Windows with
    * zero trailing variance score null (is_anomaly false unless n
    * differs — then true with null z, the division-free branch).
    *
    * Scale: the tumbling aggregation is x13's (map-side combined, one
    * exchange on (win, type)); the scoring window partitions by
    * event_type over ALREADY-AGGREGATED window rows — its per-partition
    * row count is #windows (time/width), bounded by the time span, not
    * by event volume.
    */
  def anomalyScores(events: DataFrame, widthSec: Long,
      trailing: Int = 8, threshold: Double = 3.0): DataFrame = {
    require(trailing >= 2, s"need trailing >= 2, got $trailing")
    val wins = events
      .withColumn("win_start", EventWindows.winStart(sec, widthSec))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("win_start"))
      .rowsBetween(-trailing, -1)
    val wl = trailing.toLong
    val scored = wins
      .withColumn("_k", count(lit(1)).over(w))
      .withColumn("_s", sum(col("n")).over(w))
      .withColumn("_sq", sum(col("n") * col("n")).over(w))
      .filter(col("_k") === wl)
      // DECIMAL products: Σ² would pass 2^63 once a window holds > ~3·10^9
      // events of one type (DuckDB's HUGEINT path on the oracle side)
      .withColumn("_num", col("n").cast("decimal(38,0)") * wl - col("_s"))
      .withColumn("_rad", col("_sq").cast("decimal(38,0)") * wl
        - col("_s").cast("decimal(38,0)") * col("_s"))
    scored.select(col("win_start"), col("event_type"), col("n"),
      (round(when(col("_rad") > 0,
        col("_num").cast("double") / sqrt(col("_rad").cast("double")))
        .otherwise(lit(null)), 6) + 0.0).as("z"),
      when(col("_rad") > 0,
        col("_num").cast("double") / sqrt(col("_rad").cast("double"))
          >= threshold)
        .otherwise(col("_num") =!= 0).as("is_anomaly"))
  }

  /** Daily + trailing-window active users: for every day with any
    * activity, (day, dau, wau) where day = epoch days, dau = distinct
    * users that day, wau = distinct users over [day − windowDays + 1,
    * day]. Returns only days present in the data (a day grid join would
    * add empty days; at pipeline scale the consumer left-joins its own
    * calendar dimension).
    *
    * Scale: the trailing count explodes each (day, user) — already
    * reduced to distinct per day, NOT each raw event — into `windowDays`
    * trailing day slots, then distinct-counts per day: a bounded
    * windowDays× blowup of the small per-day-distinct frame, all
    * map-side; no self-join of the events table and no per-day window
    * funnel. The (day, user) distinct — the one events-scale pass — is
    * MATERIALIZED before fan-out: its two consumers (dau and the slot
    * explode) get different pushed-down filters, so Spark's exchange
    * reuse cannot collapse them and an unmaterialized frame would scan
    * and shuffle the events table twice (PlanSpec pins one scan).
    */
  def rollingActives(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"need windowDays >= 1, got $windowDays")
    val dayUser = Checkpoints.materialize(
      events.select(EventWindows.epochDay.as("day"), col("user_id")).distinct())
    val dau = dayUser.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val slots = dayUser
      .select(explode(sequence(col("day"),
        col("day") + lit(windowDays.toLong - 1))).as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(slots, "day").select(col("day"), col("dau"), col("wau"))
  }

  /** Exponentially-weighted daily event-count smoothing, the classic
    * monitoring baseline: for each (event_type, day),
    * `ewma = (1-a) * Σ_{i ≤ d, i > d-windowDays} cnt_i * a^(d-i)` with
    * decay a = 0.5.
    *
    * The dyadic decay is deliberate: counts are integers and 0.5^k is an
    * exact binary fraction, so every term — and therefore the sum, in
    * ANY addition order — is exact in a double (counts < 2^33 with
    * windowDays ≤ 20 keep the whole sum inside the 53-bit mantissa).
    * That makes the result bitwise reproducible across engines with no
    * DECIMAL staging and no dependence on window iteration order. The
    * weight is computed as division by an integer `1 << k` (shiftleft),
    * NOT `power(0.5, k)` — libm pow is only 1-ulp-accurate and differs
    * across implementations; integer shift + IEEE division is exact.
    *
    * Scale: the ONE events-scale op is the (event_type, day) count —
    * map-side combinable, one shuffle. The trailing-window convolution
    * runs on that aggregate, whose size is |types| × |days| regardless
    * of row count; it is a range self-join keyed on event_type (low
    * cardinality, but over the tiny aggregate — the blast radius is
    * days² per type, not events²). Returns (event_type, day, cnt, ewma).
    */
  def ewmaDaily(events: DataFrame, windowDays: Int = 20): DataFrame = {
    // upper bound 53: beyond it 1L << k wraps (Java shift mod 64) and the
    // terms leave the 53-bit mantissa — the exactness contract's edge
    require(windowDays >= 1 && windowDays <= 53,
      s"need 1 <= windowDays <= 53, got $windowDays")
    val daily = Checkpoints.materialize(EventWindows.dailyCounts(events))
    val past = daily.select(col("event_type").as("_et"),
      col("day").as("d2"), col("cnt").as("c2"))
    daily.join(past,
        col("_et") === col("event_type") &&
          col("d2") <= col("day") &&
          col("d2") > col("day") - lit(windowDays.toLong))
      .groupBy(col("event_type"), col("day"), col("cnt"))
      .agg((lit(0.5) * sum(col("c2").cast("double") /
        expr("cast(shiftleft(cast(1 as bigint), cast(day - d2 as int)) as double)")))
        .as("ewma"))
      .select(col("event_type"), col("day"), col("cnt"), col("ewma"))
  }

  /** STL-lite decomposition of daily event counts: a centered 7-day
    * moving-average TREND over the dense grid, weekday SEASONAL
    * indices from the detrended series, and Hyndman's seasonal
    * STRENGTH F_s = SSB/SST of the detrended values grouped by
    * weekday (a one-way ANOVA by dow — the [[graft.ops.Stats.anovaF]]
    * machinery). One row per (type, dow) over trend-covered days:
    * `(event_type, dow, n_days, seasonal_idx, seasonal_strength)`
    * (strength repeated per type), round 6.
    *
    * Exactness: the trend denominator is cleared — detrended values
    * are kept ×7 as exact integers `7y − Σ₇y` — so every moment is
    * DECIMAL(38,0); each seasonal index is ONE division, and the
    * strength follows anovaF's pinned fold (sorted ≤7-entry list,
    * double terms) with the same list_reduce oracle parity. The ×7
    * scaling cancels in SSB/SST.
    *
    * Scale: one (type, day) count reduce; the ±3-day window runs on
    * the span-bounded grid partitioned by type; everything after is
    * ≤ 7 rows per type.
    */
  def stlDecompose(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val grid = EventWindows.denseDaily(EventWindows.dailyCounts(events))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val detr = grid
      .withColumn("_s7", sum(col("y")).over(w7))
      .withColumn("_c7", count(lit(1)).over(w7))
      .filter(col("_c7") === 7)
      .select(col("event_type"), (col("day") % 7).as("dow"),
        (lit(7L) * col("y") - col("_s7")).as("_d7"))
    val perDow = detr.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(d38(col("_d7"))).as("_sw"),
        sum(d38(col("_d7")) * d38(col("_d7"))).as("_qw"))
    val perType = perDow.groupBy(col("event_type"))
      .agg(sum(col("n_days")).as("_n"), sum(col("_sw")).as("_s"),
        sum(col("_qw")).as("_q"),
        aggregate(
          array_sort(collect_list(struct(col("dow"), col("_sw"),
            col("n_days")))),
          lit(0.0),
          (acc, x) => acc +
            (x.getField("_sw") * x.getField("_sw")).cast("double") /
              x.getField("n_days").cast("double")).as("_a2"))
    val meanTerm = (col("_s") * col("_s")).cast("double") /
      col("_n").cast("double")
    val sst = col("_q").cast("double") - meanTerm
    val ssb = col("_a2") - meanTerm
    perDow.join(broadcast(perType), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n_days"),
        round(col("_sw").cast("double") /
          (lit(7L) * col("n_days")).cast("double"), 6).as("seasonal_idx"),
        when(sst > 0.0, round(ssb / sst, 6)).as("seasonal_strength"))
  }

  /** Holt-Winters ADDITIVE seasonal smoothing of daily event counts —
    * [[holtDaily]] plus a `period`-slot seasonal component, the
    * level+trend+weekday model a traffic series actually needs. Runs
    * on the DENSE zero-filled grid (a gap day is a real 0 for
    * seasonality — contrast holtDaily's observed-days contract); slot
    * of grid position p (1-based) is (p−1) mod period. Init from the
    * first full period: l = mean(y₁..y_p), b = 0, s_i = y_i − l; fold
    * from p+1 with α = β = γ = ½:
    * `l' = ½(y − s_slot) + ½(l + b)`, `b' = ½(l' − l) + ½b`,
    * `s_slot' = ½(y − l') + ½s_slot`. ONE row per type with
    * n_days ≥ period + 1: `(event_type, n_days, level, trend, s_next,
    * forecast = level + trend + s_next)`, round 6.
    *
    * Determinism: the halvings are exact IEEE ops and the fold order
    * is pinned (aggregate over the sorted grid == the oracle's
    * recursive CTE carrying the seasonal LIST — the x181 posture);
    * the init mean is ONE division of an exact integer sum.
    *
    * Scale: one map-side-combined (type, day) count; grid + fold are
    * span-bounded (x153 posture); seasonal state is O(period).
    */
  def holtWintersDaily(events: DataFrame, period: Int = 7): DataFrame = {
    require(period >= 2, s"need period >= 2, got $period")
    val grid = EventWindows.denseDaily(EventWindows.dailyCounts(events))
    val ser = grid.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      array_sort(collect_list(struct(col("day"), col("y")))).as("_ser"))
      .filter(col("n_days") >= period + 1)
    val p = lit(period)
    val l0 = aggregate(slice(col("_ser"), 1, period), lit(0L),
      (a, x) => a + x.getField("y")).cast("double") / lit(period.toDouble)
    val sInit = transform(slice(col("_ser"), 1, period),
      x => x.getField("y").cast("double") - col("_l0"))
    val folded = ser
      .withColumn("_l0", l0)
      .withColumn("_st",
        aggregate(
          slice(col("_ser"), lit(period + 1),
            (col("n_days") - period).cast("int")),
          struct(col("_l0").as("l"), lit(0.0).as("b"), sInit.as("s"),
            p.as("i")),
          (a, x) => {
            val slot = a.getField("i") % p
            val sv = get(a.getField("s"), slot)
            val y = x.getField("y").cast("double")
            val newL = lit(0.5) * (y - sv) +
              lit(0.5) * (a.getField("l") + a.getField("b"))
            val newB = lit(0.5) * (newL - a.getField("l")) +
              lit(0.5) * a.getField("b")
            val newS = lit(0.5) * (y - newL) + lit(0.5) * sv
            struct(newL.as("l"), newB.as("b"),
              transform(a.getField("s"),
                (v, j) => when(j === slot, newS).otherwise(v)).as("s"),
              (a.getField("i") + 1).as("i"))
          }))
    val sNext = get(col("_st.s"), (col("n_days") % p).cast("int"))
    folded.select(col("event_type"), col("n_days"),
      round(col("_st.l"), 6).as("level"),
      round(col("_st.b"), 6).as("trend"),
      round(sNext, 6).as("s_next"),
      round(col("_st.l") + col("_st.b") + sNext, 6).as("forecast"))
  }

  /** Holt double-exponential (level + trend) smoothing of daily event
    * counts, [[ewmaDaily]]'s trend-aware sibling: per event_type, fold
    * the observed (day, cnt) series in day order with
    * `l_t = ½·y_t + ½·(l_{t-1} + b_{t-1})`,
    * `b_t = ½·(l_t − l_{t-1}) + ½·b_{t-1}`, initialized l₁ = y₁,
    * b₁ = 0. ONE row per type: `(event_type, n_days, level, trend,
    * forecast = level + trend)`, each rounded to 6.
    *
    * Determinism: the fold is a PINNED-ORDER sequential reduction
    * replayed identically by the oracle (Spark `aggregate(array_sort)`
    * == DuckDB `list_reduce(list(... ORDER BY day))`, the x176
    * convention); α = β = ½ makes every step an exact halving, so both
    * engines execute the same IEEE op sequence on the same operands.
    * Gaps (days with no events) are skipped, not zero-filled — the
    * series is the OBSERVED days, documented contract.
    *
    * Scale: the one events-scale op is the (event_type, day) count —
    * map-side combinable, one shuffle. The per-type collect_list is
    * bounded by the day span (the x153 span-bounded posture), and the
    * fold is linear in it.
    */
  def holtDaily(events: DataFrame): DataFrame = {
    val daily = EventWindows.dailyCounts(events)
    val zero = struct(lit(0.0).as("l"), lit(0.0).as("b"),
      lit(true).as("first"))
    val st = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      aggregate(
        array_sort(collect_list(struct(col("day"), col("cnt")))),
        zero,
        (a, x) => {
          val y = x.getField("cnt").cast("double")
          val l = a.getField("l")
          val b = a.getField("b")
          val newL = lit(0.5) * y + lit(0.5) * (l + b)
          val newB = lit(0.5) * (newL - l) + lit(0.5) * b
          when(a.getField("first"),
            struct(y.as("l"), lit(0.0).as("b"), lit(false).as("first")))
            .otherwise(
              struct(newL.as("l"), newB.as("b"), lit(false).as("first")))
        }).as("_s"))
    st.select(col("event_type"), col("n_days"),
      round(col("_s.l"), 6).as("level"),
      round(col("_s.b"), 6).as("trend"),
      round(col("_s.l") + col("_s.b"), 6).as("forecast"))
  }

  /** CUSUM changepoint monitor over daily event counts: per event_type,
    * fold the observed (day, cnt) series in day order with the
    * two-sided tabular CUSUM
    * `sp_t = max(0, sp + (y_t − (μ+κ)))`,
    * `sn_t = max(0, sn + ((μ−κ) − y_t))`,
    * κ = σ/2, alarm when either side exceeds h = 4σ (μ, σ are the
    * series' own exact-moment population mean/stddev). ONE row per
    * type: `(event_type, n_days, mu, sigma, sp_end, sn_end, sp_max,
    * t_max, n_alarms)` — t_max is the day of the FIRST maximal upper
    * excursion (−1 when sp never leaves 0), the changepoint estimate.
    *
    * Determinism: μ = S/n and σ = sqrt(max(0, (Q − S·S/n)/n)) are
    * single IEEE ops on doubles of exact DECIMAL moments; the fold is
    * a pinned-order sequential reduction replayed by the oracle as a
    * recursive CTE (the x181 posture). NOTHING is rounded — every
    * output double is the result of an identical op sequence on both
    * engines, so the compare is bitwise without a rounding step.
    *
    * Scale: one map-side-combined (event_type, day) count shuffle;
    * the per-type fold runs over the span-bounded collected series.
    */
  def cusumDaily(events: DataFrame): DataFrame = {
    val daily = EventWindows.dailyCounts(events)
    val mom = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      sum(d38(col("cnt"))).as("_s"),
      sum(d38(col("cnt")) * d38(col("cnt"))).as("_q"),
      array_sort(collect_list(struct(col("day"), col("cnt")))).as("_ser"))
    val nD = col("n_days").cast("double")
    val sD = col("_s").cast("double")
    val qD = col("_q").cast("double")
    val withParams = mom
      .withColumn("mu", sD / nD)
      .withColumn("sigma",
        sqrt(greatest(lit(0.0), (qD - sD * sD / nD) / nD)))
      .withColumn("_muk", col("mu") + col("sigma") / lit(2.0))
      .withColumn("_mku", col("mu") - col("sigma") / lit(2.0))
      .withColumn("_h", lit(4.0) * col("sigma"))
    val zero = struct(lit(0.0).as("sp"), lit(0.0).as("sn"),
      lit(0.0).as("spmax"), lit(-1L).as("tmax"), lit(0L).as("alarms"))
    val folded = withParams.withColumn("_st",
      aggregate(col("_ser"), zero, (a, x) => {
        val y = x.getField("cnt").cast("double")
        val sp = greatest(lit(0.0), a.getField("sp") + (y - col("_muk")))
        val sn = greatest(lit(0.0), a.getField("sn") + (col("_mku") - y))
        val isMax = sp > a.getField("spmax")
        struct(sp.as("sp"), sn.as("sn"),
          when(isMax, sp).otherwise(a.getField("spmax")).as("spmax"),
          when(isMax, x.getField("day"))
            .otherwise(a.getField("tmax")).as("tmax"),
          (a.getField("alarms") +
            when(sp > col("_h") || sn > col("_h"), 1L).otherwise(0L))
            .as("alarms"))
      }))
    folded.select(col("event_type"), col("n_days"), col("mu"),
      col("sigma"), col("_st.sp").as("sp_end"), col("_st.sn").as("sn_end"),
      col("_st.spmax").as("sp_max"), col("_st.tmax").as("t_max"),
      col("_st.alarms").as("n_alarms"))
  }

  /** Day-of-week seasonal profile of daily event counts: per
    * (event_type, dow) — dow = epoch-day mod 7, so dow 0 is a THURSDAY
    * (1970-01-01), documented index not calendar convention — the mean
    * daily count and its seasonal index mean_dow / mean_all.
    *
    * Determinism: both ratios are SINGLE IEEE divisions of exact
    * integers (mean = S_d/n_d; index = (S_d·n)/(n_d·S) cross-
    * multiplied into one exact numerator and denominator), so no
    * rounding step is needed and the oracle compare is bitwise. S > 0
    * always (every observed day contributes ≥ 1 event), so the index
    * needs no zero guard.
    *
    * Scale: one map-side-combined (event_type, day) count, one
    * (event_type, dow) reduce, one broadcast-size per-type total.
    */
  def dowProfile(events: DataFrame): DataFrame = {
    val daily = EventWindows.dailyCounts(events)
    val perDow = daily
      .groupBy(col("event_type"), pmod(col("day"), lit(7L)).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(d38(col("cnt"))).as("_sd"))
    val perType = perDow.groupBy(col("event_type"))
      .agg(sum(col("n_days")).as("_n"), sum(col("_sd")).as("_st"))
    perDow.join(perType, Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n_days"),
        col("_sd").cast("long").as("total_cnt"),
        (col("_sd").cast("double") / col("n_days").cast("double"))
          .as("mean_cnt"),
        ((col("_sd") * d38(col("_n"))).cast("double") /
          (d38(col("n_days")) * col("_st")).cast("double")).as("season_index"))
  }

  /** Lag-k autocorrelation of the DENSE daily event-count series (gaps
    * zero-filled over each type's [min_day, max_day] span — an absent
    * day is a real zero for ACF, unlike [[holtDaily]]'s observed-day
    * contract): for k = 1..maxLag,
    * `r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)²`.
    *
    * Determinism: cross-multiplying by n² turns both sides into EXACT
    * integers — numerator n²·A_k − n·S·(B_k+C_k) + m_k·S², denominator
    * n²·Q − n·S² with A_k = Σ y_t·y_{t+k}, B_k/C_k the windowed sums,
    * m_k = n−k — so r_k is ONE IEEE division of exact DECIMALs; no
    * rounding, bitwise-comparable. NULL when the denominator is 0
    * (constant series). Capacity: n²·A_k must fit DECIMAL(38) —
    * holds to ~10⁵ days × 10⁷ events/day; beyond that, stage in
    * 256-bit or rescale counts.
    *
    * Scale: the events-scale op is the (event_type, day) count; the
    * dense grid is span-bounded; the lag join is an EQUI-join on
    * (event_type, day) after exploding each row into maxLag shifted
    * copies — never a range join.
    */
  def acfDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    val grid = EventWindows.denseDaily(EventWindows.dailyCounts(events))
    val mom = grid.groupBy(col("event_type")).agg(
      count(lit(1)).as("_n"), sum(d38(col("y"))).as("_S"),
      sum(d38(col("y")) * d38(col("y"))).as("_Q"))
    val shifted = grid
      .select(col("event_type"), col("day"), col("y").as("_y1"),
        explode(sequence(lit(1L), lit(maxLag.toLong))).as("lag_k"))
      .select(col("event_type"), (col("day") + col("lag_k")).as("day"),
        col("lag_k"), col("_y1"))
    val lagAgg = shifted.join(grid, Seq("event_type", "day"))
      .groupBy(col("event_type"), col("lag_k"))
      .agg(count(lit(1)).as("_m"),
        sum(d38(col("_y1")) * d38(col("y"))).as("_A"),
        sum(d38(col("_y1"))).as("_B"), sum(d38(col("y"))).as("_C"))
    val n38 = d38(col("_n"))
    val num = n38 * n38 * col("_A") - n38 * col("_S") *
      (col("_B") + col("_C")) + d38(col("_m")) * col("_S") * col("_S")
    val den = n38 * n38 * col("_Q") - n38 * col("_S") * col("_S")
    lagAgg.join(mom, Seq("event_type"))
      .select(col("event_type"), col("lag_k"), col("_n").as("n_days"),
        when(den =!= lit(0).cast("decimal(38,0)"),
          num.cast("double") / den.cast("double")).as("acf"))
  }

  /** Theil-Sen robust trend of daily event counts: per event_type, the
    * MEDIAN of all pairwise slopes (y_j − y_i)/(d_j − d_i) over the
    * observed days — the classic outlier-resistant alternative to OLS
    * (Sen 1968). One row per type with ≥ 2 observed days:
    * `(event_type, n_days, n_pairs, slope)`.
    *
    * Determinism: each slope is ONE IEEE division of exact integer
    * differences; the median is the order statistic at rank
    * (m+1) div 2 / (m+2) div 2 (equal for odd m) — value-defined
    * regardless of tie order — and the even-m average is sum/count
    * with count ∈ {1, 2}, both exact. No rounding anywhere.
    *
    * Scale: the pair join is per-type over the span-bounded daily
    * aggregate — O(span²) pairs per type (10³ days → 10⁶ pairs),
    * INDEPENDENT of corpus row count; the rank window partitions by
    * type over those pairs, never a global window.
    */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = EventWindows.dailyCounts(events)
    val a = daily.select(col("event_type"), col("day").as("_d1"),
      col("cnt").as("_y1"))
    val b = daily.select(col("event_type"), col("day").as("_d2"),
      col("cnt").as("_y2"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("_d2") > col("_d1"))
      .select(col("event_type"), col("_d1"), col("_d2"),
        ((col("_y2") - col("_y1")).cast("double") /
          (col("_d2") - col("_d1")).cast("double")).as("_slope"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("_slope"), col("_d1"), col("_d2"))
    val ranked = slopes.withColumn("_rn", row_number().over(w))
    val counts = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
      .filter(col("n_days") >= 2)
      .withColumn("n_pairs",
        expr("n_days * (n_days - 1) div 2"))
    ranked.join(counts, Seq("event_type"))
      .filter(col("_rn") === expr("(n_pairs + 1) div 2") ||
        col("_rn") === expr("(n_pairs + 2) div 2"))
      .groupBy(col("event_type"), col("n_days"), col("n_pairs"))
      .agg((sum(col("_slope")) / count(lit(1)).cast("double"))
        .as("slope"))
  }

  /** Cross-correlation lead-lag profile between two event types' dense
    * daily-count series (gaps zero-filled over the JOINT span): for
    * k = −maxLag..maxLag, the Pearson correlation of (x_t, y_{t+k})
    * over the overlap window. Positive-k peaks mean x LEADS y by k
    * days. Rows: `(lag_k, n_overlap, ccf)`; ccf NULL when either
    * window is constant.
    *
    * Determinism: windowed moments are exact DECIMAL integers;
    * `r = (m·A − Bx·By) / (sqrt(m·Qx − Bx²) · sqrt(m·Qy − By²))` is
    * two IEEE sqrts of exact-integer doubles, one multiply, one
    * division — identical on both engines, nothing rounded.
    *
    * Scale: two map-side-combined daily counts; everything downstream
    * is span-bounded; the lag join is an EQUI-join on day after
    * exploding 2·maxLag+1 shifted copies; the one-row span frame
    * explodes into the preserved side of the two left joins, so the
    * daily counts are the side Spark may broadcast.
    */
  def ccfDaily(events: DataFrame, typeX: String, typeY: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    val daily = EventWindows.dailyCounts(
      events.filter(col("event_type").isin(typeX, typeY)))
    val span = daily.agg(min(col("day")).as("_d0"),
      max(col("day")).as("_d1"))
    val dx = daily.filter(col("event_type") === typeX)
      .select(col("day"), col("cnt").as("_cx"))
    val dy = daily.filter(col("event_type") === typeY)
      .select(col("day"), col("cnt").as("_cy"))
    val grid = span
      .select(explode(sequence(col("_d0"), col("_d1"))).as("day"))
      .join(dx, Seq("day"), "left").join(dy, Seq("day"), "left")
      .select(col("day"), coalesce(col("_cx"), lit(0L)).as("x"),
        coalesce(col("_cy"), lit(0L)).as("y"))
    val shifted = grid
      .select(col("day"), col("x"),
        explode(sequence(lit(-maxLag.toLong), lit(maxLag.toLong)))
          .as("lag_k"))
      .select((col("day") + col("lag_k")).as("day"), col("lag_k"),
        col("x"))
    val agg = shifted.join(grid.select(col("day"), col("y")), Seq("day"))
      .groupBy(col("lag_k"))
      .agg(count(lit(1)).as("n_overlap"),
        sum(d38(col("x")) * d38(col("y"))).as("_a"),
        sum(d38(col("x"))).as("_bx"), sum(d38(col("y"))).as("_by"),
        sum(d38(col("x")) * d38(col("x"))).as("_qx"),
        sum(d38(col("y")) * d38(col("y"))).as("_qy"))
    val m38 = d38(col("n_overlap"))
    val vx = (m38 * col("_qx") - col("_bx") * col("_bx")).cast("double")
    val vy = (m38 * col("_qy") - col("_by") * col("_by")).cast("double")
    val num = (m38 * col("_a") - col("_bx") * col("_by")).cast("double")
    agg.select(col("lag_k"), col("n_overlap"),
      when(vx > 0.0 && vy > 0.0, num / (sqrt(vx) * sqrt(vy))).as("ccf"))
  }

  /** Inter-arrival time profile: per-user gaps between consecutive
    * events (ordered by (ts, id), labeled by the LATER event's type),
    * bucketed into power-of-two second bands —
    * `bucket = floor(log2(gap_s + 1))` computed EXACTLY as
    * `length(bin(gap_s + 1)) − 1` (integer bit-width, no libm log2
    * whose float edge at exact powers could flip a bucket). Rows:
    * `(event_type, bucket, n, share)` — share is one IEEE division of
    * exact counts within the type.
    *
    * Scale: ONE user_id shuffle (the per-user lag window), then a
    * map-side-combined (type, bucket) reduce; ≤ ~40 buckets·|types|
    * output rows.
    */
  def interArrival(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
      .withColumn("_prev", lag(col("ts_ns"), 1).over(w))
      .filter(col("_prev").isNotNull)
      .select(col("event_type"),
        expr("length(bin((ts_ns - _prev) div 1000000000 + 1)) - 1")
          .cast("long").as("bucket"))
    val counts = gaps.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("n")).as("_t"))
    counts.join(tot, Seq("event_type"))
      .select(col("event_type"), col("bucket"), col("n"),
        (col("n").cast("double") / col("_t").cast("double")).as("share"))
  }

  /** Lo-MacKinlay variance-ratio test of the daily count series: for
    * each aggregation window q, `VR(q) = Var(q-day block sums) /
    * (q · Var(daily))` over the dense zero-filled grid — VR ≈ 1 for a
    * random walk, < 1 for mean reversion, > 1 for trending. COMPLETE
    * blocks only. Rows: `(event_type, q, n_days, n_blocks, vr)`.
    *
    * Determinism: cross-multiplied into ONE division of exact
    * integers — `vr = n²·(m·Qz − Sz²) / (q·m²·(n·Qy − Sy²))` — NULL
    * when the daily variance is 0. Same DECIMAL(38) capacity note as
    * [[acfDaily]].
    *
    * Scale: one events-scale count; blocks are a second reduce of the
    * span-bounded grid, exploded per q (|qs| copies of the grid).
    */
  def varianceRatio(events: DataFrame, qs: Seq[Int] = Seq(2, 4, 8))
      : DataFrame = {
    require(qs.nonEmpty && qs.forall(_ >= 2), s"need qs all >= 2, got $qs")
    val grid = EventWindows.denseDaily(EventWindows.dailyCounts(events),
      withD0 = true)
    val mom = grid.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"), sum(d38(col("y"))).as("_sy"),
      sum(d38(col("y")) * d38(col("y"))).as("_qy"))
    val spark = events.sparkSession
    import spark.implicits._
    val qdf = broadcast(qs.map(_.toLong).toDF("q"))
    val blocks = grid.crossJoin(qdf)
      .groupBy(col("event_type"), col("q"),
        expr("(day - _d0) div q").as("_blk"))
      .agg(count(lit(1)).as("_bn"), sum(col("y")).as("_z"))
      .filter(col("_bn") === col("q"))
      .groupBy(col("event_type"), col("q"))
      .agg(count(lit(1)).as("n_blocks"), sum(d38(col("_z"))).as("_sz"),
        sum(d38(col("_z")) * d38(col("_z"))).as("_qz"))
    val n38 = d38(col("n_days"))
    val m38 = d38(col("n_blocks"))
    val num = n38 * n38 * (m38 * col("_qz") - col("_sz") * col("_sz"))
    val den = d38(col("q")) * m38 * m38 *
      (n38 * col("_qy") - col("_sy") * col("_sy"))
    blocks.join(mom, Seq("event_type"))
      .select(col("event_type"), col("q"), col("n_days"),
        col("n_blocks"),
        when(den =!= lit(0).cast("decimal(38,0)"),
          num.cast("double") / den.cast("double")).as("vr"))
  }

  /** Time-to-convert profile: per user, the lag from their FIRST
    * `touchType` event to their FIRST `convType` event (users whose
    * first conversion precedes or ties their first touch are excluded
    * — they didn't convert THROUGH the touch), bucketed into
    * [[interArrival]]'s power-of-two second bands. Rows:
    * `(bucket, n_users, share)`.
    *
    * Scale: two filtered user reduces + one user equi-join + a bucket
    * reduce; firsts are plain min(ts) — exact, order-independent, and
    * "after" means STRICTLY later in time (a same-nanosecond
    * conversion is not attributed).
    */
  def conversionLag(events: DataFrame, touchType: String = "view",
      convType: String = "purchase"): DataFrame = {
    def firstOf(t: String, n: String) =
      events.filter(col("event_type") === t)
        .groupBy(col("user_id"))
        .agg(min(col("ts_ns")).as(n))
    val j = firstOf(touchType, "_t1").join(firstOf(convType, "_t2"),
        Seq("user_id"))
      .filter(col("_t2") > col("_t1"))
      .select(expr("length(bin((_t2 - _t1) " +
        "div 1000000000 + 1)) - 1").cast("long").as("bucket"))
    val counts = j.groupBy(col("bucket")).agg(count(lit(1)).as("n_users"))
    val tot = broadcast(counts.agg(sum(col("n_users")).as("_t")))
    counts.crossJoin(tot)
      .select(col("bucket"), col("n_users"),
        (col("n_users").cast("double") / col("_t").cast("double"))
          .as("share"))
  }

  /** Fixed-point scale for the Markov removal-effect value iteration. */
  private val MarkovScale = 1000000L

  /** Per-user touch journeys compressed into Markov transition counts:
    * `__start__` → first touch, consecutive touches (only BEFORE the
    * user's first conversion, ties on (ts, id)), last touch →
    * `__conv__`/`__null__`, and `__start__` → `__conv__` for users who
    * converted without any touch. The ONE events-scale computation
    * behind [[removalEffectAttribution]]; returned as (f, t, n).
    */
  def markovTransitions(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"),
      col("ts_ns"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val conv1 = ev.filter(col("event_type") === convType)
      .withColumn("_rn", row_number().over(wAll)).filter(col("_rn") === 1)
      .select(col("user_id"), col("ts_ns").as("_cts"),
        col("event_id").as("_cid"))
    val touches = Checkpoints.materialize(
      ev.filter(col("event_type") =!= convType)
        .join(conv1, Seq("user_id"), "left")
        .filter(col("_cts").isNull ||
          struct(col("ts_ns"), col("event_id")) <
            struct(col("_cts"), col("_cid")))
        .select(col("user_id"), col("event_type"), col("ts_ns"),
          col("event_id"), col("_cts").isNotNull.as("_conv")))
    val seq = touches
      .withColumn("_nxt", lead(col("event_type"), 1).over(wAll))
      .withColumn("_rn", row_number().over(wAll))
    val edges = seq.filter(col("_nxt").isNotNull)
        .select(col("event_type").as("f"), col("_nxt").as("t"))
      .unionByName(seq.filter(col("_rn") === 1)
        .select(lit("__start__").as("f"), col("event_type").as("t")))
      .unionByName(seq.filter(col("_nxt").isNull)
        .select(col("event_type").as("f"),
          when(col("_conv"), "__conv__").otherwise("__null__").as("t")))
      .unionByName(conv1.join(touches.select(col("user_id")).distinct(),
          Seq("user_id"), "left_anti")
        .select(lit("__start__").as("f"), lit("__conv__").as("t")))
    edges.groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
  }

  /** Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2014) — the
    * data-driven multi-touch model: how much does total conversion
    * probability drop when a channel vanishes (its inbound transitions
    * redirected to `__null__`)? Per channel: `channel, conv_prob_full,
    * conv_prob_without, removal_effect` with removal_effect =
    * (V − V_c)/V round 6 (NULL when nobody converts).
    *
    * Determinism: conversion probability comes from `iters` rounds of
    * absorbing-chain VALUE ITERATION in exact fixed-point integers —
    * v'(s) = floor(Σ_t n(s,t)·v(t) / out(s)), v(conv) = 10^6 — the
    * pageRank convention, so the DuckDB oracle replays every scenario
    * bitwise with unrolled CTEs ([[removalEffectCtes]]).
    *
    * Scale: the events-scale work is [[markovTransitions]] (windows per
    * user + one count shuffle). The iteration then runs DRIVER-SIDE on
    * the collected (|channels|+3)² transition matrix — bounded by the
    * type vocabulary, never by event volume (the k-means-centroid
    * collect posture: O(states²), by design).
    */
  def removalEffectAttribution(events: DataFrame,
      convType: String = "purchase", iters: Int = 16): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = events.sparkSession
    val trans = markovTransitions(events, convType).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val channels = trans.keysIterator.flatMap { case (f, t) => Seq(f, t) }
      .filterNot(_.startsWith("__")).toSeq.distinct.sorted
    def startValue(removed: Option[String]): Long = {
      val redirected = trans.toSeq
        .map { case ((f, t), n) =>
          (f, if (removed.contains(t)) "__null__" else t) -> n
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      val outs = redirected.groupBy(_._1._1)
        .map { case (f, m) => f -> m.values.sum }
      val froms = outs.keys.toSeq
      var v = Map[String, Long]("__conv__" -> MarkovScale).withDefaultValue(0L)
      for (_ <- 1 to iters) {
        val next = froms.map { s =>
          val num = redirected.iterator.collect {
            case ((f, t), n) if f == s => BigInt(n) * v(t)
          }.sum
          s -> (num / outs(s)).toLong
        }.toMap
        v = (next + ("__conv__" -> MarkovScale)).withDefaultValue(0L)
      }
      v("__start__")
    }
    val vFull = startValue(None)
    val rows = channels.map { c =>
      val vc = startValue(Some(c))
      org.apache.spark.sql.Row(c, vFull.toDouble / 1e6, vc.toDouble / 1e6,
        if (vFull != 0)
          BigDecimal((vFull - vc).toDouble / vFull.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("channel",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("conv_prob_full",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("conv_prob_without",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("removal_effect",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** The oracle-side rendering of [[removalEffectAttribution]]: given the
    * STATIC channel list, unrolled value-iteration CTEs per scenario
    * (full + one per removed channel) over a `trans(f, t, n)` CTE the
    * caller provides. Ends with one row per channel. The caller appends
    * this after its transition CTEs. */
  def removalEffectCtes(channels: Seq[String], iters: Int): String = {
    // channel names are data-derived event types in the Spark twin —
    // escape quotes before splicing into SQL literals (the withVariant
    // typed-API hardening, applied to the oracle generator)
    def esc(s: String) = s.replace("'", "''")
    val states = ("__start__" +: channels) ++ Seq("__conv__", "__null__")
    val stateValues = states.map(s => s"('${esc(s)}')").mkString(", ")
    def scenario(tag: String, removed: Option[String]): String = {
      val redirect = removed.map(c =>
        s"CASE WHEN t = '${esc(c)}' THEN '__null__' ELSE t END").getOrElse("t")
      val base =
        s"""t_$tag AS MATERIALIZED (SELECT f, $redirect AS t, CAST(SUM(n) AS BIGINT) AS n
           |  FROM trans GROUP BY 1, 2),
           |o_$tag AS MATERIALIZED (SELECT f, CAST(SUM(n) AS BIGINT) AS o FROM t_$tag
           |  GROUP BY 1),
           |v_${tag}_0 AS MATERIALIZED (SELECT state, CAST(CASE state
           |  WHEN '__conv__' THEN $MarkovScale ELSE 0 END AS HUGEINT) AS v
           |  FROM states)""".stripMargin
      // one grouped join per iteration (a correlated-subquery form costs
      // O(states²) scalar queries per step and dominated the comparator)
      val steps = (1 to iters).map { k =>
        s"""v_${tag}_$k AS MATERIALIZED (SELECT s.state, CASE
           |    WHEN s.state = '__conv__' THEN CAST($MarkovScale AS HUGEINT)
           |    WHEN s.state = '__null__' THEN CAST(0 AS HUGEINT)
           |    ELSE COALESCE(agg.val, 0)
           |  END AS v FROM states s LEFT JOIN (
           |    SELECT t.f AS state, SUM(CAST(t.n AS HUGEINT) * v.v) // o.o
           |      AS val
           |    FROM t_$tag t JOIN v_${tag}_${k - 1} v ON v.state = t.t
           |    JOIN o_$tag o ON o.f = t.f
           |    GROUP BY t.f, o.o) agg ON agg.state = s.state)""".stripMargin
      }.mkString(",\n")
      s"$base,\n$steps"
    }
    val scenarios = (scenario("full", None) +:
      channels.zipWithIndex.map { case (c, i) =>
        scenario(s"r$i", Some(c))
      }).mkString(",\n")
    val rows = channels.zipWithIndex.map { case (c, i) =>
      s"""SELECT '${esc(c)}' AS channel,
         |  (SELECT CAST(v AS DOUBLE) FROM v_full_$iters
         |    WHERE state = '__start__') / 1000000.0 AS conv_prob_full,
         |  (SELECT CAST(v AS DOUBLE) FROM v_r${i}_$iters
         |    WHERE state = '__start__') / 1000000.0 AS conv_prob_without,
         |  CASE WHEN (SELECT v FROM v_full_$iters WHERE state = '__start__')
         |      <> 0 THEN
         |    round(CAST((SELECT v FROM v_full_$iters WHERE state = '__start__')
         |      - (SELECT v FROM v_r${i}_$iters WHERE state = '__start__')
         |      AS DOUBLE)
         |      / CAST((SELECT v FROM v_full_$iters WHERE state = '__start__')
         |        AS DOUBLE), 6)
         |  END AS removal_effect""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""states(state) AS (VALUES $stateValues),
       |$scenarios
       |SELECT * FROM ($rows) ORDER BY channel""".stripMargin
  }

  /** One-day-ahead forecast backtest of [[ewmaDaily]]: treat each day's
    * EWMA as the forecast for the NEXT observed day and score it —
    * per type: `event_type, n_days, mae, mape` (mean absolute error and
    * mean absolute percentage error over consecutive-day pairs, round 6).
    * The "is the smoother a usable forecaster" readout a monitoring
    * pipeline runs before alerting on EWMA deviations.
    *
    * Determinism: each per-day error |cnt − ewma| is one double op over
    * the dyadic-exact EWMA; errors are rounded to 6 and summed AS
    * DECIMAL (the x103 convention), then divided by the day count.
    *
    * Scale: rides ewmaDaily's aggregate (|types|·|days| rows); the
    * backtest join is a self equi-join on (type, day+1) over that tiny
    * frame.
    */
  def ewmaBacktest(events: DataFrame, windowDays: Int = 20): DataFrame = {
    val e = ewmaDaily(events, windowDays)
    val f = e.select(col("event_type"), (col("day") + 1).as("day"),
      col("ewma").as("_forecast"))
    e.join(f, Seq("event_type", "day"))
      .select(col("event_type"),
        round(abs(col("cnt").cast("double") - col("_forecast")), 6)
          .cast("decimal(28,6)").as("_err"),
        round(abs(col("cnt").cast("double") - col("_forecast")) /
          col("cnt").cast("double"), 6).cast("decimal(28,6)").as("_ape"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(col("_err")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mae"),
        round(sum(col("_ape")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mape"))
  }

  /** The 2^-k time-decay weights as DECIMAL(38,16) literal strings, one
    * per whole-day gap 0..16 — shared verbatim by the Spark plan and the
    * SQL oracle (each 2^-k, k <= 16, is EXACT in 16 decimal places, so
    * the credit sums are order-independent decimals, the ewmaDaily
    * dyadic convention carried into attribution). */
  private[graft] val DecayWeights: Seq[(Int, String)] = (0 to 16).map { k =>
    k -> BigDecimal(0.5).pow(k).setScale(16).toString
  }

  /** Multi-touch TIME-DECAY attribution — [[lastTouchAttribution]]'s
    * sibling model: every non-conversion touch within `lagSec` before a
    * conversion of the same user earns credit 2^-gap_days (whole-day
    * gap, capped at 16 — older touches contribute < 2 parts in 10^5).
    * Per channel: `channel, n_touches, credit, share` (credit an exact
    * decimal sum cast to double; share of total credit, round 6).
    *
    * Scale: the pair stage is [[conversionPairs]]' shape — ONE user_id
    * equi-join with the lag window as a residual predicate, per-user
    * fan-out bounded by touches·conversions inside the lag; credit
    * aggregation is map-side combined over ≤ |types| channels; the
    * total joins back as a one-row broadcast.
    */
  def timeDecayAttribution(events: DataFrame,
      convType: String = "purchase",
      lagSec: Long = 7L * 86400): DataFrame = {
    require(lagSec > 0, s"need lagSec > 0, got $lagSec")
    val touches = events.filter(col("event_type") =!= convType)
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts_ns").as("_tns"))
    val convs = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("ts_ns").as("_cns"))
    val gapDays = least(
      expr(s"(_cns - _tns) div ${86400L * 1000000000L}"), lit(16L))
    val weight = DecayWeights.foldLeft(
      lit(null).cast("decimal(38,16)")) { case (acc, (k, lv)) =>
      when(gapDays === k, expr(s"CAST('$lv' AS DECIMAL(38,16))"))
        .otherwise(acc)
    }
    val perChannel = touches.join(convs, "user_id")
      .filter(col("_cns") >= col("_tns") &&
        col("_cns") <= col("_tns") + lagSec * 1000000000L)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(weight).as("_credit"))
    val total = perChannel.agg(sum(col("_credit")).as("_tot"))
    perChannel.crossJoin(broadcast(total))
      .select(col("channel"), col("n_touches"),
        col("_credit").cast("double").as("credit"),
        round(col("_credit").cast("double") /
          col("_tot").cast("double"), 6).as("share"))
  }

  /** Position-based (U-shaped) multi-touch attribution: each converting
    * user's journey (touches strictly before the FIRST conversion, the
    * removal-effect convention) credits 40% to the first touch, 40% to
    * the last, and splits 20% across the middles (one touch → 100%,
    * two → 50/50). Per channel: `channel, n_touches, credit, share`
    * (credit/share round 6).
    *
    * Determinism: per-touch weights are exact doubles (1, 0.5, 0.4) or
    * one double division (0.2/(m−2)), rounded to 12 and summed AS
    * DECIMAL (the x103 order-independent convention); every journey
    * contributes exactly 1.0 total, so the share denominator is the
    * conversion count by construction.
    *
    * Scale: one user_id equi-join against the first-conversion frame +
    * two windows partitioned by user (cardinality = users, no global
    * funnel); credit aggregation is map-side combined over ≤ |types|
    * channels; the total rejoins as a one-row broadcast (x57 pattern).
    */
  def positionAttribution(events: DataFrame,
      convType: String = "purchase"): DataFrame = {
    val conv1 = events.filter(col("event_type") === convType)
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts_ns"), col("event_id"))).as("_fc"))
    val touches = events.filter(col("event_type") =!= convType)
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts_ns"), col("event_id"))
      .join(conv1, "user_id")
      .filter(struct(col("ts_ns"), col("event_id")) < col("_fc"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val wc = Window.partitionBy(col("user_id"))
    val pos = touches.withColumn("_pos", row_number().over(w))
      .withColumn("_m", count(lit(1)).over(wc))
    val weight = when(col("_m") === 1, lit(1.0))
      .when(col("_pos") === 1 || col("_pos") === col("_m"),
        when(col("_m") === 2, lit(0.5)).otherwise(lit(0.4)))
      .otherwise(lit(0.2) / (col("_m") - 2).cast("double"))
    val perChannel = pos
      .select(col("channel"),
        round(weight, 12).cast("decimal(28,12)").as("_w"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"), sum(col("_w")).as("_credit"))
    val total = perChannel.agg(sum(col("_credit")).as("_tot"))
    perChannel.crossJoin(broadcast(total))
      .select(col("channel"), col("n_touches"),
        round(col("_credit").cast("double"), 6).as("credit"),
        round(col("_credit").cast("double")
          / col("_tot").cast("double"), 6).as("share"))
  }

  /** Exact data-driven Shapley attribution (the removal-effect model's
    * game-theoretic sibling): the characteristic value of a channel SET
    * is the empirical conversion rate of users whose journey touched
    * exactly that set (quantized to 10^-6 by EXACT integer rounding —
    * the classifierScore div idiom); each channel's Shapley value
    * averages its marginal contribution over all orderings. Per
    * channel: `channel, shapley` (Σ shapley = v(all) − v(∅), the
    * efficiency axiom — pinned by spec). Sets absent from the data
    * value 0 (standard empirical practice).
    *
    * Determinism: v6 per set is exact BIGINT; the subset sum
    * Σ |S|!(c−1−|S|)!·(v6(S∪{i}) − v6(S)) is exact BIGINT (bounded by
    * c!·10^6); the ONLY float op is the final division by c!·10^6 —
    * one IEEE division of exact integers, identical on every engine,
    * so the output needs no rounding at all.
    *
    * Scale: events-scale work is one user groupBy (set assembly) + one
    * set-cardinality aggregate; the 2^c subset enumeration runs
    * driver-side on the collected ≤ min(2^c, 4096) set rows — the
    * Markov-matrix collect posture, bounded by the type vocabulary
    * (`require(c <= maxChannels)` fails loudly past it).
    */
  def shapleyAttribution(events: DataFrame, convType: String = "purchase",
      maxChannels: Int = 12): DataFrame = {
    val spark = events.sparkSession
    val conv1 = events.filter(col("event_type") === convType)
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts_ns"), col("event_id"))).as("_fc"))
    val perUser = events
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
      .join(conv1, Seq("user_id"), "left")
      .withColumn("_isTouch", col("event_type") =!= convType &&
        (col("_fc").isNull ||
          struct(col("ts_ns"), col("event_id")) < col("_fc")))
      .groupBy(col("user_id"))
      .agg(concat_ws("|", array_sort(
          collect_set(when(col("_isTouch"), col("event_type")))))
          .as("set_key"),
        max(when(col("event_type") === convType, 1L).otherwise(0L))
          .as("_conv"))
    val sets = perUser.groupBy(col("set_key"))
      .agg(count(lit(1)).as("n_users"), sum(col("_conv")).as("n_conv"))
      .withColumn("_v6",
        expr("(2L * n_conv * 1000000L + n_users) div (2L * n_users)"))
    val rows = sets.select(col("set_key"), col("_v6")).collect()
    require(rows.length <= 4096,
      s"set cardinality ${rows.length} exceeds the driver-side bound")
    val v = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val channels =
      v.keys.filter(_.nonEmpty).flatMap(_.split('|')).toSet.toSeq.sorted
    val c = channels.size
    require(c >= 1 && c <= maxChannels,
      s"need 1..$maxChannels channels, got $c")
    def fact(x: Int): Long = (1 to x).map(_.toLong).product
    def key(s: Seq[String]): String = s.sorted.mkString("|")
    val denom = fact(c).toDouble * 1e6
    val out = channels.map { ch =>
      val others = channels.filterNot(_ == ch)
      val scaled = (0 until (1 << others.size)).map { mask =>
        val s = others.zipWithIndex.collect {
          case (x, i) if ((mask >> i) & 1) == 1 => x
        }
        fact(s.size) * fact(c - 1 - s.size) *
          (v.getOrElse(key(ch +: s), 0L) - v.getOrElse(key(s), 0L))
      }.sum
      org.apache.spark.sql.Row(ch, scaled.toDouble / denom)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("channel",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("shapley",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** SCD2 (slowly-changing-dimension) history build: compress a per-key
    * event stream into attribute VALIDITY INTERVALS — per key, one row
    * per value CHANGE with `value, valid_from, valid_to, is_current`
    * (valid_to = the next change's timestamp, NULL while current; ties
    * broken by `idCol`, the transitionMatrix total-order contract).
    * Consecutive equal values collapse into one interval — the
    * warehouse dimension-history operator.
    *
    * Scale: two windows partitioned by the KEY (cardinality = keys, no
    * global funnel): lag to detect changes, lead over the already
    * change-compressed rows to close intervals. Per-key event counts
    * bound the sort buffer — sessionize first for power keys, the
    * transitionMatrix note.
    */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val changes = df.select(col(keyCol), col(attrCol), col(tsCol), col(idCol))
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .filter(col("_prev").isNull || col(attrCol) =!= col("_prev"))
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(attrCol).as("value"),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }
}
