package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over the events table (north-star extension;
  * SURVEY.md §2.10 — the reference has no streaming/windows, these are the
  * Spark-superset operators).
  *
  * Batch forms below are expressed in epoch arithmetic so a SQL oracle can
  * replay them; the Structured Streaming forms (same logical windows, with
  * watermarks) live in graft.streaming.StreamingWindows.
  *
  * All window starts are integer epoch seconds — deterministic in any
  * engine, no timezone/precision traps (the source `ts` is nanos).
  */
object EventWindows {

  /** FLOOR division on BIGINT: Spark's `div` truncates toward zero while
    * the DuckDB oracle's `//` floors — identical post-epoch, divergent for
    * negative (pre-1970) nanos. Both sides use floor semantics so window
    * boundaries agree on ANY timestamp. Integer arithmetic throughout — a
    * double roundtrip would lose sub-256ns precision at 2024-era epochs.
    */
  def floorDivSql(e: String, d: Long): String =
    s"(($e div $d) + (CASE WHEN $e % $d < 0 THEN -1 ELSE 0 END))"

  /** Exact integer epoch seconds from nanos (floor semantics). Shared
    * with EventAnalytics and the streaming twins — the single owner of
    * the epoch/alignment convention. */
  private[graft] def epochSec = expr(floorDivSql("ts_ns", 1000000000L))

  /** Exact integer epoch day from nanos (floor semantics): the one day
    * expression of every daily series, batch and streaming. */
  private[graft] def epochDay = expr(floorDivSql("ts_ns", 86400L * 1000000000L))

  /** The daily series core: `(event_type, day, cnt)`, one map-side
    * combined count per observed (type, day) cell. */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), epochDay.as("day"))
      .agg(count(lit(1)).as("cnt"))

  /** [[dailyCounts]] on the DENSE grid: `(event_type, day, y)` with
    * every day of each type's [min, max] span, absent days as 0 (the
    * grid is span-bounded, not event-bounded). `withD0` also carries
    * each type's first day as `_d0`, after `event_type`. */
  private[graft] def denseDaily(daily: DataFrame,
      withD0: Boolean = false): DataFrame = {
    val d0 = if (withD0) Seq(col("_d0")) else Nil
    daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select((col("event_type") +: d0 :+
        explode(sequence(col("_d0"), col("_d1"))).as("day")): _*)
      .join(daily, Seq("event_type", "day"), "left")
      .select((col("event_type") +: d0 :+ col("day") :+
        coalesce(col("cnt"), lit(0L)).as("y")): _*)
  }

  /** Floor-aligned window start: pmod keeps the offset non-negative, so
    * the start is the floor multiple even for negative seconds. */
  private[graft] def winStart(sec: org.apache.spark.sql.Column, width: Long) =
    sec - pmod(sec, lit(width))

  /** Tumbling window aggregation: window length in seconds. */
  def tumbling(events: DataFrame, widthSec: Long): DataFrame =
    events
      .withColumn("win_start", winStart(epochSec, widthSec))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Sliding windows: width `widthSec`, slide `slideSec` (width must be a
    * multiple of slide). Each event lands in width/slide windows —
    * generated with explode, no self-join.
    */
  def sliding(events: DataFrame, widthSec: Long, slideSec: Long): DataFrame = {
    require(widthSec % slideSec == 0, "width must be a multiple of slide")
    val k = (widthSec / slideSec).toInt
    val sec = epochSec
    val base = winStart(sec, slideSec)
    val starts = array((0 until k).map(i => base - lit(i.toLong * slideSec)): _*)
    events
      .withColumn("win_start", explode(starts))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Session windows per user: a new session starts after a gap of more
    * than `gapSec` seconds. Returns (user_id, session_id, n_events,
    * sess_start, duration_s).
    */
  def sessions(events: DataFrame, gapSec: Long): DataFrame =
    sessionized(events, gapSec)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("sec")).as("sess_start"),
        (max(col("sec")) - min(col("sec"))).as("duration_s"))

  /** Classic lag + running-sum sessionization, shared by [[sessions]]
    * and [[sessionFlows]]: every event with its epoch `sec` and its
    * per-user `session_id`. The per-user window sort is the only shuffle
    * (partition by user — scales with user cardinality, not event count
    * per partition).
    */
  private def sessionized(events: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("sec", epochSec)
      .withColumn("new_sess",
        when(col("sec") - lag(col("sec"), 1).over(w) > gapSec, 1)
          .when(lag(col("sec"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
  }

  /** Session flow matrix over [[sessions]]: per (entry_type,
    * exit_type) pair — the first and last event of each session under
    * the (ts, event_id) total order — session count, bounce count
    * (single-event sessions), bounce rate and mean session length.
    * The landing→exit Sankey feed with the bounce-rate diagnostic.
    *
    * Scale: shares the sessionizer's ONE user_id exchange (entry/exit
    * ride the session aggregate as min/max over (ts, id, type)
    * structs — no extra window pass); the flow aggregate is map-side
    * combinable on ≤ |types|² keys.
    */
  def sessionFlows(events: DataFrame, gapSec: Long): DataFrame =
    sessionized(events, gapSec)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ts_ns"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("ts_ns"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"))
      .groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .as("n_bounces"),
        round(sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("bounce_rate"),
        round(sum(col("n_events")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_events"))

  /** Per-user engagement rollup over [[sessions]]: session count, event
    * count, mean events/session and mean/max session duration (means
    * round 6). SHUFFLE-FREE on top of the sessionizer: the window, the
    * (user, session) aggregate, and this user aggregate all share the
    * one user_id exchange — Catalyst keeps the partitioning, so the
    * whole engagement report costs exactly one shuffle of the events
    * table at any scale.
    */
  def sessionSummary(events: DataFrame, gapSec: Long): DataFrame =
    sessions(events, gapSec)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        round(sum(col("n_events")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_events"),
        round(sum(col("duration_s")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_duration_s"),
        max(col("duration_s")).as("max_duration_s"))
}
