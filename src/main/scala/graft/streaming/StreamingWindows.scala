package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** One row of streaming custom state output. */
final case class UserRunningCount(user_id: Long, n: Long)

/** Open-session state carried between micro-batches. */
final case class OpenSession(session_id: Long, start_sec: Long,
    last_sec: Long, n_events: Long)

/** A closed session emitted by the streaming sessionizer. */
final case class ClosedSession(user_id: Long, session_id: Long,
    n_events: Long, sess_start: Long, duration_s: Long)

/** Per-source KMV sketch state: the k smallest distinct token hashes. */
final case class KmvState(hvs: Seq[Long])

/** One streaming cardinality estimate emission (per source, per batch). */
final case class KmvEstimate(source: String, n_sketch: Long,
    kth_hash: Long, kmv_estimate: Double)

/** One funnel input event (streaming funnel's typed row). */
final case class FunnelEvent(user_id: Long, event_type: String,
    ts_ns: Long, event_id: Long)

/** Per-user funnel state: first-step time, completed-stage count, last
  * completed stage's time. O(1) per user, independent of event volume. */
final case class FunnelUserState(t0: Long, stage: Int, t: Long)

/** Per-user funnel progress emission (per batch, update mode). */
final case class FunnelProgress(user_id: Long, stage: Long,
    t0_ns: Long, t_ns: Long)

/** Per-type anomaly-tracker state: the open tumbling window's (start,
  * count) plus the trailing closed-window counts — O(trailing) per event
  * type, independent of event volume. */
final case class AnomalyState(openWin: Long, openN: Long, trail: Seq[Long])

/** One closed-window anomaly emission (see EventAnalytics.anomalyScores
  * for the z-score contract). */
final case class AnomalyScore(win_start: Long, event_type: String, n: Long,
    z: Option[Double], is_anomaly: Boolean)

/** One closed day's count in EWMA trailing state. */
final case class DayCount(day: Long, n: Long)

/** Per-type EWMA state: the open day's accumulator plus the trailing
  * closed (day, count) pairs — O(windowDays) per event type. */
final case class EwmaState(openDay: Long, openN: Long, trail: Seq[DayCount])

/** One closed-day EWMA emission (see EventAnalytics.ewmaDaily for the
  * dyadic-decay contract). */
final case class EwmaPoint(event_type: String, day: Long, cnt: Long,
    ewma: Double)

/** Per-type CUSUM state: the open day's accumulator plus the running
  * two-sided excursions — a handful of scalars per event type. */
final case class CusumState(openDay: Long, openN: Long, sp: Double,
    sn: Double)

/** One closed-day CUSUM emission (see EventAnalytics.cusumDaily for the
  * tabular-CUSUM contract; here μ/σ are the PRE-TRAINED reference). */
final case class CusumPoint(event_type: String, day: Long, cnt: Long,
    sp: Double, sn: Double, alarm: Boolean)

/** Per-type Holt-Winters state: first grid day, the open day's
  * accumulator, the init-phase closed counts (until `period` of them),
  * then the (level, trend, seasonal[period]) recurrence state —
  * O(period) per event type. */
final case class HwState(d0: Long, openDay: Long, openN: Long,
    initBuf: Seq[Long], l: Double, b: Double, s: Seq[Double],
    ready: Boolean)

/** One closed-day Holt-Winters emission (post-init days only; see
  * EventAnalytics.holtWintersDaily for the halving recurrence). */
final case class HwPoint(event_type: String, day: Long, cnt: Long,
    level: Double, trend: Double)

/** Per-user last-event state for the streaming transition tracker —
  * O(1) per user: the (ts, id) in-order watermark plus its type. */
final case class LastEvent(ts: Long, id: Long, tpe: String)

/** One observed transition (raw edge; consumers aggregate counts —
  * see EventAnalytics.transitionMatrix for the batch matrix). */
final case class Transition(user_id: Long, from_type: String,
    to_type: String)

/** One count-min-sketch cell emission (latest running total). */
final case class CmsCell(d: Int, bucket: Long, cnt: Long)

/** Open SCD2 interval per key: current value, when it opened, and the
  * last (ts, id) seen — the in-order watermark for the fail-fast gate. */
final case class Scd2State(value: String, validFrom: Long,
  lastTs: Long, lastId: Long)

/** A CLOSED validity interval (the still-open one is never emitted). */
final case class Scd2Closed(user_id: Long, value: String,
  valid_from: Long, valid_to: Long)

/** Structured Streaming forms of the event-time windows (north-star
  * extension; batch forms in graft.ops.EventWindows share the window
  * logic).
  *
  * The events parquet drives the stream; `ts` arrives as nanos-since-epoch
  * (see Tables.events) and becomes the event-time column via
  * timestamp_micros. Watermarks bound state: at scale the streaming agg
  * keeps only open windows per key in the state store. The stateless
  * near-dup, exact-dup, quality and classifier ingest gates have no
  * separate streaming form here: their graft.ops operators (e.g.
  * Dedup.bandKeyReject, Dedup.bloomReject, TextAnalysis.classifierScore)
  * run on a stream unchanged.
  */
object StreamingWindows {

  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType), // nanos-long or micros-timestamp vintage
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming twin of [[graft.Tables.events]]: same two parquet vintages
    * (TIMESTAMP(NANOS) → nanos-long via `nanosAsLong`, TIMESTAMP(MICROS) →
    * native NTZ), same output contract (`ts` micros TimestampType, `ts_ns`
    * nanos long). FileStreamSource needs a DECLARED schema, so the actual
    * `ts` physical type is taken from the batch read's schema, which
    * [[graft.Tables]] infers from the footer once per file and conf set.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.Tables(spark, dir, "events").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsSchema(tsType))
      // the sf layout stores one file per table; FileStreamSource wants a
      // directory or a glob — the trailing [t] makes this a glob pattern
      // matching exactly events.parquet, so the parent dir becomes the base
      .parquet(s"$dir/events.parque[t]")
    tsType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        // NTZ→LTZ cast is value-preserving: session timezone pinned to UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Tumbling event-time window counts with a watermark. */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Run a windowed streaming aggregation to a memory sink and block until
    * all available input is processed. Complete mode → every window.
    */
  def runToMemory(agg: DataFrame, name: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }

  /** Custom streaming state via mapGroupsWithState: a running per-user
    * event count. The state store keeps one long per user — bounded by
    * user cardinality, not event volume (the KeyValueGroupedDataset
    * stateful surface of SURVEY.md §2.10).
    */
  def statefulUserCounts(events: DataFrame): Dataset[UserRunningCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, UserRunningCount](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserRunningCount(user, n)
      }
  }

  /** Streaming session windows via flatMapGroupsWithState: per-user custom
    * state holds only the OPEN session; a session closes (and is emitted)
    * when a later event arrives more than `gapSec` after it. State size is
    * O(users), independent of event volume — the stateful analogue of
    * EventWindows.sessions.
    */
  def streamingSessions(events: DataFrame, gapSec: Long): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), graft.ops.EventWindows.epochSec.as("sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        val secs = rows.map(_._2).toArray.sorted
        var open = state.getOption
        val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
        secs.foreach { s =>
          open match {
            // a late event from an earlier micro-batch (s < last_sec) must
            // not move the session end BACKWARDS — merge with max/min so
            // duration and subsequent gap checks stay consistent
            case Some(o) if s - o.last_sec <= gapSec =>
              open = Some(o.copy(
                start_sec = math.min(o.start_sec, s),
                last_sec = math.max(o.last_sec, s),
                n_events = o.n_events + 1))
            case Some(o) =>
              closed += ClosedSession(user, o.session_id, o.n_events,
                o.start_sec, o.last_sec - o.start_sec)
              open = Some(OpenSession(o.session_id + 1, s, s, 1))
            case None =>
              open = Some(OpenSession(1, s, s, 1))
          }
        }
        open.foreach(state.update)
        closed.iterator
      }
  }

  /** Streaming exact dedup for ingest pipelines: duplicates arriving
    * within the watermark horizon are dropped; state holds only keys newer
    * than the watermark (bounded), vs. plain dropDuplicates whose state
    * grows forever. The streaming face of the exact-dedup batch operator
    * (graft.ops.Dedup). */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: the static dimension is broadcast to
    * every micro-batch — no stream-side shuffle, no state. */
  def enrichWithStatic(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** One-call streaming INGEST CURATION — the streaming twin of
    * [[graft.ops.Pipeline.curate]]'s gating stages, composed from
    * stateless, broadcast-free gates: quality threshold (pure codegen'd
    * expression), exact-dup rejection against the corpus Bloom filter
    * ([[graft.ops.Dedup.bloomReject]]: map-only probe of the bit array),
    * then near-dup rejection against the corpus band-key set
    * ([[graft.ops.Dedup.bandKeyReject]]: per-band stream-static hash
    * anti-joins on a stream, one semi-join on a batch frame — no
    * broadcast limit, static side bucketable). No watermark, no state
    * store, no streaming aggregation: the whole gate is legal in any
    * micro-batch plan. The corpus-WIDE stages — global
    * keeper election, decontamination, shuffle/shard — need full-corpus
    * state and remain batch jobs over the accumulated store, which is
    * exactly how production ingest splits stream-time vs batch-time work.
    * Spec-pinned equal to the same composition applied in batch.
    *
    * Near-dup precision: pass `verifyAgainst = Some(Dedup.corpusBandDocs
    * (corpus, …))` and the near-dup stage becomes the Jaccard-VERIFIED
    * gate against that state — band collisions alone
    * can no longer drop a good document, matching the batch pipeline's
    * deletion contract. The default (None) keeps the lighter
    * band-key-only rejection and its documented recall-over-precision
    * tradeoff (state is keys only; a ~J^rowsPerBand-probability banding
    * false positive drops a novel doc).
    */
  def streamingIngestCuration(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      corpusKeys: DataFrame, minQuality: Double = 0.3,
      bands: Int = graft.ops.Pipeline.DefaultBands,
      rowsPerBand: Int = graft.ops.Pipeline.DefaultRowsPerBand,
      textCol: String = "text",
      verifyAgainst: Option[DataFrame] = None,
      minJaccard: Double = 0.5): DataFrame =
    graft.ops.Dedup.bandKeyReject(
      graft.ops.Dedup.bloomReject(docs.filter(
          graft.ops.TextAnalysis.qualityExpr(col(textCol)) > minQuality),
        bloom, textCol),
      verifyAgainst.getOrElse(corpusKeys), bands, rowsPerBand, textCol,
      verifyAgainst.map(_ => minJaccard))

  /** Streaming distinct-token cardinality monitor: a per-source KMV
    * sketch ([[graft.ops.Sketches]]) maintained as mapGroupsWithState
    * state and re-estimated every micro-batch. The state is the k-min
    * set itself — O(k) longs per source — and merging a batch is a
    * set-min: order-independent, so the estimate after N batches equals
    * the batch sketch over the union of their input (the KMV merge
    * property, here across TIME instead of across sources; StreamingSpec
    * pins streaming == batch through multi-batch ingestion).
    *
    * Estimate formula matches [[graft.ops.Sketches]] exactly (m < k →
    * exact m; else (k-1)·2^32/h_k rounded 6), so monitors and batch
    * reports never disagree on the same data.
    */
  def streamingKmvMonitor(docs: DataFrame, k: Int,
      groupCol: String = "source",
      textCol: String = "text"): Dataset[KmvEstimate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs
      .select(col(groupCol).as("source"),
        explode(split(col(textCol), " ")).as("tok"))
      .select(col("source"), md5(col("tok")).as("_d"))
      .select(col("source"),
        expr(graft.ops.TextAnalysis.hexToIntSql("_d", 8)).as("hv"))
      .as[(String, Long)]
    hashed.groupByKey(_._1)
      .mapGroupsWithState[KmvState, KmvEstimate](
        GroupStateTimeout.NoTimeout()) { (source, rows, state) =>
        val prior = state.getOption.map(_.hvs).getOrElse(Seq.empty)
        val merged = (prior.iterator ++ rows.map(_._2))
          .toSeq.distinct.sorted.take(k)
        state.update(KmvState(merged))
        val m = merged.size
        val kth = merged.last
        val est =
          if (m < k) m.toDouble
          else BigDecimal((k - 1).toDouble * 4294967296.0 / kth)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        KmvEstimate(source, m.toLong, kth, est)
      }
  }

  /** Streaming ordered-funnel tracker: per-user O(1) state machine over
    * `steps`, advanced in (ts_ns, event_id) order within each micro-batch
    * — the streaming twin of EventAnalytics.funnel / funnelWithin
    * (horizonSec = Some(h)). Emits each user's (stage, t0, t) per batch
    * in update mode; stage counts are one aggregation over the sink.
    *
    * Equivalence contract (StreamingSpec): with events delivered in
    * event-time order ACROSS batches (arbitrary order within a batch —
    * the group's rows are sorted before folding), the final per-user
    * stage equals batch-funnel membership exactly: both take the minimal
    * qualifying time at every stage. A stage-k event arriving before the
    * stage-(k-1) state exists is dropped, never buffered — the standard
    * monotone streaming approximation; out-of-order tolerance at scale
    * comes from widening micro-batches (each batch re-sorts its rows),
    * not from unbounded event buffering.
    */
  def streamingFunnel(events: DataFrame, steps: Seq[String],
      horizonSec: Option[Long] = None): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val hNs = horizonSec.map(_ * 1000000000L)
    val ev = events.select(col("user_id"), col("event_type"), col("ts_ns"),
      col("event_id")).as[FunnelEvent]
    ev.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelUserState, FunnelProgress](
        GroupStateTimeout.NoTimeout()) { (uid, rows, state) =>
        var st = state.getOption.getOrElse(FunnelUserState(0L, 0, 0L))
        rows.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
          if (st.stage == 0) {
            if (e.event_type == steps.head)
              st = FunnelUserState(e.ts_ns, 1, e.ts_ns)
          } else if (st.stage < steps.length &&
              e.event_type == steps(st.stage) && e.ts_ns > st.t &&
              hNs.forall(h => e.ts_ns <= st.t0 + h)) {
            st = st.copy(stage = st.stage + 1, t = e.ts_ns)
          }
        }
        if (st.stage > 0) state.update(st)
        FunnelProgress(uid, st.stage.toLong, st.t0, st.t)
      }
  }

  /** Streaming count-min sketch: per-(depth, bucket) running cell
    * totals via mapGroupsWithState — the CMS merge property (cell-wise
    * ADD) realized as stream state, so the sketch after N micro-batches
    * equals the batch sketch of the union corpus exactly (spec-pinned).
    * State per key is ONE long; keys are bounded by depth×width
    * regardless of corpus size — the bounded-memory frequency monitor
    * for an ingest stream. Emits each touched cell's new total per
    * batch (update mode).
    */
  def streamingCmsMonitor(docs: DataFrame, depth: Int = 4,
      width: Int = 1024, textCol: String = "text"): Dataset[CmsCell] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.ops.Sketches.cmsCells(docs, depth, width, textCol)
      .as[(Int, Long)]
      .groupByKey(identity)
      .mapGroupsWithState[Long, CmsCell](GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          CmsCell(key._1, key._2, total)
      }
  }

  /** Streaming per-type daily EWMA monitor: the flatMapGroupsWithState
    * twin of EventAnalytics.ewmaDaily. State per event_type is the open
    * day's count plus the trailing `windowDays` closed (day, count)
    * pairs — O(windowDays) longs, never raw events. A day is smoothed
    * and emitted the moment a later-day event closes it.
    *
    * BITWISE equal to the batch form on closed days, in any arrival
    * order WITHIN the day semantics: the dyadic 0.5^k weights make
    * every term exact in a double, so the streaming sum (trail order)
    * and the batch sum (shuffle order) are the same value — the
    * property that makes a stream==batch pin possible without DECIMAL
    * staging. Days close through the shared open-period fold
    * [[advanceOpenPeriod]], which ENFORCES the in-order-across-batches
    * contract: a micro-batch carrying a day older than the open day fails
    * fast instead of silently re-opening (and double-counting) it. Each
    * type's final still-open day is never emitted (incomplete by
    * definition).
    */
  def streamingEwmaDaily(events: DataFrame,
      windowDays: Int = 20): Dataset[EwmaPoint] = {
    // same <= 53 bound as the batch form: 1L << k wraps past 63 and the
    // dyadic-exactness contract needs the terms inside the mantissa
    require(windowDays >= 1 && windowDays <= 53,
      s"need 1 <= windowDays <= 53, got $windowDays")
    val spark = events.sparkSession
    import spark.implicits._
    typedPeriods(events, graft.ops.EventWindows.epochDay)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe, rows, state) =>
          var st = state.getOption.getOrElse(EwmaState(Long.MinValue, 0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaPoint]
          val (day, n) = advanceOpenPeriod("streamingEwmaDaily", tpe, "day",
              st.openDay, st.openN, rows.map(_._2)) { (d, c, _) =>
            val terms = st.trail :+ DayCount(d, c)
            out += EwmaPoint(tpe, d, c, 0.5 * terms.iterator
              .filter(dc => dc.day > d - windowDays && dc.day <= d)
              .map(dc => dc.n.toDouble / (1L << (d - dc.day)).toDouble)
              .sum)
            st = st.copy(trail = terms.takeRight(windowDays))
          }
          state.update(st.copy(openDay = day, openN = n))
          out.iterator
      }
  }

  /** Streaming CUSUM monitor, the online half of
    * [[graft.ops.EventAnalytics.cusumDaily]]: the batch form TRAINS
    * μ/σ from a reference window (it needs the whole series); this
    * twin takes those pre-trained params per event_type and scores
    * arriving days online with the identical recurrence
    * (`sp' = max(0, sp + (y − (μ+κ)))`, κ = σ/2, alarm at 4σ),
    * emitting one [[CusumPoint]] per CLOSED day. Types absent from
    * `params` pass through unscored (dropped), the deployment contract
    * for a new event type appearing before retraining.
    *
    * State per type is four scalars; same open-period fold
    * ([[advanceOpenPeriod]], fail-fast in-order) and same |types|-bounded
    * keying as [[streamingEwmaDaily]]. The recurrence arithmetic is the same
    * IEEE op sequence as the batch fold, so given batch-trained
    * params, streamed sp/sn match the batch run bitwise.
    */
  def streamingCusumDaily(events: DataFrame,
      params: Map[String, (Double, Double)]): Dataset[CusumPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    typedPeriods(events, graft.ops.EventWindows.epochDay)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe, rows, state) =>
          params.get(tpe) match {
            case None => Iterator.empty
            case Some((mu, sigma)) =>
              val muk = mu + sigma / 2.0
              val mku = mu - sigma / 2.0
              val h = 4.0 * sigma
              var st = state.getOption
                .getOrElse(CusumState(Long.MinValue, 0L, 0.0, 0.0))
              val out = scala.collection.mutable.ArrayBuffer
                .empty[CusumPoint]
              val (day, n) = advanceOpenPeriod("streamingCusumDaily", tpe,
                  "day", st.openDay, st.openN, rows.map(_._2)) { (d, c, _) =>
                val y = c.toDouble
                val sp = math.max(0.0, st.sp + (y - muk))
                val sn = math.max(0.0, st.sn + (mku - y))
                out += CusumPoint(tpe, d, c, sp, sn, sp > h || sn > h)
                st = st.copy(sp = sp, sn = sn)
              }
              state.update(st.copy(openDay = day, openN = n))
              out.iterator
          }
      }
  }

  /** Streaming twin of [[graft.ops.EventAnalytics.holtWintersDaily]]:
    * per-type online level+trend+seasonal recurrence over CLOSED days,
    * O(period) state. The first `period` closed days initialize
    * (l = mean, b = 0, s_i = y_i − l, exactly the batch init); every
    * later closed day folds the same halving recurrence and emits an
    * [[HwPoint]]. DENSE-grid semantics: a gap between observed days
    * folds explicit zero days, so the streamed recurrence sees the
    * identical series the batch grid builds. Same open-period fold
    * ([[advanceOpenPeriod]], fail-fast in-order) as
    * [[streamingCusumDaily]]; the still-open day is never
    * folded, so chaining it manually onto the last emission reproduces
    * the batch end state bitwise (the spec's gate).
    */
  def streamingHoltWinters(events: DataFrame,
      period: Int = 7): Dataset[HwPoint] = {
    require(period >= 2, s"need period >= 2, got $period")
    val spark = events.sparkSession
    import spark.implicits._
    typedPeriods(events, graft.ops.EventWindows.epochDay)
      .flatMapGroupsWithState[HwState, HwPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe, rows, state) =>
          var st = state.getOption.getOrElse(
            HwState(Long.MinValue, Long.MinValue, 0L, Nil, 0.0, 0.0,
              Nil, ready = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[HwPoint]
          // fold ONE closed grid day — the batch op sequence verbatim
          def fold(day: Long, y: Long): Unit = {
            if (st.d0 == Long.MinValue) st = st.copy(d0 = day)
            if (!st.ready) {
              val buf = st.initBuf :+ y
              if (buf.length == period) {
                val l0 = buf.sum.toDouble / period.toDouble
                st = st.copy(initBuf = Nil, l = l0, b = 0.0,
                  s = buf.map(_.toDouble - l0), ready = true)
              } else st = st.copy(initBuf = buf)
            } else {
              val slot = ((day - st.d0) % period).toInt
              val sv = st.s(slot)
              val yD = y.toDouble
              val newL = 0.5 * (yD - sv) + 0.5 * (st.l + st.b)
              val newB = 0.5 * (newL - st.l) + 0.5 * st.b
              val newS = 0.5 * (yD - newL) + 0.5 * sv
              st = st.copy(l = newL, b = newB,
                s = st.s.updated(slot, newS))
              out += HwPoint(tpe, day, y, newL, newB)
            }
          }
          val (day, n) = advanceOpenPeriod("streamingHoltWinters", tpe, "day",
              st.openDay, st.openN, rows.map(_._2)) { (d, c, next) =>
            fold(d, c)
            // zero-fill the gap: the batch grid has these days
            (d + 1 until next).foreach(fold(_, 0L))
          }
          state.update(st.copy(openDay = day, openN = n))
          out.iterator
      }
  }

  /** Streaming twin of [[graft.ops.EventAnalytics.transitionMatrix]]'s
    * edge extraction: per-user O(1) mapGroupsWithState carrying only
    * the LAST (ts, event_id, type); each micro-batch sorts the user's
    * new events by (ts, event_id) — the batch tie rule — and emits one
    * [[Transition]] per consecutive pair, chaining across batches
    * through the stored last event. Consumers aggregate the (from, to)
    * counts downstream (a streaming aggregation cannot follow the
    * stateful op in one query — the anomaly-monitor caveat). An event
    * ordered (ts, id)-before the stored last fails fast: silently
    * re-chaining would fabricate transitions the batch never sees.
    */
  def streamingTransitions(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("user_id").cast("long"), col("event_type"),
        col("ts_ns").cast("long"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, it, state) =>
          val batch = it.toSeq.sortBy(r => (r._3, r._4))
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var last = state.getOption
          batch.foreach { case (_, tpe, ts, id) =>
            last match {
              case Some(le) if ts < le.ts || (ts == le.ts && id < le.id) =>
                throw new IllegalStateException(
                  s"streamingTransitions($user): event ($ts, $id) " +
                    s"arrived after (${le.ts}, ${le.id}) — input " +
                    "violates the in-order-across-batches contract")
              case Some(le) =>
                out += Transition(user, le.tpe, tpe)
                last = Some(LastEvent(ts, id, tpe))
              case None =>
                last = Some(LastEvent(ts, id, tpe))
            }
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming per-type event-rate anomaly monitor: the mapGroupsWithState
    * twin of EventAnalytics.anomalyScores. State per event_type is the
    * open tumbling window's count plus the trailing `trailing` closed
    * counts — O(trailing) longs, never raw events. A window is scored and
    * emitted the moment a later-window event closes it (flatMap output:
    * several windows can close inside one micro-batch).
    *
    * Windows close through the shared open-period fold
    * ([[advanceOpenPeriod]], fail-fast in-order, like
    * [[streamingEwmaDaily]]); the final still-open window is never
    * emitted (it is incomplete by definition — exactly the row the batch
    * form also lacks until the next window starts). Keying by event_type bounds parallelism at
    * |types| — inherent to per-type trailing semantics, and the state is
    * a few longs, so a single state-store partition per type is the
    * right trade (the volume reduction happens in the group function's
    * per-batch win→count map before any window logic runs).
    */
  def streamingAnomalyScores(events: DataFrame, widthSec: Long,
      trailing: Int = 8, threshold: Double = 3.0): Dataset[AnomalyScore] = {
    require(trailing >= 2, s"need trailing >= 2, got $trailing")
    val spark = events.sparkSession
    import spark.implicits._
    typedPeriods(events,
        graft.ops.EventWindows.winStart(graft.ops.EventWindows.epochSec,
          widthSec))
      .flatMapGroupsWithState[AnomalyState, AnomalyScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe, rows, state) =>
          var st = state.getOption.getOrElse(AnomalyState(Long.MinValue, 0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyScore]
          val (win, n) = advanceOpenPeriod("streamingAnomalyScores", tpe,
              "window", st.openWin, st.openN, rows.map(_._2)) { (w, c, _) =>
            if (st.trail.length == trailing) {
              // BigInt, like the batch form's DECIMAL products — Σ² passes
              // 2^63 once a window holds > ~3·10^9 events of one type
              val su = st.trail.map(BigInt(_)).sum
              val sq = st.trail.map(v => BigInt(v) * v).sum
              val num = BigInt(c) * trailing - su
              val rad = sq * trailing - su * su
              if (rad > 0) {
                val z = num.toDouble / Math.sqrt(rad.toDouble)
                out += AnomalyScore(w, tpe, c,
                  Some(BigDecimal(z).setScale(6,
                    BigDecimal.RoundingMode.HALF_UP).toDouble),
                  z >= threshold)
              } else out += AnomalyScore(w, tpe, c, None, num != 0)
            }
            st = st.copy(trail = (st.trail :+ c).takeRight(trailing))
          }
          state.update(st.copy(openWin = win, openN = n))
          out.iterator
      }
  }

  /** Streaming SCD2 dimension-history builder: the flatMapGroupsWithState
    * twin of EventAnalytics.scd2History. State per key is the OPEN
    * validity interval (value, valid_from) plus the last (ts, id) seen —
    * O(1), never raw events. A value change closes the open interval and
    * emits it; consecutive equal values only advance the watermark.
    *
    * BITWISE equal to the batch form on CLOSED intervals in any
    * micro-batch split (StreamingSpec): rows are sorted by (ts, id)
    * inside each batch, and the in-order-across-batches contract is
    * ENFORCED — an event at or before the key's last seen (ts, id)
    * fails fast instead of silently rewriting history (the
    * streamingEwmaDaily gate). Each key's final still-open interval is
    * never emitted (batch marks it is_current).
    */
  def streamingScd2(events: DataFrame): Dataset[Scd2Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .as[(Long, String, Long, Long)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid, it, state) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          it.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, v, ts, id) =>
            if (st == null) st = Scd2State(v, ts, ts, id)
            else if (ts < st.lastTs || (ts == st.lastTs && id <= st.lastId))
              throw new IllegalStateException(
                s"streamingScd2($uid): event ($ts, $id) arrived at or " +
                  s"before (${st.lastTs}, ${st.lastId}) — input violates " +
                  "the in-order-across-batches contract")
            else if (v == st.value) st = st.copy(lastTs = ts, lastId = id)
            else {
              out += Scd2Closed(uid, st.value, st.validFrom, ts)
              st = Scd2State(v, ts, ts, id)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** `(event_type, period)` rows keyed by type: the one typed projection
    * of the per-type monitors (`period` is [[graft.ops.EventWindows.epochDay]]
    * for the daily ones). A streaming AGGREGATION can't precede a stateful
    * op (unsupported plan), so the per-batch (period → count) reduction
    * happens in [[advanceOpenPeriod]], inside the group function. */
  private def typedPeriods(events: DataFrame,
      period: org.apache.spark.sql.Column) = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), period).as[(String, Long)]
      .groupByKey(_._1)
  }

  /** The open-period fold every per-type monitor shares: advances one
    * key's open period (`open`, `openN`; `open` = Long.MinValue before the
    * first) through a micro-batch's `periods`. It counts each period in a
    * hash map — memory is periods per batch, not events — walks them in
    * order, and hands each CLOSED period and its count to `close`, with
    * the period that closed it; returns the new open (period, count).
    * The in-order-across-batches contract is ENFORCED here: a period
    * older than the open one throws instead of silently re-opening it,
    * which would emit duplicate points and double-count the period in
    * later windows, undetectably.
    */
  private def advanceOpenPeriod(monitor: String, key: String, unit: String,
      open: Long, openN: Long, periods: Iterator[Long])(
      close: (Long, Long, Long) => Unit): (Long, Long) = {
    val counts = scala.collection.mutable.LongMap.empty[Long]
    periods.foreach(p => counts(p) = counts.getOrElse(p, 0L) + 1L)
    counts.toSeq.sortBy(_._1).foldLeft((open, openN)) {
      case ((o, n), (p, c)) =>
        if (p == o) (o, n + c)
        else if (p < o)
          throw new IllegalStateException(
            s"$monitor($key): $unit $p arrived after $unit $o opened — " +
              "input violates the in-order-across-batches contract")
        else {
          if (o != Long.MinValue) close(o, n, p)
          (p, c)
        }
    }
  }

  /** STREAM-STREAM interval self-join: the streaming twin of
    * EventAnalytics.conversionPairs. Both sides are the same watermarked
    * events stream filtered by type; the join keys on user_id with the
    * event-time range `conv_ts ∈ [touch_ts, touch_ts + lagSec]` — the
    * condition Spark's stream-stream join machinery needs to BOUND the
    * state store (each side retains only rows inside watermark + lag).
    * The micros-precision time bound can admit a boundary pair the exact
    * nanos bound would not, so the nanos predicate re-filters after the
    * join — state stays bounded, results stay bitwise equal to batch
    * (StreamingSpec).
    */
  def streamingConversionPairs(events: DataFrame, touchType: String,
      convType: String, lagSec: Long,
      watermark: String = "1 hour"): DataFrame = {
    require(lagSec > 0, s"need lagSec > 0, got $lagSec")
    val touches = events.filter(col("event_type") === touchType)
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("ts_ns").as("_tns"), col("event_id").as("touch_id"))
      .withWatermark("touch_ts", watermark)
    val convs = events.filter(col("event_type") === convType)
      .select(col("user_id").as("_cu"), col("ts").as("conv_ts"),
        col("ts_ns").as("_cns"), col("event_id").as("conv_id"))
      .withWatermark("conv_ts", watermark)
    touches.join(convs,
        col("user_id") === col("_cu") &&
          col("conv_ts") >= col("touch_ts") &&
          col("conv_ts") <= col("touch_ts") + expr(s"INTERVAL $lagSec SECOND"))
      .filter(col("_cns") >= col("_tns") &&
        col("_cns") <= col("_tns") + lagSec * 1000000000L)
      .select(col("user_id"), col("touch_id"), col("conv_id"),
        (col("_cns") - col("_tns")).as("gap_ns"))
  }

  def runStatefulToMemory(ds: Dataset[UserRunningCount], name: String): StreamingQuery = {
    val q = ds.writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming sample-ratio-mismatch monitor — the live gate in front
    * of [[graft.ops.Experiments.srmCheck]]'s batch audit: per
    * event-time window, arm EXPOSURE counts (variant is a map-side
    * pure function of user_id, so this is ONE stateless windowed
    * aggregation — conditional sums per arm, no second shuffle, no
    * per-user state) and the same exact-integer χ² against the uniform
    * design, flagged at `critical`. Emits one row per window:
    * `(window_start, window_end, n_events, n_0..n_{K-1}, chi2,
    * srm_flag)`.
    *
    * Counts here are exposures, not distinct users — the batch
    * srmCheck stays the audit of record; this is the alarm that pages
    * before the batch job runs. StreamingSpec pins streaming == the
    * batch windowed computation on identical input.
    *
    * Scale: watermarked tumbling-window aggregation — O(K) longs per
    * open window of state, map-side partial aggregation, no funnel.
    */
  def streamingSrmMonitor(events: DataFrame, nVariants: Int = 3,
      salt: String = "exp1", widthSec: Long = 3600,
      critical: Double = 13.816,
      watermark: String = "2 hours"): DataFrame = {
    require(nVariants >= 2, s"need nVariants >= 2, got $nVariants")
    // raw parquet carries TIMESTAMP(NTZ); the watermark needs LTZ — the
    // NTZ→LTZ cast is value-preserving under the UTC session tz
    // (Tables.events convention)
    val withV = graft.ops.Experiments.withVariant(
      events.withColumn("ts", col("ts").cast("timestamp")),
      "user_id", nVariants, salt)
    val armCols = (0 until nVariants).map(v =>
      sum(when(col("variant") === v.toLong, 1L).otherwise(0L))
        .as(s"n_$v"))
    val counts = withV
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$widthSec seconds").as("_w"))
      .agg(armCols.head, armCols.tail: _*)
    val nTot = (0 until nVariants).map(v => col(s"n_$v"))
      .reduce(_ + _)
    val kL = lit(nVariants.toLong)
    // same exact-integer χ² shape as srmCheck: round-12 terms,
    // DECIMAL(28,12) sum, round-6 double surface
    val chi2 = round(
      (0 until nVariants).map { v =>
        val num = kL * col(s"n_$v") - col("_n")
        round(num.cast("double") * num.cast("double")
          / (kL * col("_n")).cast("double"), 12).cast("decimal(28,12)")
      }.reduce(_ + _).cast("double"), 6)
    counts.withColumn("_n", nTot)
      .select(Seq(col("_w.start").as("window_start"),
        col("_w.end").as("window_end"), col("_n").as("n_events")) ++
        (0 until nVariants).map(v => col(s"n_$v")) ++
        Seq(chi2.as("chi2"), (chi2 > lit(critical)).as("srm_flag")): _*)
  }

  /** Streaming Jensen–Shannon drift monitor — the live sibling of
    * [[graft.ops.TextAnalysis.jsDivergence]]: per event-time window,
    * the JS divergence between the window's event_type distribution
    * and a REFERENCE distribution profiled offline (passed as exact
    * counts, so the monitor and the profile can't drift). Reference
    * keys become conditional sums inside ONE stateless watermarked
    * aggregation (same single-shuffle posture as
    * [[streamingSrmMonitor]]); types outside the reference pool into
    * an `other` bucket whose reference mass is 0 (contributing
    * ½·p·ln2 — the disjoint-tail closed form). Emits
    * `(window_start, window_end, n_events, js, drift_flag)`.
    *
    * Determinism: per-key terms are the jsDivergence double op
    * sequence over exact integer ratios, rounded to 12 dp and summed
    * (a FIXED-length fold over the bounded key set — no shuffle-order
    * dependence); ln 2 pinned to its nearest-double literal.
    *
    * Scale: O(|reference|) conditional sums per open window; the key
    * set is the offline profile's, bounded by construction.
    */
  def streamingJsDriftMonitor(events: DataFrame,
      reference: Map[String, Long], widthSec: Long = 3600,
      threshold: Double = 0.1,
      watermark: String = "2 hours"): DataFrame = {
    require(reference.nonEmpty && reference.values.forall(_ > 0),
      "reference needs positive counts")
    val halfLn2 = 0.34657359027997264
    val keys = reference.keys.toSeq.sorted
    val refTot = reference.values.sum.toDouble
    val keyCols = keys.map(k =>
      sum(when(col("event_type") === k, 1L).otherwise(0L))
        .as(s"_k_${keys.indexOf(k)}")) :+
      sum(when(!col("event_type").isInCollection(keys), 1L)
        .otherwise(0L)).as("_other")
    val counts = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$widthSec seconds").as("_w"))
      .agg(keyCols.head, keyCols.tail: _*)
    val nTot = (keys.indices.map(i => col(s"_k_$i")) :+ col("_other"))
      .reduce(_ + _)
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(38,12)")
    val terms = keys.zipWithIndex.map { case (k, i) =>
      val pw = col(s"_k_$i").cast("double") / col("_n").cast("double")
      val pr = lit(reference(k).toDouble / refTot)
      // window side empty: the whole term collapses to p_r·½ln2
      when(col(s"_k_$i") === 0L, t12(lit(halfLn2) * pr))
        .otherwise(t12(
          lit(0.5) * pw * log(lit(2.0) * pw / (pw + pr))
            + lit(0.5) * pr * log(lit(2.0) * pr / (pw + pr))))
    } :+ {
      val pw = col("_other").cast("double") / col("_n").cast("double")
      when(col("_other") === 0L, t12(lit(0.0)))
        .otherwise(t12(lit(halfLn2) * pw))
    }
    val js = round(terms.reduce(_ + _).cast("double"), 6)
    counts.withColumn("_n", nTot)
      .select(col("_w.start").as("window_start"),
        col("_w.end").as("window_end"), col("_n").as("n_events"),
        js.as("js"), (js > lit(threshold)).as("drift_flag"))
  }

  /** Streaming conformal gate — the live enforcement of
    * [[graft.ops.Stats.conformalCalibration]]'s batch-fitted intervals:
    * broadcast-join the (grp, center, qhat) model and flag each
    * incoming row whose nonconformity |v − center| exceeds q̂. The
    * comparison runs in EXACT micro-unit integers recovered losslessly
    * from the model's doubles (both are 10⁻⁶-grid values below 2⁵³ by
    * the calibration contract), so the gate can never disagree with
    * the batch coverage audit on the same rows. Rows from groups
    * absent in the model pass through with NULL score and
    * `within = false` (an uncalibrated group must not silently pass).
    * Stateless map-side join — applies to a stream unchanged, no
    * watermark, no state store.
    */
  def streamingConformalGate(docs: DataFrame, model: DataFrame,
      groupCol: String = "lang", valueCol: String = "n_chars",
      idCol: String = "doc_id"): DataFrame = {
    val m = broadcast(model.select(col("grp"),
      round(col("center") * 1000000.0).cast("long").as("_c6"),
      round(col("qhat") * 1000000.0).cast("long").as("_q6")))
    docs.select(col(idCol), col(groupCol).as("grp"),
        col(valueCol).cast("long").as("_v"))
      .join(m, Seq("grp"), "left")
      .select(col(idCol), col("grp"), col("_v").as("value"),
        (abs(col("_v") * 1000000L - col("_c6")).cast("double")
          / 1000000.0).as("score"),
        coalesce(abs(col("_v") * 1000000L - col("_c6")) <= col("_q6"),
          lit(false)).as("within"))
  }
}
