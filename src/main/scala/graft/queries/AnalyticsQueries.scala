package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Similarity
import graft.ops.{Baskets, CustomerAnalytics, Dedup, EventAnalytics,
  EventWindows, Experiments, Graphs, Integrity, Layout, Mixing, Pca,
  Profiling, Selection, Skew, Sketches, Splits, Stats, Survival,
  TextAnalysis}
import org.apache.spark.sql.functions._

/** Behavioral-analytics + embedding-statistics queries (x114+): funnels,
  * transition matrices, cohort retention, rolling actives over the events
  * table; exact covariance + power-iteration PCA over the embeddings
  * table. Oracle parity: integer epoch arithmetic (epoch_ns on the DuckDB
  * side ↔ ts_ns on the Spark side) and fixed-point quantized linear
  * algebra (see ops/Pca.scala).
  */
object AnalyticsQueries {

  /** The funnel step list shared by the query and its oracle. */
  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  /** Pinned-constant CASE text for x236/x237 — generated from the SAME
    * Scala decimals the Spark plan embeds, so the two cannot drift. */
  private def pinnedCaseSql(rankExpr: String,
      consts: Seq[BigDecimal]): String =
    consts.zipWithIndex.map { case (c, i) =>
      s"WHEN $rankExpr = ${i + 1} THEN CAST('$c' AS DECIMAL(14,12))"
    }.mkString("CASE ", " ", " END")

  /** Shared brute-force + IVF top-k CTE prefix for the retrieval
    * audits (x236/x237): mirrors x10's brute ranking and x18's IVF
    * cells/probes/scored pipeline at k = `k`, queries vec_id < 10. */
  private def retrievalCtes(k: Int): String =
    s"""WITH gt AS (SELECT query_id, neighbor_id, rk FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
       |        / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
       |             * list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])), 6)
       |      DESC, c.vec_id ASC) AS rk
       |  FROM embeddings q CROSS JOIN embeddings c
       |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id) t
       |  WHERE rk <= $k),
       |cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS ce
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       |cells AS (SELECT vec_id, cent_id AS cell FROM (
       |  SELECT e.vec_id, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      round(list_dot_product(e.embedding::DOUBLE[], c.ce)
       |        / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |             * list_dot_product(c.ce, c.ce)), 6) DESC, c.cent_id ASC) AS rn
       |  FROM embeddings e CROSS JOIN cent c) t WHERE rn = 1),
       |probes AS (SELECT query_id, cell FROM (
       |  SELECT q.vec_id AS query_id, c.cent_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(list_dot_product(q.embedding::DOUBLE[], c.ce)
       |        / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
       |             * list_dot_product(c.ce, c.ce)), 6) DESC, c.cent_id ASC) AS pr
       |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) t
       |  WHERE pr <= 2),
       |scored AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
       |      / sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
       |           * list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 6) AS sim
       |  FROM probes p
       |  JOIN cells cl ON cl.cell = p.cell
       |  JOIN embeddings e ON e.vec_id = cl.vec_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  WHERE p.query_id <> e.vec_id),
       |sys AS (SELECT query_id, neighbor_id, rk FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rk
       |  FROM scored) t WHERE rk <= $k),
       |ql AS (SELECT DISTINCT vec_id AS query_id FROM embeddings
       |  WHERE vec_id < 10)""".stripMargin

  /** Profiled orders columns and their numeric-ness — ONE list shared by
    * the Spark side and the generated oracle so the two can't drift.
    * (Declared before `defs`, which captures it at object init.) */
  private val ProfileCols: Seq[(String, Boolean)] = Seq(
    "o_orderkey" -> true, "o_custkey" -> true, "o_orderstatus" -> false,
    "o_totalprice" -> true, "o_orderdate" -> false,
    "o_orderpriority" -> false)

  /** The counts-UNION + rate epilogue shared by every funnel oracle.
    * Rates guard their divisions exactly like the Spark side's
    * funnelRates: an empty predecessor stage yields NULL, never NaN. */
  private def funnelEpilogueSql(steps: Seq[String]): String = {
    val counts = steps.zipWithIndex.map { case (st, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$st' AS event_type, COUNT(*) AS n_users FROM s${i + 1}"
    }.mkString("\nUNION ALL ")
    s"""counts AS ($counts)
       |SELECT step, event_type, n_users,
       |  CASE WHEN first_value(n_users) OVER (ORDER BY step) <> 0 THEN
       |    round(CAST(n_users AS DOUBLE)
       |      / first_value(n_users) OVER (ORDER BY step), 6) END AS rate_vs_first,
       |  CASE WHEN coalesce(lag(n_users) OVER (ORDER BY step), n_users) <> 0 THEN
       |    round(CAST(n_users AS DOUBLE)
       |      / coalesce(lag(n_users) OVER (ORDER BY step), n_users), 6) END
       |    AS rate_vs_prev
       |FROM counts ORDER BY step""".stripMargin
  }

  /** DuckDB replay of EventAnalytics.funnel(FunnelSteps): one chained
    * min-after-previous CTE per step, then the shared rate epilogue. */
  private def funnelSql(steps: Seq[String]): String = {
    val stages = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, MIN(tns) AS t FROM e
           |  WHERE event_type = '$st' GROUP BY user_id)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, MIN(e.tns) AS t FROM e
           |  JOIN s$i ON e.user_id = s$i.user_id AND e.tns > s$i.t
           |  WHERE e.event_type = '$st' GROUP BY e.user_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events),
       |$stages,
       |${funnelEpilogueSql(steps)}""".stripMargin
  }

  /** DuckDB replay of Pca.covariance: the quantized-moment CTE chain,
    * reused (via prefix-free CTE names) by the x119 power iteration. */
  private def covCtes: String =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, generate_subscripts(e, 1) - 1 AS i,
       |    CAST(floor(unnest(e) * 1000000.0) AS BIGINT) AS q FROM v),
       |mo AS (SELECT a.i AS i, b.i AS j,
       |    SUM(a.q::HUGEINT * b.q) AS sij,
       |    SUM(a.q::HUGEINT) AS mi, SUM(b.q::HUGEINT) AS mj, COUNT(*) AS n
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       |    round(CAST(n * sij - mi * mj AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 1e12), 6) + 0.0 AS cov
       |  FROM mo)""".stripMargin

  /** The shared power-iteration CTE chain: quantize the covariance,
    * unroll `iters` exact-integer mat-vec + re-quantize steps, ending in
    * `w$iters(j, w)` and `nsq` — identical op order to the Scala
    * fixed-point loop in Pca.topVector. */
  private def powerCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""y$k AS (SELECT c.i, SUM(c.c * w.w) AS y
         |  FROM cint c JOIN w${k - 1} w ON w.j = c.j GROUP BY c.i),
         |m$k AS (SELECT MAX(abs(y)) AS m FROM y$k),
         |w$k AS MATERIALIZED (SELECT i AS j, CAST(floor(CAST(y AS DOUBLE) / CAST(m AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS w FROM y$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""$covCtes,
       |cint AS MATERIALIZED (SELECT i, j, CAST(round(cov * 1000000.0) AS BIGINT) AS c FROM cov),
       |w0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS w FROM cint),
       |$steps,
       |nsq AS (SELECT SUM(w::HUGEINT * w) AS nsq FROM w$iters)""".stripMargin
  }

  /** DuckDB replay of Pca.topComponent(iters): the power chain plus the
    * Rayleigh/normalization epilogue. */
  private def pcaSql(iters: Int): String =
    s"""WITH ${powerCtes(iters)},
       |ray AS (SELECT SUM((wa.w * c.c)::HUGEINT * wb.w) AS num
       |  FROM cint c JOIN w$iters wa ON wa.j = c.i JOIN w$iters wb ON wb.j = c.j),
       |tr AS (SELECT SUM(c) AS tr FROM cint WHERE i = j)
       |SELECT w.j AS pos,
       |  round(CAST(w.w AS DOUBLE) / sqrt(CAST(nsq.nsq AS DOUBLE)), 6) + 0.0 AS loading,
       |  round(CAST(ray.num AS DOUBLE) / CAST(nsq.nsq AS DOUBLE) / 1000000.0, 6)
       |    AS eigenvalue,
       |  round(CAST(ray.num AS DOUBLE) / CAST(nsq.nsq AS DOUBLE)
       |    / CAST(tr.tr AS DOUBLE), 6) AS var_ratio
       |FROM w$iters w, nsq, ray, tr ORDER BY pos""".stripMargin

  /** DuckDB replay of EventAnalytics.funnelWithin(steps, horizonSec):
    * the funnel chain with each later stage bounded to t0 + horizon. */
  private def funnelWithinSql(steps: Seq[String], horizonSec: Long): String = {
    val hNs = horizonSec * 1000000000L
    val stages = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, MIN(tns) AS t0, MIN(tns) AS t FROM e
           |  WHERE event_type = '$st' GROUP BY user_id)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, s$i.t0, MIN(e.tns) AS t FROM e
           |  JOIN s$i ON e.user_id = s$i.user_id AND e.tns > s$i.t
           |    AND e.tns <= s$i.t0 + $hNs
           |  WHERE e.event_type = '$st' GROUP BY e.user_id, s$i.t0)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events),
       |$stages,
       |${funnelEpilogueSql(steps)}""".stripMargin
  }

  /** DuckDB replay of EventAnalytics.cohortFunnel(steps, periodSec): the
    * t0-carrying stage chain (no horizon), cohort-bucketed counts, rate
    * against the same cohort's step-1 count. */
  private def cohortFunnelSql(steps: Seq[String], periodSec: Long): String = {
    val stages = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, MIN(tns) AS t0, MIN(tns) AS t FROM e
           |  WHERE event_type = '$st' GROUP BY user_id)""".stripMargin
      else
        s"""s${i + 1} AS (SELECT e.user_id, s$i.t0, MIN(e.tns) AS t FROM e
           |  JOIN s$i ON e.user_id = s$i.user_id AND e.tns > s$i.t
           |  WHERE e.event_type = '$st' GROUP BY e.user_id, s$i.t0)""".stripMargin
    }.mkString(",\n")
    val p = periodSec
    val counts = steps.zipWithIndex.map { case (st, i) =>
      s"""SELECT sec0 - ((((sec0 % $p) + $p) % $p)) AS cohort_start,
         |    CAST(${i + 1} AS BIGINT) AS step, '$st' AS event_type,
         |    COUNT(*) AS n_users
         |  FROM (SELECT t0 // 1000000000 AS sec0 FROM s${i + 1}) x
         |  GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events),
       |$stages,
       |counts AS ($counts)
       |SELECT cohort_start, step, event_type, n_users,
       |  CASE WHEN first_value(n_users) OVER (PARTITION BY cohort_start
       |      ORDER BY step) <> 0 THEN
       |    round(CAST(n_users AS DOUBLE)
       |      / first_value(n_users) OVER (PARTITION BY cohort_start
       |        ORDER BY step), 6) END AS rate_vs_first
       |FROM counts ORDER BY cohort_start, step""".stripMargin
  }

  /** DuckDB replay of Pca.projectionByGroup(iters): the power chain, the
    * exact per-vector integer dot product, then per-label stats with a
    * single rounded division each — op order mirrors the Spark side. */
  private def projSql(iters: Int): String =
    s"""WITH ${powerCtes(iters)},
       |sc AS (SELECT q.vec_id, SUM(q.q * w.w) AS s
       |  FROM q JOIN w$iters w ON w.j = q.i GROUP BY q.vec_id),
       |g AS (SELECT l.label, sc.s FROM sc
       |  JOIN (SELECT vec_id, label FROM embeddings) l ON l.vec_id = sc.vec_id)
       |SELECT label, COUNT(*) AS n,
       |  round(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
       |    / sqrt(CAST(nsq.nsq AS DOUBLE)), 6) + 0.0 AS mean_proj,
       |  round(CAST(MIN(s) AS DOUBLE) / 1000000.0
       |    / sqrt(CAST(nsq.nsq AS DOUBLE)), 6) + 0.0 AS min_proj,
       |  round(CAST(MAX(s) AS DOUBLE) / 1000000.0
       |    / sqrt(CAST(nsq.nsq AS DOUBLE)), 6) + 0.0 AS max_proj
       |FROM g, nsq GROUP BY label, nsq.nsq ORDER BY label""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- x114: ordered conversion funnel ----------------------------------
    // First-touch funnel over strictly-increasing event times; the oracle
    // replays the chained min-after-previous joins stage by stage.
    QueryDef(
      "x114_event_funnel",
      (s, dir) =>
        EventAnalytics.funnel(Tables.events(s, dir), FunnelSteps)
          .orderBy(col("step")),
      Some(funnelSql(FunnelSteps))),

    // ---- x115: event-type transition matrix -------------------------------
    QueryDef(
      "x115_event_transitions",
      (s, dir) =>
        EventAnalytics.transitionMatrix(Tables.events(s, dir))
          .orderBy(col("from_type"), col("to_type")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns, event_id
             |  FROM events),
             |p AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY tns, event_id) AS to_type FROM e),
             |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
             |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.n,
             |  round(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
             |FROM c JOIN t USING (from_type)
             |ORDER BY from_type, to_type""".stripMargin)),

    // ---- x116: weekly cohort retention ------------------------------------
    QueryDef(
      "x116_retention_cohorts",
      (s, dir) =>
        EventAnalytics.retentionCohorts(Tables.events(s, dir))
          .orderBy(col("cohort_start"), col("offset")),
      Some("""WITH p AS (SELECT user_id,
             |    sec - (((sec % 604800) + 604800) % 604800) AS p
             |  FROM (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec
             |        FROM events) e),
             |f AS (SELECT user_id, MIN(p) AS cohort_start FROM p GROUP BY user_id),
             |cells AS (SELECT cohort_start,
             |    CAST((p.p - f.cohort_start) / 604800 AS BIGINT) AS "offset",
             |    COUNT(DISTINCT p.user_id) AS n_active
             |  FROM p JOIN f ON p.user_id = f.user_id GROUP BY 1, 2),
             |sizes AS (SELECT cohort_start, n_active AS cohort_size FROM cells
             |  WHERE "offset" = 0)
             |SELECT c.cohort_start, c."offset", c.n_active, s.cohort_size,
             |  round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
             |FROM cells c JOIN sizes s USING (cohort_start)
             |ORDER BY cohort_start, "offset"""".stripMargin)),

    // ---- x117: daily + trailing-7-day active users ------------------------
    QueryDef(
      "x117_rolling_actives",
      (s, dir) =>
        EventAnalytics.rollingActives(Tables.events(s, dir), windowDays = 7)
          .orderBy(col("day")),
      Some("""WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
             |    user_id FROM events),
             |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
             |slots AS (SELECT DISTINCT d.day + o.off AS day, d.user_id FROM du d
             |  CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o),
             |wau AS (SELECT day, COUNT(*) AS wau FROM slots GROUP BY 1)
             |SELECT dau.day, dau.dau, wau.wau FROM dau JOIN wau USING (day)
             |ORDER BY day""".stripMargin)),

    // ---- x118: exact embedding covariance matrix --------------------------
    // One map-only outer-product expansion + d²-group sum; exact integer
    // numerator, single rounded division (see ops/Pca.scala).
    QueryDef(
      "x118_embedding_covariance",
      (s, dir) =>
        Pca.covariance(Tables.embeddings(s, dir))
          .orderBy(col("i"), col("j")),
      Some(s"WITH $covCtes\nSELECT i, j, cov FROM cov ORDER BY i, j")),

    // ---- x119: top principal component (fixed-point power iteration) ------
    QueryDef(
      "x119_pca_power",
      (s, dir) =>
        Pca.topComponent(Tables.embeddings(s, dir), iters = 6)
          .orderBy(col("pos")),
      Some(pcaSql(iters = 6))),

    // ---- x121: incremental covariance via mergeable moments ---------------
    // The daily-batch path: moments of two disjoint halves, cell-wise
    // merged, covariance re-derived — pinned bitwise against the
    // MONOLITHIC oracle (x118's SQL), which is exactly the merge-
    // correctness claim.
    QueryDef(
      "x121_incremental_covariance",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val halves = Seq(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1)).map(Pca.moments(_))
        Pca.covarianceFromMoments(Pca.mergeMoments(halves))
          .orderBy(col("i"), col("j"))
      },
      Some(s"WITH $covCtes\nSELECT i, j, cov FROM cov ORDER BY i, j")),

    // ---- x123: time-bounded funnel ----------------------------------------
    // Conversion counted only within 2 days of the user's first signup —
    // the horizon form of x114 (same chain, per-row horizon filter).
    QueryDef(
      "x123_funnel_within",
      (s, dir) =>
        EventAnalytics.funnelWithin(Tables.events(s, dir), FunnelSteps,
            horizonSec = 2L * 86400)
          .orderBy(col("step")),
      Some(funnelWithinSql(FunnelSteps, 2L * 86400))),

    // ---- x124: per-type event-rate anomaly scores -------------------------
    // Tumbling counts scored against each type's trailing 8 windows:
    // exact-integer z numerator/radicand, one sqrt + one division. 10-min
    // windows at the driver corpus's event density.
    QueryDef(
      "x124_window_anomaly",
      (s, dir) =>
        EventAnalytics.anomalyScores(Tables.events(s, dir), widthSec = 600,
            trailing = 8, threshold = 3.0)
          .orderBy(col("win_start"), col("event_type")),
      Some("""WITH e AS (SELECT epoch_ns(ts) // 1000000000 AS s, event_type
             |  FROM events),
             |wn AS (SELECT s - (((s % 600) + 600) % 600) AS win_start,
             |    event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
             |t AS (SELECT win_start, event_type, n,
             |    COUNT(*) OVER fr AS k, SUM(n) OVER fr AS su,
             |    SUM(n * n) OVER fr AS sq
             |  FROM wn WINDOW fr AS (PARTITION BY event_type
             |    ORDER BY win_start ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
             |f AS (SELECT *, n * 8 - su AS num, sq * 8 - su * su AS rad
             |  FROM t WHERE k = 8)
             |SELECT win_start, event_type, n,
             |  round(CASE WHEN rad > 0
             |    THEN CAST(num AS DOUBLE) / sqrt(CAST(rad AS DOUBLE)) END, 6)
             |    + 0.0 AS z,
             |  CASE WHEN rad > 0
             |    THEN CAST(num AS DOUBLE) / sqrt(CAST(rad AS DOUBLE)) >= 3.0
             |    ELSE num <> 0 END AS is_anomaly
             |FROM f ORDER BY win_start, event_type""".stripMargin)),

    // ---- x127: cohort-segmented funnel ------------------------------------
    // The funnel chain grouped by each user's signup week; rates against
    // the same cohort's step-1 count.
    QueryDef(
      "x127_cohort_funnel",
      (s, dir) =>
        EventAnalytics.cohortFunnel(Tables.events(s, dir), FunnelSteps)
          .orderBy(col("cohort_start"), col("step")),
      Some(cohortFunnelSql(FunnelSteps, 604800L))),

    // ---- x128: last-touch attribution -------------------------------------
    // Latest strictly-earlier non-conversion touch per purchase; one
    // ignore-nulls window pass, no events self-join.
    QueryDef(
      "x128_attribution",
      (s, dir) =>
        EventAnalytics.lastTouchAttribution(Tables.events(s, dir), "purchase")
          .orderBy(col("attributed_type")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns,
             |    event_id FROM events),
             |a AS (SELECT event_type,
             |    last_value(CASE WHEN event_type <> 'purchase'
             |        THEN event_type END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY tns, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS touch
             |  FROM e),
             |c AS (SELECT coalesce(touch, 'direct') AS attributed_type,
             |    COUNT(*) AS n_conversions FROM a
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |t AS (SELECT SUM(n_conversions) AS tt FROM c)
             |SELECT attributed_type, n_conversions,
             |  round(CAST(n_conversions AS DOUBLE) / CAST(tt AS DOUBLE), 6)
             |    AS share
             |FROM c, t ORDER BY attributed_type""".stripMargin)),

    // ---- x129: touch-to-conversion interval pairs -------------------------
    // view -> purchase pairs within 1 hour; equi-join on user_id with the
    // range as a residual predicate (no nested loop).
    QueryDef(
      "x129_conversion_pairs",
      (s, dir) =>
        EventAnalytics.conversionPairs(Tables.events(s, dir), "view",
            "purchase", lagSec = 3600)
          .orderBy(col("user_id"), col("touch_id"), col("conv_id")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns,
             |    event_id FROM events)
             |SELECT t.user_id, t.event_id AS touch_id, c.event_id AS conv_id,
             |  c.tns - t.tns AS gap_ns
             |FROM e t JOIN e c ON t.user_id = c.user_id
             |  AND t.event_type = 'view' AND c.event_type = 'purchase'
             |  AND c.tns >= t.tns AND c.tns <= t.tns + 3600000000000
             |ORDER BY t.user_id, touch_id, conv_id""".stripMargin)),

    // ---- x130: hashed linear classifier scoring ---------------------------
    // fastText-shaped quality filter plumbing: md5-bucket features, mean
    // bucket weight, integer keep decision (see TextAnalysis doc).
    QueryDef(
      "x130_classifier_score",
      (s, dir) =>
        graft.ops.TextAnalysis.classifierScore(Tables.documents(s, dir),
            dims = 64)
          .orderBy(col("doc_id")),
      Some(s"""WITH toks AS (SELECT doc_id, md5(tok) AS d FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |    FROM documents) t),
              |b AS (SELECT doc_id,
              |    ((${graft.ops.TextAnalysis.hexToIntSql("d", 8)} % 64) + 64) % 64
              |      AS b FROM toks),
              |w AS (SELECT doc_id,
              |    (((b * 2654435761 % 2000001) + 2000001) % 2000001) - 1000000
              |      AS w FROM b),
              |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
              |    CAST(SUM(w) AS BIGINT) AS s FROM w GROUP BY doc_id),
              |sc AS (SELECT doc_id, n_tokens, s,
              |    (CASE WHEN s < 0 THEN -1 ELSE 1 END)
              |      * ((2 * abs(s) + n_tokens) // (2 * n_tokens)) AS scaled
              |  FROM agg)
              |SELECT doc_id, n_tokens,
              |  CAST(scaled AS DOUBLE) / 1000000.0 AS score,
              |  round(1.0 / (1.0
              |    + exp(-(CAST(scaled AS DOUBLE) / 1000000.0))), 6) AS prob,
              |  s >= 0 AS keep
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // ---- x126: one-pass funnel (single-shuffle twin of x114) --------------
    // Same oracle SQL as x114: the bitwise gate proves the per-user fold
    // equals the chained-min formulation.
    QueryDef(
      "x126_funnel_onepass",
      (s, dir) =>
        EventAnalytics.funnelOnePass(Tables.events(s, dir), FunnelSteps)
          .orderBy(col("step")),
      Some(funnelSql(FunnelSteps))),

    // ---- x125: per-source unigram entropy / cross-entropy / KL ------------
    // Mixture-design diagnostics; x103's round-12-DECIMAL-sum convention
    // makes the log-space reduction order-independent on both engines.
    QueryDef(
      "x125_source_entropy",
      (s, dir) =>
        graft.ops.TextAnalysis.sourceEntropy(Tables.documents(s, dir))
          .orderBy(col("source")),
      Some("""WITH cst AS MATERIALIZED (SELECT source AS g, tok, COUNT(*) AS c
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
             |        FROM documents) t GROUP BY 1, 2),
             |corpus AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM cst
             |  GROUP BY 1),
             |totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS t,
             |    COUNT(*) AS v FROM cst GROUP BY 1),
             |grand AS (SELECT CAST(SUM(ct) AS BIGINT) AS gt FROM corpus),
             |terms AS (SELECT cst.g, totals.t, totals.v,
             |    CAST(round(-((CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
             |      * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))), 12)
             |      AS DECIMAL(28,12)) AS h,
             |    CAST(round(-((CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
             |      * ln(CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE))), 12)
             |      AS DECIMAL(28,12)) AS ce
             |  FROM cst JOIN corpus USING (tok) JOIN totals USING (g)
             |  CROSS JOIN grand)
             |SELECT g AS source, MAX(t) AS n_tokens, MAX(v) AS vocab,
             |  round(CAST(SUM(h) AS DOUBLE), 6) AS entropy,
             |  round(CAST(SUM(ce) AS DOUBLE), 6) AS cross_entropy,
             |  round(CAST(SUM(ce) - SUM(h) AS DOUBLE), 6) AS kl
             |FROM terms GROUP BY g ORDER BY source""".stripMargin)),

    // ---- x122: per-label projection onto the top principal component ------
    // zip_with + aggregate integer dot product (codegen'd, no UDF); the
    // label-separation audit over the leading variance direction.
    QueryDef(
      "x122_pca_projection",
      (s, dir) =>
        Pca.projectionByGroup(Tables.embeddings(s, dir), iters = 6)
          .orderBy(col("label")),
      Some(projSql(iters = 6))),

    // ---- x131: A/B experiment readout with two-proportion z-test ----------
    // Deterministic md5 variant assignment, exact counting, closed-form
    // pooled z vs control — ONE user_id shuffle then variant-cardinality
    // rollups (see ops/Experiments.scala).
    QueryDef(
      "x131_ab_test",
      (s, dir) =>
        Experiments.abTest(Tables.events(s, dir), convType = "purchase",
            nVariants = 3, salt = "exp1")
          .orderBy(col("variant")),
      Some(s"""WITH pu AS (SELECT user_id,
              |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
              |      THEN 1 ELSE 0 END) AS conv,
              |    md5(concat('ab:exp1:', user_id)) AS d
              |  FROM events GROUP BY user_id),
              |pv AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 3)
              |      AS variant,
              |    COUNT(*) AS n_users, CAST(SUM(conv) AS BIGINT) AS n_conv
              |  FROM pu GROUP BY 1),
              |c AS (SELECT MAX(CASE WHEN variant = 0 THEN n_users END)
              |      AS n0,
              |    MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0
              |  FROM pv),
              |j AS (SELECT variant, n_users, n_conv,
              |    CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS pi,
              |    CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
              |    sqrt(CAST(c0 + n_conv AS DOUBLE)
              |        / CAST(n0 + n_users AS DOUBLE)
              |      * (1.0 - CAST(c0 + n_conv AS DOUBLE)
              |        / CAST(n0 + n_users AS DOUBLE))
              |      * (1.0 / CAST(n0 AS DOUBLE)
              |        + 1.0 / CAST(n_users AS DOUBLE))) AS se
              |  FROM pv CROSS JOIN c)
              |SELECT variant, n_users, n_conv, round(pi, 6) AS rate,
              |  CASE WHEN variant <> 0 THEN round(pi - p0, 6) END
              |    AS lift_vs_control,
              |  CASE WHEN variant <> 0 AND se <> 0 THEN
              |    round((pi - p0) / se, 6) END AS z_score
              |FROM j ORDER BY variant""".stripMargin)),

    // ---- x132: market-basket pair support + lift --------------------------
    // Pairs generated per basket (bounded blast radius), never by a
    // corpus self-join — see ops/Baskets.scala. The oracle replays the
    // pair space with the self-join formulation; same set, same counts.
    QueryDef(
      "x132_basket_pairs",
      (s, dir) =>
        Baskets.pairLift(Tables.lineitem(s, dir), minSupport = 2)
          .orderBy(col("part_a"), col("part_b")),
      Some("""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
             |    l_partkey AS pk FROM lineitem),
             |pairs AS (SELECT a.pk AS part_a, b.pk AS part_b,
             |    COUNT(*) AS n_pair
             |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2),
             |ic AS (SELECT pk, COUNT(*) AS n_item FROM items GROUP BY 1),
             |no AS (SELECT COUNT(*) AS n_orders FROM
             |  (SELECT DISTINCT ok FROM items) o)
             |SELECT part_a, part_b, n_pair,
             |  round(CAST(n_pair AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
             |    AS support,
             |  round(CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)
             |    / (CAST(na.n_item AS DOUBLE) * CAST(nb.n_item AS DOUBLE)), 6)
             |    AS lift
             |FROM pairs
             |JOIN ic na ON na.pk = part_a
             |JOIN ic nb ON nb.pk = part_b
             |CROSS JOIN no
             |WHERE n_pair >= 2 ORDER BY part_a, part_b""".stripMargin)),

    // ---- x133: z-order layout audit ---------------------------------------
    // Morton-curve bucketing of (l_partkey, l_suppkey): per-bucket
    // bounding boxes — the tiles a z-ordered write's file stats would
    // hold (see ops/Layout.scala for the write path).
    QueryDef(
      "x133_zorder_layout",
      (s, dir) =>
        Layout.zOrderStats(Tables.lineitem(s, dir), "l_partkey",
            "l_suppkey", bits = 10, bucketShift = 14)
          .orderBy(col("bucket")),
      Some(s"""WITH b AS (SELECT MIN(l_partkey) AS xmn, MAX(l_partkey) AS xmx,
              |    MIN(CAST(l_suppkey AS BIGINT)) AS ymn,
              |    MAX(CAST(l_suppkey AS BIGINT)) AS ymx FROM lineitem),
              |z AS (SELECT l_partkey, l_suppkey,
              |    (${Layout.zValueSql("l_partkey", "CAST(l_suppkey AS BIGINT)",
                     "xmn", "xmx", "ymn", "ymx", 10)}) >> 14 AS bucket
              |  FROM lineitem CROSS JOIN b)
              |SELECT bucket, COUNT(*) AS n,
              |  MIN(l_partkey) AS x_min, MAX(l_partkey) AS x_max,
              |  MIN(l_suppkey) AS y_min, MAX(l_suppkey) AS y_max
              |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ---- x134: EWMA daily event-count smoothing ---------------------------
    // Dyadic decay (0.5^k via integer shift + exact IEEE division) makes
    // the smoothed value bitwise identical in any summation order on any
    // engine — see EventAnalytics.ewmaDaily.
    QueryDef(
      "x134_ewma_daily",
      (s, dir) =>
        EventAnalytics.ewmaDaily(Tables.events(s, dir), windowDays = 20)
          .orderBy(col("event_type"), col("day")),
      Some("""WITH e AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day FROM events),
             |d AS MATERIALIZED (SELECT event_type, day, COUNT(*) AS cnt
             |  FROM e GROUP BY 1, 2)
             |SELECT a.event_type, a.day, a.cnt,
             |  0.5 * SUM(CAST(b.cnt AS DOUBLE)
             |    / CAST(CAST(1 AS BIGINT) << CAST(a.day - b.day AS INTEGER)
             |        AS DOUBLE)) AS ewma
             |FROM d a JOIN d b ON a.event_type = b.event_type
             |  AND b.day <= a.day AND b.day > a.day - 20
             |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)),

    // ---- x135: BM25 query-based corpus retrieval --------------------------
    // One tokenize pass; per-term round-12-DECIMAL sums (the x125 libm
    // convention); total order (score DESC, doc_id) makes the top-k cut
    // deterministic on both engines.
    QueryDef(
      "x135_bm25_topk",
      (s, dir) =>
        TextAnalysis.bm25TopK(Tables.documents(s, dir),
          Seq("join", "hash", "window", "spark"), k = 100),
      Some(s"""WITH toks AS MATERIALIZED (SELECT doc_id,
              |    unnest(string_split(text, ' ')) AS tok FROM documents),
              |dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks
              |  GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT)
              |    AS tot FROM dl),
              |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
              |  WHERE tok IN ('join', 'hash', 'window', 'spark')
              |  GROUP BY 1, 2),
              |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
              |t AS (SELECT tf.doc_id,
              |    CAST(round(ln(1.0 + (CAST(n_docs AS DOUBLE)
              |          - CAST(df AS DOUBLE) + 0.5)
              |        / (CAST(df AS DOUBLE) + 0.5))
              |      * (CAST(tf AS DOUBLE) * ${1.2 + 1.0})
              |      / (CAST(tf AS DOUBLE) + ${1.2} * (${1.0 - 0.75}
              |        + ${0.75} * (CAST(dl AS DOUBLE)
              |          / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))),
              |      12) AS DECIMAL(28,12)) AS t
              |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
              |  CROSS JOIN st)
              |SELECT doc_id, round(CAST(SUM(t) AS DOUBLE), 6) AS score,
              |  COUNT(*) AS n_terms
              |FROM t GROUP BY 1 ORDER BY score DESC, doc_id
              |LIMIT 100""".stripMargin)),

    // ---- x136: per-source winsorized length statistics --------------------
    QueryDef(
      "x136_winsorize",
      (s, dir) =>
        TextAnalysis.winsorizedStats(Tables.documents(s, dir),
            groupCol = "source", valCol = "n_chars", lo = 0.05, hi = 0.95)
          .orderBy(col("source")),
      Some("""WITH b AS (SELECT source,
             |    quantile_cont(n_chars, 0.05) AS p_lo,
             |    quantile_cont(n_chars, 0.95) AS p_hi
             |  FROM documents GROUP BY 1),
             |c AS (SELECT d.source, CAST(n_chars AS DOUBLE) AS v,
             |    p_lo, p_hi,
             |    CAST(round(LEAST(GREATEST(CAST(n_chars AS DOUBLE), p_lo),
             |      p_hi), 12) AS DECIMAL(28,12)) AS cv
             |  FROM documents d JOIN b USING (source))
             |SELECT source, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_clip_lo,
             |  CAST(SUM(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_clip_hi,
             |  round(CAST(SUM(cv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS wmean,
             |  round(MAX(p_lo), 6) AS p_lo, round(MAX(p_hi), 6) AS p_hi
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // ---- x137: classifier-probability reliability diagram -----------------
    // One map-only scoring pass (label rides via classifierScore's carry
    // hook — no doc_id self-join), one bins-cardinality rollup.
    QueryDef(
      "x137_score_calibration",
      (s, dir) =>
        TextAnalysis.scoreCalibration(Tables.documents(s, dir), dims = 64,
            bins = 10)
          .orderBy(col("bin")),
      Some(s"""WITH toks AS (SELECT doc_id, md5(tok) AS d FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |    FROM documents) t),
              |b AS (SELECT doc_id,
              |    ((${TextAnalysis.hexToIntSql("d", 8)} % 64) + 64) % 64
              |      AS b FROM toks),
              |w AS (SELECT doc_id,
              |    (((b * 2654435761 % 2000001) + 2000001) % 2000001) - 1000000
              |      AS w FROM b),
              |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
              |    CAST(SUM(w) AS BIGINT) AS s FROM w GROUP BY doc_id),
              |sc AS (SELECT doc_id,
              |    round(1.0 / (1.0 + exp(-(CAST(
              |      (CASE WHEN s < 0 THEN -1 ELSE 1 END)
              |        * ((2 * abs(s) + n_tokens) // (2 * n_tokens))
              |      AS DOUBLE) / 1000000.0))), 6) AS prob FROM agg),
              |lb AS (SELECT doc_id,
              |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM documents),
              |j AS (SELECT LEAST(CAST(floor(prob * 10) AS BIGINT),
              |      CAST(9 AS BIGINT)) AS bin,
              |    CAST(prob AS DECIMAL(18,6)) AS p, pos
              |  FROM sc JOIN lb USING (doc_id)),
              |r AS (SELECT bin, COUNT(*) AS n,
              |    round(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
              |      AS mean_prob,
              |    CAST(SUM(pos) AS BIGINT) AS n_pos,
              |    round(CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
              |      AS pos_rate
              |  FROM j GROUP BY bin)
              |SELECT bin, n, mean_prob, n_pos, pos_rate,
              |  round(pos_rate - mean_prob, 6) AS gap
              |FROM r ORDER BY bin""".stripMargin)),

    // ---- x205: isotonic (PAV) score calibration ----------------------------
    // The non-decreasing fit over x137's reliability bins; Spark runs
    // pool-adjacent-violators driver-side on the bounded bin table
    // (BigInt merge decisions), the oracle computes the equivalent
    // minimax max_{j<=i} min_{k>=i} mean(j..k) over the O(bins^3)
    // grid — the PAV minimax theorem makes them equal division-for-
    // division — see ops/TextAnalysis.isotonicCalibration.
    QueryDef(
      "x205_isotonic",
      (s, dir) =>
        TextAnalysis.isotonicCalibration(Tables.documents(s, dir),
          dims = 64, bins = 10)
          .orderBy(col("bin")),
      Some(s"""WITH toks AS (SELECT doc_id, md5(tok) AS d FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |    FROM documents) t),
              |b AS (SELECT doc_id,
              |    ((${TextAnalysis.hexToIntSql("d", 8)} % 64) + 64) % 64
              |      AS b FROM toks),
              |w AS (SELECT doc_id,
              |    (((b * 2654435761 % 2000001) + 2000001) % 2000001) - 1000000
              |      AS w FROM b),
              |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
              |    CAST(SUM(w) AS BIGINT) AS s FROM w GROUP BY doc_id),
              |sc AS (SELECT doc_id,
              |    round(1.0 / (1.0 + exp(-(CAST(
              |      (CASE WHEN s < 0 THEN -1 ELSE 1 END)
              |        * ((2 * abs(s) + n_tokens) // (2 * n_tokens))
              |      AS DOUBLE) / 1000000.0))), 6) AS prob FROM agg),
              |lb AS (SELECT doc_id,
              |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM documents),
              |j AS (SELECT LEAST(CAST(floor(prob * 10) AS BIGINT),
              |      CAST(9 AS BIGINT)) AS bin, pos
              |  FROM sc JOIN lb USING (doc_id)),
              |bn AS (SELECT bin, COUNT(*) AS n,
              |    CAST(SUM(pos) AS BIGINT) AS n_pos,
              |    ROW_NUMBER() OVER (ORDER BY bin) AS i
              |  FROM j GROUP BY bin),
              |pre AS (SELECT i, bin, n, n_pos,
              |    CAST(SUM(n) OVER (ORDER BY i) AS BIGINT) AS cn,
              |    CAST(SUM(n_pos) OVER (ORDER BY i) AS BIGINT) AS cp
              |  FROM bn),
              |seg AS (SELECT a.i AS j, b.i AS k,
              |    b.cp - a.cp + a.n_pos AS sp,
              |    b.cn - a.cn + a.n AS sc
              |  FROM pre a JOIN pre b ON a.i <= b.i),
              |inner_ AS (SELECT s.j, p.i,
              |    MIN(CAST(s.sp AS DOUBLE) / CAST(s.sc AS DOUBLE)) AS mn
              |  FROM seg s JOIN pre p ON s.j <= p.i AND p.i <= s.k
              |  GROUP BY 1, 2),
              |fit AS (SELECT i, MAX(mn) AS f FROM inner_ GROUP BY i)
              |SELECT bn.bin, bn.n, bn.n_pos,
              |  round(CAST(bn.n_pos AS DOUBLE) / CAST(bn.n AS DOUBLE), 6)
              |    AS pos_rate,
              |  round(fit.f, 6) AS fitted
              |FROM bn JOIN fit USING (i) ORDER BY bn.bin""".stripMargin)),

    // ---- x206: decision stump (weak learner) -------------------------------
    // Best single Gini split of doc length against the lang='en'
    // label — the feature-screening primitive; candidates from the
    // decomposed prefix sums, argmin via ONE min(struct) with the
    // threshold as double-tie breaker — see ops/Stats.decisionStump.
    QueryDef(
      "x206_decision_stump",
      (s, dir) =>
        Stats.decisionStump(Tables.documents(s, dir), col("n_chars"),
          col("lang") === "en"),
      Some("""WITH c AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |    COUNT(*) AS n,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS p
             |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
             |    CAST(SUM(p) AS BIGINT) AS tp FROM c),
             |cum AS (SELECT v,
             |    CAST(SUM(n) OVER (ORDER BY v) AS BIGINT) AS cl,
             |    CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS pl
             |  FROM c),
             |cand AS (SELECT v, cl, pl, tn, tp,
             |    CAST((CAST(cl AS HUGEINT) * cl - CAST(pl AS HUGEINT) * pl
             |        - CAST(cl - pl AS HUGEINT) * (cl - pl))
             |        * (tn - cl)
             |      + (CAST(tn - cl AS HUGEINT) * (tn - cl)
             |        - CAST(tp - pl AS HUGEINT) * (tp - pl)
             |        - CAST((tn - cl) - (tp - pl) AS HUGEINT)
             |          * ((tn - cl) - (tp - pl)))
             |        * cl AS DOUBLE)
             |      / CAST(CAST(cl AS HUGEINT) * (tn - cl) AS DOUBLE) AS w
             |  FROM cum CROSS JOIN t WHERE cl < tn),
             |best AS (SELECT * FROM cand ORDER BY w, v LIMIT 1)
             |SELECT t.tn AS n, t.tp AS n_pos, best.v AS threshold,
             |  round(best.w, 6) AS gini_split,
             |  round(CAST(CAST(t.tn AS HUGEINT) * t.tn
             |      - CAST(t.tp AS HUGEINT) * t.tp
             |      - CAST(t.tn - t.tp AS HUGEINT) * (t.tn - t.tp)
             |      AS DOUBLE) / CAST(t.tn AS DOUBLE) - best.w, 6) AS gain,
             |  best.cl AS left_n, best.pl AS left_pos,
             |  t.tn - best.cl AS right_n, t.tp - best.pl AS right_pos
             |FROM best CROSS JOIN t""".stripMargin)),

    // ---- x207: PPMI collocations -------------------------------------------
    // Top token co-occurrences by positive PMI inputs (window ±2,
    // unordered canonical pairs) — see ops/TextAnalysis.ppmiTopPairs.
    QueryDef(
      "x207_ppmi_pairs",
      (s, dir) =>
        TextAnalysis.ppmiTopPairs(Tables.documents(s, dir), window = 2,
          k = 30),
      Some("""WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a
             |  FROM documents),
             |p1 AS (SELECT a[i] AS x, a[i + 1] AS y FROM arr,
             |  unnest(generate_series(1, len(a) - 1)) AS t(i)),
             |p2 AS (SELECT a[i] AS x, a[i + 2] AS y FROM arr,
             |  unnest(generate_series(1, len(a) - 2)) AS t(i)),
             |pr AS (SELECT least(x, y) AS ta, greatest(x, y) AS tb
             |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
             |  WHERE x <> y),
             |pc AS (SELECT ta, tb, COUNT(*) AS n_pair FROM pr
             |  GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS p FROM pc),
             |sl AS (SELECT tok, CAST(SUM(n_pair) AS BIGINT) AS s FROM (
             |    SELECT ta AS tok, n_pair FROM pc
             |    UNION ALL SELECT tb AS tok, n_pair FROM pc)
             |  GROUP BY 1)
             |SELECT pc.ta AS tok_a, pc.tb AS tok_b, pc.n_pair,
             |  sa.s AS n_a, sb.s AS n_b,
             |  round(greatest(0.0, ln(
             |    CAST(4 * CAST(tot.p AS HUGEINT) * pc.n_pair AS DOUBLE)
             |    / CAST(CAST(sa.s AS HUGEINT) * sb.s AS DOUBLE))), 6)
             |    AS ppmi
             |FROM pc JOIN sl sa ON pc.ta = sa.tok
             |  JOIN sl sb ON pc.tb = sb.tok CROSS JOIN tot
             |ORDER BY pc.n_pair DESC, tok_a, tok_b LIMIT 30""".stripMargin)),

    // ---- x208: KMV join-cardinality estimate -------------------------------
    // Distinct-key FK match rate (orders.custkey vs customer.custkey)
    // estimated from k-min sketches + their merge, inclusion-
    // exclusion; exact sides ride along — see
    // ops/Sketches.kmvJoinEstimate.
    QueryDef(
      "x208_kmv_join_est",
      (s, dir) =>
        graft.ops.Sketches.kmvJoinEstimate(
          Tables.orders(s, dir), col("o_custkey"),
          Tables.customer(s, dir), col("c_custkey"), k = 256),
      Some(s"""WITH ak AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR)
              |    AS k FROM orders WHERE o_custkey IS NOT NULL),
              |bk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
              |  FROM customer WHERE c_custkey IS NOT NULL),
              |ah AS (SELECT DISTINCT ${TextAnalysis.hexToIntSql("d", 8)}
              |    AS hv FROM (SELECT md5('kmvj:' || k) AS d FROM ak)),
              |bh AS (SELECT DISTINCT ${TextAnalysis.hexToIntSql("d", 8)}
              |    AS hv FROM (SELECT md5('kmvj:' || k) AS d FROM bk)),
              |kam AS (SELECT hv FROM ah ORDER BY hv LIMIT 256),
              |kbm AS (SELECT hv FROM bh ORDER BY hv LIMIT 256),
              |kum AS (SELECT hv FROM (SELECT DISTINCT hv FROM (
              |    SELECT hv FROM kam UNION ALL SELECT hv FROM kbm))
              |  ORDER BY hv LIMIT 256),
              |ea AS (SELECT CASE WHEN COUNT(*) < 256
              |    THEN CAST(COUNT(*) AS DOUBLE)
              |    ELSE round(255.0 * 4294967296.0
              |      / CAST(MAX(hv) AS DOUBLE), 6) END AS est_a FROM kam),
              |eb AS (SELECT CASE WHEN COUNT(*) < 256
              |    THEN CAST(COUNT(*) AS DOUBLE)
              |    ELSE round(255.0 * 4294967296.0
              |      / CAST(MAX(hv) AS DOUBLE), 6) END AS est_b FROM kbm),
              |eu AS (SELECT CASE WHEN COUNT(*) < 256
              |    THEN CAST(COUNT(*) AS DOUBLE)
              |    ELSE round(255.0 * 4294967296.0
              |      / CAST(MAX(hv) AS DOUBLE), 6) END AS est_union
              |  FROM kum),
              |ex AS (SELECT (SELECT COUNT(*) FROM ak) AS n_a_exact,
              |    (SELECT COUNT(*) FROM bk) AS n_b_exact,
              |    (SELECT COUNT(*) FROM ak
              |      WHERE k IN (SELECT k FROM bk)) AS n_inter_exact)
              |SELECT CAST(256 AS BIGINT) AS k, ex.n_a_exact,
              |  ex.n_b_exact, ex.n_inter_exact, ea.est_a, eb.est_b,
              |  eu.est_union,
              |  round(greatest(0.0, ea.est_a + eb.est_b - eu.est_union),
              |    6) AS est_inter,
              |  CASE WHEN ex.n_inter_exact <> 0 THEN
              |    round((greatest(0.0, ea.est_a + eb.est_b - eu.est_union)
              |      - CAST(ex.n_inter_exact AS DOUBLE))
              |      / CAST(ex.n_inter_exact AS DOUBLE), 6) END AS rel_err
              |FROM ex CROSS JOIN ea CROSS JOIN eb CROSS JOIN eu"""
        .stripMargin)),

    // ---- x210: HITS hubs & authorities -------------------------------------
    // Kleinberg HITS over the part->supplier bipartite graph in exact
    // fixed-point BIGINT arithmetic (max-normalized rounds, x141's
    // convention); top-10 per role — see ops/Graphs.hits.
    QueryDef(
      "x210_hits",
      (s, dir) =>
        graft.ops.Graphs.hits(
          Tables.lineitem(s, dir)
            .select(col("l_partkey").as("src"), col("l_suppkey").as("dst")),
          iters = 3, topK = 10)
          .orderBy(col("role"), col("rk")),
      Some(s"""WITH e AS (SELECT DISTINCT l_partkey AS src,
              |    l_suppkey AS dst FROM lineitem),
              |${graft.ops.Graphs.hitsCtes(3)},
              |roles AS (SELECT 'hub' AS role, node, r FROM h3
              |  UNION ALL SELECT 'authority' AS role, node, r FROM a3),
              |rk AS (SELECT role, node, r, ROW_NUMBER() OVER (
              |    PARTITION BY role ORDER BY r DESC, node) AS rk
              |  FROM roles)
              |SELECT role, node, CAST(rk AS BIGINT) AS rk,
              |  CAST(r AS DOUBLE) / 1000000.0 AS score
              |FROM rk WHERE rk <= 10 ORDER BY role, rk""".stripMargin)),

    // ---- x211: CUPED variance-reduced readout ------------------------------
    // Pre-period revenue as the control covariate (cut = 2024-01-16
    // UTC, mid-fixture): theta = cov/var pooled, adjusted per-variant
    // means, rho^2 variance reduction — see ops/Experiments.cupedReadout.
    QueryDef(
      "x211_cuped",
      (s, dir) =>
        Experiments.cupedReadout(Tables.events(s, dir),
          cutNs = 1705363200000000000L, nVariants = 2)
          .orderBy(col("variant")),
      Some(s"""WITH pu AS (SELECT user_id,
              |    COALESCE(SUM(CASE WHEN epoch_ns(ts) < 1705363200000000000
              |      THEN CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
              |      END), 0) AS x,
              |    COALESCE(SUM(CASE WHEN epoch_ns(ts) >= 1705363200000000000
              |      THEN CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
              |      END), 0) AS y
              |  FROM events GROUP BY 1),
              |pv AS (SELECT x, y, md5(concat('ab:exp1:', user_id)) AS d
              |  FROM pu),
              |vv AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 2)
              |    AS variant, x, y FROM pv),
              |pool AS (SELECT COUNT(*) AS n,
              |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
              |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
              |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
              |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
              |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
              |  FROM vv),
              |pvar AS (SELECT variant, COUNT(*) AS n_users,
              |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS vx,
              |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS vy
              |  FROM vv GROUP BY 1)
              |SELECT v.variant, v.n_users,
              |  round(CAST(v.vy AS DOUBLE) / CAST(v.n_users AS DOUBLE), 6)
              |    AS mean_post,
              |  CASE WHEN CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) <> 0
              |    THEN round(
              |      CAST(v.vy AS DOUBLE) / CAST(v.n_users AS DOUBLE)
              |      - (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
              |          / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE))
              |        * (CAST(v.vx AS DOUBLE) / CAST(v.n_users AS DOUBLE)
              |          - CAST(p.sx AS DOUBLE) / CAST(p.n AS DOUBLE)), 6)
              |    END AS mean_adj,
              |  CASE WHEN CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) <> 0
              |    THEN round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
              |      / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE), 6)
              |    END AS theta,
              |  CASE WHEN CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) <> 0
              |      AND CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE) <> 0
              |    THEN round(
              |      CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
              |        * CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
              |      / (CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
              |        * CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE)), 6)
              |    END AS var_reduction
              |FROM pvar v CROSS JOIN pool p ORDER BY v.variant"""
        .stripMargin)),

    // ---- x212: partition-level lake upsert ---------------------------------
    // Dynamic partition overwrite restates ONLY the trailing 2 weeks
    // (even event_ids survive the restatement); untouched week
    // directories stay byte-identical (SourcesSpec) — see
    // ops/Layout.partitionedUpsert.
    QueryDef(
      "x212_partition_upsert",
      (s, dir) =>
        Layout.partitionedUpsert(Tables.events(s, dir),
          s"/tmp/graft_x212_${Integer.toHexString(dir.hashCode)}",
          restateWeeks = 2),
      Some("""WITH d AS (SELECT event_type, user_id, event_id,
             |    epoch_ns(ts) // 86400000000000 AS day FROM events),
             |w AS (SELECT event_type, user_id, event_id, day,
             |    day // 7 AS week FROM d),
             |mx AS (SELECT max(week) AS mw FROM w),
             |fin AS (SELECT w.week, w.user_id FROM w CROSS JOIN mx
             |  WHERE week <= mw - 2 OR event_id % 2 = 0)
             |SELECT week, COUNT(*) AS n_events,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- x213: Brier decomposition -----------------------------------------
    // Proper-scoring summary of the classifier's reliability table:
    // exact fixed-point Brier, Murphy reliability/resolution terms
    // round-12 decimal-summed over the bins, uncertainty, and the
    // within-bin gap — see ops/TextAnalysis.brierDecomposition.
    QueryDef(
      "x213_brier",
      (s, dir) =>
        TextAnalysis.brierDecomposition(Tables.documents(s, dir),
          dims = 64, bins = 10),
      Some(s"""WITH toks AS (SELECT doc_id, md5(tok) AS d FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |    FROM documents) t),
              |b AS (SELECT doc_id,
              |    ((${TextAnalysis.hexToIntSql("d", 8)} % 64) + 64) % 64
              |      AS b FROM toks),
              |w AS (SELECT doc_id,
              |    (((b * 2654435761 % 2000001) + 2000001) % 2000001) - 1000000
              |      AS w FROM b),
              |agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
              |    CAST(SUM(w) AS BIGINT) AS s FROM w GROUP BY doc_id),
              |sc AS (SELECT doc_id,
              |    round(1.0 / (1.0 + exp(-(CAST(
              |      (CASE WHEN s < 0 THEN -1 ELSE 1 END)
              |        * ((2 * abs(s) + n_tokens) // (2 * n_tokens))
              |      AS DOUBLE) / 1000000.0))), 6) AS prob FROM agg),
              |lb AS (SELECT doc_id,
              |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              |  FROM documents),
              |j AS (SELECT LEAST(CAST(floor(prob * 10) AS BIGINT),
              |      CAST(9 AS BIGINT)) AS bin,
              |    CAST(prob AS DECIMAL(18,6)) AS p, pos
              |  FROM sc JOIN lb USING (doc_id)),
              |bn AS (SELECT bin, COUNT(*) AS n,
              |    CAST(SUM(pos) AS BIGINT) AS pos, SUM(p) AS sp,
              |    SUM(p * p) AS sp2,
              |    SUM(CASE WHEN pos = 1 THEN p
              |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS spy
              |  FROM j GROUP BY 1),
              |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
              |    CAST(SUM(pos) AS BIGINT) AS tp,
              |    SUM(sp2) AS tsp2, SUM(spy) AS tspy FROM bn),
              |terms AS (SELECT
              |    SUM(CAST(round(CAST(bn.n AS DOUBLE)
              |      * (CAST(bn.sp AS DOUBLE) / CAST(bn.n AS DOUBLE)
              |        - CAST(bn.pos AS DOUBLE) / CAST(bn.n AS DOUBLE))
              |      * (CAST(bn.sp AS DOUBLE) / CAST(bn.n AS DOUBLE)
              |        - CAST(bn.pos AS DOUBLE) / CAST(bn.n AS DOUBLE)),
              |      12) AS DECIMAL(28,12))) AS rel,
              |    SUM(CAST(round(CAST(bn.n AS DOUBLE)
              |      * (CAST(bn.pos AS DOUBLE) / CAST(bn.n AS DOUBLE)
              |        - CAST(t.tp AS DOUBLE) / CAST(t.n AS DOUBLE))
              |      * (CAST(bn.pos AS DOUBLE) / CAST(bn.n AS DOUBLE)
              |        - CAST(t.tp AS DOUBLE) / CAST(t.n AS DOUBLE)),
              |      12) AS DECIMAL(28,12))) AS res
              |  FROM bn CROSS JOIN t)
              |SELECT t.n,
              |  round(CAST(t.tsp2 - 2 * t.tspy + t.tp AS DOUBLE)
              |    / CAST(t.n AS DOUBLE), 6) AS brier,
              |  round(CAST(terms.rel AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
              |    AS reliability,
              |  round(CAST(terms.res AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
              |    AS resolution,
              |  round((CAST(t.tp AS DOUBLE) / CAST(t.n AS DOUBLE))
              |    * (1.0 - CAST(t.tp AS DOUBLE) / CAST(t.n AS DOUBLE)), 6)
              |    AS uncertainty,
              |  round(CAST(t.tsp2 - 2 * t.tspy + t.tp AS DOUBLE)
              |      / CAST(t.n AS DOUBLE)
              |    - (CAST(terms.rel AS DOUBLE) / CAST(t.n AS DOUBLE)
              |      - CAST(terms.res AS DOUBLE) / CAST(t.n AS DOUBLE)
              |      + (CAST(t.tp AS DOUBLE) / CAST(t.n AS DOUBLE))
              |        * (1.0 - CAST(t.tp AS DOUBLE) / CAST(t.n AS DOUBLE))),
              |    6) AS gap
              |FROM t CROSS JOIN terms""".stripMargin)),

    // ---- x214: STL-lite seasonal decomposition -----------------------------
    // Centered 7-day MA trend on the dense grid, weekday seasonal
    // indices of the x7-scaled integer detrended series, Hyndman
    // seasonal strength via the anovaF fold — see
    // ops/EventAnalytics.stlDecompose.
    QueryDef(
      "x214_stl",
      (s, dir) =>
        EventAnalytics.stlDecompose(Tables.events(s, dir))
          .orderBy(col("event_type"), col("dow")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |grid AS (SELECT g.event_type, g.day, COALESCE(d.cnt, 0) AS y
             |  FROM (SELECT event_type,
             |      unnest(generate_series(d0, d1)) AS day FROM span) g
             |  LEFT JOIN daily d USING (event_type, day)),
             |tr AS (SELECT event_type, day, y,
             |    SUM(y) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
             |    COUNT(*) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
             |  FROM grid),
             |dt AS (SELECT event_type, day % 7 AS dow,
             |    CAST(7 * y - s7 AS BIGINT) AS d7
             |  FROM tr WHERE c7 = 7),
             |pd AS (SELECT event_type, dow, COUNT(*) AS n_days,
             |    CAST(SUM(CAST(d7 AS HUGEINT)) AS HUGEINT) AS sw,
             |    CAST(SUM(CAST(d7 AS HUGEINT) * d7) AS HUGEINT) AS qw
             |  FROM dt GROUP BY 1, 2),
             |pt AS (SELECT event_type, CAST(SUM(n_days) AS BIGINT) AS n,
             |    CAST(SUM(sw) AS HUGEINT) AS s,
             |    CAST(SUM(qw) AS HUGEINT) AS q,
             |    list_reduce(
             |      list(CAST(sw * sw AS DOUBLE) / CAST(n_days AS DOUBLE)
             |        ORDER BY dow), (x, y) -> x + y) AS a2
             |  FROM pd GROUP BY 1)
             |SELECT pd.event_type, pd.dow, pd.n_days,
             |  round(CAST(pd.sw AS DOUBLE)
             |    / CAST(7 * pd.n_days AS DOUBLE), 6) AS seasonal_idx,
             |  CASE WHEN CAST(pt.q AS DOUBLE)
             |      - CAST(pt.s * pt.s AS DOUBLE) / CAST(pt.n AS DOUBLE)
             |      > 0 THEN
             |    round((pt.a2 - CAST(pt.s * pt.s AS DOUBLE)
             |        / CAST(pt.n AS DOUBLE))
             |      / (CAST(pt.q AS DOUBLE)
             |        - CAST(pt.s * pt.s AS DOUBLE) / CAST(pt.n AS DOUBLE)),
             |      6) END AS seasonal_strength
             |FROM pd JOIN pt USING (event_type)
             |ORDER BY pd.event_type, pd.dow""".stripMargin)),

    // ---- x216: DP noisy group counts ---------------------------------------
    // Laplace mechanism over per-source document counts (epsilon = 1;
    // deterministic md5 uniform standing in for the secure RNG) —
    // see ops/Integrity.dpNoisyCounts.
    QueryDef(
      "x216_dp_counts",
      (s, dir) =>
        Integrity.dpNoisyCounts(Tables.documents(s, dir), "source",
          epsilon = 1.0)
          .orderBy(col("group")),
      Some(s"""WITH c AS (SELECT CAST(source AS VARCHAR) AS grp,
              |    COUNT(*) AS n_exact FROM documents GROUP BY 1),
              |h AS (SELECT grp, n_exact, md5('dp:' || grp) AS d FROM c),
              |u AS (SELECT grp, n_exact,
              |    (CAST(${TextAnalysis.hexToIntSql("d", 8)} AS DOUBLE)
              |      + 0.5) / 4294967296.0 AS u FROM h)
              |SELECT grp AS "group", n_exact,
              |  round((-1.0 / 1.0) * sign(u - 0.5)
              |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise,
              |  round(CAST(n_exact AS DOUBLE)
              |    + (-1.0 / 1.0) * sign(u - 0.5)
              |      * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n,
              |  1.0 AS epsilon
              |FROM u ORDER BY grp""".stripMargin)),

    // ---- x217: k-core peeling ----------------------------------------------
    // 4 rounds of k=4 degree peeling over the co-purchase graph
    // (x141's edge list); per-round survivor counts + convergence —
    // see ops/Graphs.kCore.
    QueryDef(
      "x217_kcore",
      (s, dir) =>
        graft.ops.Graphs.kCore(
          Baskets.coPairs(Tables.lineitem(s, dir), minSupport = 2)
            .select(col("part_a"), col("part_b")),
          k = 4, rounds = 4)
          .orderBy(col("round")),
      Some {
        val rows = (0 to 4).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS round,
             |  (SELECT COUNT(*) FROM (SELECT pa AS n FROM e$r
             |    UNION SELECT pb FROM e$r) t) AS n_nodes,
             |  (SELECT COUNT(*) FROM e$r) AS n_edges,
             |  ((SELECT COUNT(*) FROM e4) = (SELECT COUNT(*) FROM e3)
             |    AND (SELECT COUNT(*) FROM (SELECT pa AS n FROM e4
             |      UNION SELECT pb FROM e4) t2)
             |    = (SELECT COUNT(*) FROM (SELECT pa AS n FROM e3
             |      UNION SELECT pb FROM e3) t3)) AS converged"""
            .stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
           |    l_partkey AS pk FROM lineitem),
           |p2 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
           |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |${graft.ops.Graphs.kCoreCtes(4, 4)}
           |$rows
           |ORDER BY round""".stripMargin
      }),

    // ---- x138: top event paths (3-grams) ----------------------------------
    QueryDef(
      "x138_event_paths",
      (s, dir) =>
        EventAnalytics.topPaths(Tables.events(s, dir), k = 25),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns,
             |    event_id FROM events),
             |p AS (SELECT event_type AS e1,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY tns, event_id) AS e2,
             |    lead(event_type, 2) OVER (PARTITION BY user_id
             |      ORDER BY tns, event_id) AS e3
             |  FROM e)
             |SELECT e1, e2, e3, COUNT(*) AS n FROM p WHERE e3 IS NOT NULL
             |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3
             |LIMIT 25""".stripMargin)),

    // ---- x139: RFM customer segmentation ----------------------------------
    // One custkey shuffle; max-day + quintile thresholds as one-row
    // broadcasts; scoring map-only (see ops/CustomerAnalytics.scala).
    QueryDef(
      "x139_rfm",
      (s, dir) =>
        CustomerAnalytics.rfm(Tables.orders(s, dir))
          .orderBy(col("o_custkey")),
      Some {
        def qs(v: String, arr: String) = (1 to 4)
          .map(i => s"CASE WHEN $v > $arr[$i] THEN 1 ELSE 0 END")
          .mkString("CAST(1 + ", " + ", " AS BIGINT)")
        val rs = qs("CAST(recency_days AS DOUBLE)", "tr")
        val fs = qs("CAST(frequency AS DOUBLE)", "tf")
        val ms = qs("monetary", "tm")
        s"""WITH per AS (SELECT o_custkey,
           |    MAX(CAST(epoch(o_orderdate) AS BIGINT) // 86400) AS last_day,
           |    COUNT(*) AS frequency,
           |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
           |  FROM orders GROUP BY 1),
           |mx AS (SELECT MAX(last_day) AS max_day FROM per),
           |wr AS (SELECT o_custkey, max_day - last_day AS recency_days,
           |    frequency, CAST(m AS DOUBLE) AS monetary
           |  FROM per CROSS JOIN mx),
           |thr AS (SELECT
           |    quantile_cont(CAST(recency_days AS DOUBLE),
           |      [0.2, 0.4, 0.6, 0.8]) AS tr,
           |    quantile_cont(CAST(frequency AS DOUBLE),
           |      [0.2, 0.4, 0.6, 0.8]) AS tf,
           |    quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS tm
           |  FROM wr),
           |sc AS (SELECT o_custkey, recency_days, frequency, monetary,
           |    $rs AS r_score, $fs AS f_score, $ms AS m_score
           |  FROM wr CROSS JOIN thr)
           |SELECT o_custkey, recency_days, frequency, monetary,
           |  r_score, f_score, m_score,
           |  r_score * 100 + f_score * 10 + m_score AS rfm_code
           |FROM sc ORDER BY o_custkey""".stripMargin
      }),

    // ---- x140: referential-integrity audit --------------------------------
    // Each leg reduces the child to distinct fk counts before the
    // anti-join (see ops/Integrity.scala); the oracle replays with
    // NOT EXISTS row predicates — same counts.
    QueryDef(
      "x140_fk_audit",
      (s, dir) =>
        Integrity.fkAudit(Seq(
            ("lineitem.l_orderkey->orders.o_orderkey",
              Tables.lineitem(s, dir), "l_orderkey",
              Tables.orders(s, dir), "o_orderkey"),
            ("lineitem.l_partkey->part.p_partkey",
              Tables.lineitem(s, dir), "l_partkey",
              Tables.part(s, dir), "p_partkey"),
            ("lineitem.l_suppkey->supplier.s_suppkey",
              Tables.lineitem(s, dir), "l_suppkey",
              Tables.supplier(s, dir), "s_suppkey"),
            ("orders.o_custkey->customer.c_custkey",
              Tables.orders(s, dir), "o_custkey",
              Tables.customer(s, dir), "c_custkey")))
          .orderBy(col("relationship")),
      Some {
        def leg(name: String, child: String, fk: String, parent: String,
            pk: String) =
          s"""SELECT '$name' AS relationship,
             |  (SELECT COUNT(*) FROM $child) AS n_child,
             |  (SELECT COUNT(*) FROM $child WHERE $fk IS NULL) AS n_null_fk,
             |  (SELECT COUNT(*) FROM $child c WHERE c.$fk IS NOT NULL
             |    AND NOT EXISTS (SELECT 1 FROM $parent p
             |      WHERE p.$pk = c.$fk)) AS n_orphan""".stripMargin
        val legs = Seq(
          leg("lineitem.l_orderkey->orders.o_orderkey",
            "lineitem", "l_orderkey", "orders", "o_orderkey"),
          leg("lineitem.l_partkey->part.p_partkey",
            "lineitem", "l_partkey", "part", "p_partkey"),
          leg("lineitem.l_suppkey->supplier.s_suppkey",
            "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          leg("orders.o_custkey->customer.c_custkey",
            "orders", "o_custkey", "customer", "c_custkey"))
          .mkString("\nUNION ALL\n")
        s"""WITH l AS ($legs)
           |SELECT relationship, n_child, n_null_fk, n_orphan,
           |  CASE WHEN n_child <> 0 THEN
           |    round(CAST(n_orphan AS DOUBLE) / CAST(n_child AS DOUBLE), 6)
           |  END AS orphan_rate
           |FROM l ORDER BY relationship""".stripMargin
      }),

    // ---- x141: PageRank over the co-purchase graph ------------------------
    // Exact fixed-point integer iterations (the Pca convention) so the
    // 5-round chain replays bitwise in unrolled CTEs; each Spark round
    // is materialized (lineage cut), two hash shuffles per round.
    QueryDef(
      "x141_pagerank",
      (s, dir) => {
        val pairs = Baskets.coPairs(Tables.lineitem(s, dir), minSupport = 2)
          .select(col("part_a"), col("part_b"))
        val edges = pairs
          .select(col("part_a").as("src"), col("part_b").as("dst"))
          .union(pairs.select(col("part_b").as("src"), col("part_a").as("dst")))
        graft.ops.Graphs.pageRank(edges, iters = 5).orderBy(col("node"))
      },
      Some(s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
              |    l_partkey AS pk FROM lineitem),
              |p2 AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb
              |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
              |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
              |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM p2
              |  UNION ALL SELECT pb, pa FROM p2),
              |${graft.ops.Graphs.pageRankCtes(5)}
              |SELECT node, CAST(r AS DOUBLE) / 1000000.0 AS rank FROM r5
              |ORDER BY node""".stripMargin)),

    // ---- x142: count-min sketch heavy-hitter audit ------------------------
    // Mergeable bounded-memory frequency sketch: depth x width cells from
    // ONE aggregate; estimates never undercount (overestimate >= 0 is
    // asserted by the spec and visible in the result).
    QueryDef(
      "x142_cms_heavy_hitters",
      (s, dir) =>
        graft.ops.Sketches.cmsHeavyHitters(Tables.documents(s, dir),
          topK = 10, depth = 4, width = 1024),
      Some {
        val depths = 0 until 4
        def cells(src: String, extra: String) = depths.map(d =>
          s"SELECT $extra ${d} AS d, md5(concat('cms:$d:', tok)) AS dg FROM $src")
          .mkString("\nUNION ALL ")
        s"""WITH toks AS MATERIALIZED (SELECT unnest(string_split(text, ' '))
           |    AS tok FROM documents),
           |cells AS (${cells("toks", "")}),
           |sk AS MATERIALIZED (SELECT d,
           |    (${TextAnalysis.hexToIntSql("dg", 8)} % 1024) AS bucket,
           |    COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
           |ex AS (SELECT tok, COUNT(*) AS exact FROM toks GROUP BY 1
           |  ORDER BY exact DESC, tok LIMIT 10),
           |prc AS (${cells("ex", "tok, exact,")}),
           |pb AS (SELECT tok, exact, d,
           |    (${TextAnalysis.hexToIntSql("dg", 8)} % 1024) AS bucket
           |  FROM prc)
           |SELECT pb.tok AS token, pb.exact, MIN(sk.cnt) AS est,
           |  MIN(sk.cnt) - pb.exact AS overestimate
           |FROM pb JOIN sk USING (d, bucket) GROUP BY 1, 2
           |ORDER BY exact DESC, token""".stripMargin
      }),

    // ---- x143: k-anonymity audit ------------------------------------------
    QueryDef(
      "x143_k_anonymity",
      (s, dir) =>
        Integrity.kAnonymity(Tables.customer(s, dir),
          Seq("c_nationkey", "c_mktsegment"), k = 5),
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(5 AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_rows,
             |  COUNT(*) AS n_groups, CAST(MIN(n) AS BIGINT) AS min_group,
             |  CAST(COALESCE(SUM(CASE WHEN n < 5 THEN 1 END), 0) AS BIGINT)
             |    AS n_small_groups,
             |  CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
             |    AS n_rows_small,
             |  round(CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0)
             |      AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS small_rate
             |FROM g""".stripMargin)),

    // ---- x144: per-user session engagement summary ------------------------
    // SHUFFLE-FREE on top of x15's sessionizer: window, session agg and
    // user rollup share one user_id exchange.
    QueryDef(
      "x144_session_summary",
      (s, dir) =>
        graft.ops.EventWindows.sessionSummary(Tables.events(s, dir), 1800)
          .orderBy(col("user_id")),
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_ns(ts)//1000000000 AS sec, epoch_ns(ts) AS ns
             |  FROM events),
             |m AS (SELECT *, CASE
             |    WHEN sec - lag(sec) OVER (PARTITION BY user_id
             |      ORDER BY ns, event_id) > 1800 THEN 1
             |    WHEN lag(sec) OVER (PARTITION BY user_id
             |      ORDER BY ns, event_id) IS NULL THEN 1
             |    ELSE 0 END AS new_sess
             |  FROM e),
             |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY ns, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS session_id FROM m),
             |g AS (SELECT user_id, session_id, COUNT(*) AS n_events,
             |    MAX(sec) - MIN(sec) AS duration_s
             |  FROM s GROUP BY 1, 2)
             |SELECT user_id, COUNT(*) AS n_sessions,
             |  CAST(SUM(n_events) AS BIGINT) AS n_events,
             |  round(CAST(SUM(n_events) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_events,
             |  round(CAST(SUM(duration_s) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_duration_s,
             |  CAST(MAX(duration_s) AS BIGINT) AS max_duration_s
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- x218: session entry->exit flow matrix -----------------------------
    // First/last event per 30-min session (x15's sessionizer, shared
    // user exchange), bounce counts and rates per (entry, exit) pair
    // — see ops/EventWindows.sessionFlows.
    QueryDef(
      "x218_session_flows",
      (s, dir) =>
        graft.ops.EventWindows.sessionFlows(Tables.events(s, dir),
          gapSec = 1800)
          .orderBy(col("entry_type"), col("exit_type")),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |    epoch_ns(ts)//1000000000 AS sec, epoch_ns(ts) AS ns
             |  FROM events),
             |m AS (SELECT *, CASE
             |    WHEN sec - lag(sec) OVER (PARTITION BY user_id
             |      ORDER BY ns, event_id) > 1800 THEN 1
             |    WHEN lag(sec) OVER (PARTITION BY user_id
             |      ORDER BY ns, event_id) IS NULL THEN 1
             |    ELSE 0 END AS new_sess
             |  FROM e),
             |s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY ns, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS session_id FROM m),
             |fx AS (SELECT user_id, session_id, event_type,
             |    FIRST_VALUE(event_type) OVER (
             |      PARTITION BY user_id, session_id
             |      ORDER BY ns, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND UNBOUNDED FOLLOWING) AS entry_type,
             |    LAST_VALUE(event_type) OVER (
             |      PARTITION BY user_id, session_id
             |      ORDER BY ns, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND UNBOUNDED FOLLOWING) AS exit_type
             |  FROM s),
             |g AS (SELECT user_id, session_id,
             |    MAX(entry_type) AS entry_type, MAX(exit_type) AS exit_type,
             |    COUNT(*) AS n_events
             |  FROM fx GROUP BY 1, 2)
             |SELECT entry_type, exit_type, COUNT(*) AS n_sessions,
             |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_bounces,
             |  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
             |  round(CAST(SUM(n_events) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_events
             |FROM g GROUP BY 1, 2
             |ORDER BY entry_type, exit_type""".stripMargin)),

    // ---- x219: Wald SPRT sequential-test audit ------------------------------
    // Users replayed in arrival order per variant; the Bernoulli LLR is
    // an integer-weighted sum of two pinned DECIMAL(13,12) increments,
    // so crossing index and decision are discrete-exact — see
    // ops/Experiments.sprtAudit. Prefix sums are the decomposed
    // Ranking.withGroupPrefixSums, never a single-task variant window.
    QueryDef(
      "x219_sprt",
      (s, dir) =>
        Experiments.sprtAudit(Tables.events(s, dir), convType = "purchase",
            minValue = 150.0, nVariants = 3, salt = "exp1",
            p0 = 0.35, p1 = 0.45, alpha = 0.05, beta = 0.05)
          .orderBy(col("variant")),
      Some(s"""WITH pu AS (SELECT user_id, MIN(epoch_ns(ts)) AS entry,
              |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
              |      THEN 1 ELSE 0 END) AS conv,
              |    md5(concat('ab:exp1:', user_id)) AS d
              |  FROM events GROUP BY user_id),
              |pv AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 3)
              |    AS variant, user_id, entry, conv FROM pu),
              |seq AS (SELECT variant,
              |    ROW_NUMBER() OVER (PARTITION BY variant
              |      ORDER BY entry, user_id) AS k,
              |    SUM(conv) OVER (PARTITION BY variant
              |      ORDER BY entry, user_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
              |  FROM pv),
              |t AS (SELECT variant, k, c,
              |    CAST(c AS DECIMAL(12,0))
              |      * CAST(round(ln(0.45 / 0.35), 12) AS DECIMAL(13,12))
              |    + CAST(k - c AS DECIMAL(12,0))
              |      * CAST(round(ln((1.0 - 0.45) / (1.0 - 0.35)), 12)
              |        AS DECIMAL(13,12)) AS llr
              |  FROM seq),
              |f AS (SELECT variant, k, c, llr,
              |    llr >= CAST(round(ln((1.0 - 0.05) / 0.05), 12)
              |      AS DECIMAL(13,12)) AS hi,
              |    llr <= CAST(round(ln(0.05 / (1.0 - 0.05)), 12)
              |      AS DECIMAL(13,12)) AS lo
              |  FROM t)
              |SELECT variant, MAX(k) AS n_users,
              |  CAST(MAX(c) AS BIGINT) AS n_conv,
              |  round(CAST(arg_max(llr, k) AS DOUBLE), 6) AS llr_end,
              |  COALESCE(MIN(CASE WHEN hi OR lo THEN k END), -1)
              |    AS first_cross_n,
              |  CASE WHEN MIN(CASE WHEN hi OR lo THEN k END) IS NULL
              |      THEN 'continue'
              |    WHEN MIN(CASE WHEN hi THEN k END)
              |        = MIN(CASE WHEN hi OR lo THEN k END)
              |      THEN 'accept_h1'
              |    ELSE 'accept_h0' END AS decision
              |FROM f GROUP BY variant ORDER BY variant""".stripMargin)),

    // ---- x220: difference-in-differences readout ---------------------------
    // Per-user panel deltas (post - pre cents, exact BIGINT) around the
    // corpus midpoint day; DiD and SE from the two arms' exact decimal
    // moments — see ops/Experiments.diffInDiff.
    QueryDef(
      "x220_diff_in_diff",
      (s, dir) =>
        Experiments.diffInDiff(Tables.events(s, dir),
          convType = "purchase", salt = "did1"),
      Some(s"""WITH b AS (SELECT (MIN(epoch_ns(ts) // 86400000000000)
              |      + MAX(epoch_ns(ts) // 86400000000000) + 1) // 2
              |    AS split FROM events),
              |pu AS (SELECT user_id,
              |    SUM(CASE WHEN epoch_ns(ts) // 86400000000000 < b.split
              |        AND event_type = 'purchase'
              |      THEN CAST(round(value * 100) AS BIGINT)
              |      ELSE 0 END) AS pre,
              |    SUM(CASE WHEN epoch_ns(ts) // 86400000000000 >= b.split
              |        AND event_type = 'purchase'
              |      THEN CAST(round(value * 100) AS BIGINT)
              |      ELSE 0 END) AS post
              |  FROM events CROSS JOIN b GROUP BY user_id),
              |pv AS (SELECT (${TextAnalysis.hexToIntSql(
                 "md5(concat('ab:did1:', user_id))", 8)} % 2) AS variant,
              |    post - pre AS delta FROM pu),
              |arms AS (SELECT variant, COUNT(*) AS n,
              |    SUM(CAST(delta AS HUGEINT)) AS s,
              |    SUM(CAST(delta AS HUGEINT) * CAST(delta AS HUGEINT)) AS q
              |  FROM pv GROUP BY 1),
              |one AS (SELECT
              |    MAX(CASE WHEN variant = 1 THEN n END) AS n_treat,
              |    MAX(CASE WHEN variant = 0 THEN n END) AS n_ctrl,
              |    MAX(CASE WHEN variant = 1 THEN s END) AS st,
              |    MAX(CASE WHEN variant = 0 THEN s END) AS sc,
              |    MAX(CASE WHEN variant = 1 THEN q END) AS qt,
              |    MAX(CASE WHEN variant = 0 THEN q END) AS qc
              |  FROM arms),
              |m AS (SELECT n_treat, n_ctrl,
              |    CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE) / 100.0
              |      AS mt,
              |    CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) / 100.0
              |      AS mc,
              |    (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE)
              |        * CAST(st AS DOUBLE) / CAST(n_treat AS DOUBLE))
              |      / (CAST(n_treat AS DOUBLE) - 1.0) / 10000.0 AS vt,
              |    (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE)
              |        * CAST(sc AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
              |      / (CAST(n_ctrl AS DOUBLE) - 1.0) / 10000.0 AS vc
              |  FROM one)
              |SELECT n_treat, n_ctrl,
              |  round(mt, 6) AS mean_delta_treat,
              |  round(mc, 6) AS mean_delta_ctrl,
              |  round(mt - mc, 6) AS did,
              |  CASE WHEN n_treat > 1 AND n_ctrl > 1
              |      AND sqrt(vt / CAST(n_treat AS DOUBLE)
              |        + vc / CAST(n_ctrl AS DOUBLE)) <> 0.0
              |    THEN round(sqrt(vt / CAST(n_treat AS DOUBLE)
              |      + vc / CAST(n_ctrl AS DOUBLE)), 6) END AS se,
              |  CASE WHEN n_treat > 1 AND n_ctrl > 1
              |      AND sqrt(vt / CAST(n_treat AS DOUBLE)
              |        + vc / CAST(n_ctrl AS DOUBLE)) <> 0.0
              |    THEN round((mt - mc) / sqrt(vt / CAST(n_treat AS DOUBLE)
              |      + vc / CAST(n_ctrl AS DOUBLE)), 6) END AS t_stat
              |FROM m""".stripMargin)),

    // ---- x221: offline changepoint (AMOC max-CUSUM) ------------------------
    // argmax_k |n*S_k - k*S_n| over each type's daily counts — exact
    // integer statistic, earliest-k ties — see ops/Stats.changepointDaily
    // (x183's CUSUM monitors online; this is the offline level-shift
    // locator).
    QueryDef(
      "x221_changepoint",
      (s, dir) =>
        Stats.changepointDaily(Tables.events(s, dir))
          .orderBy(col("event_type")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT event_type, COUNT(*) AS n_days,
             |    SUM(CAST(cnt AS HUGEINT)) AS s FROM daily GROUP BY 1),
             |ser AS (SELECT event_type, day, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY day) AS k,
             |    SUM(CAST(cnt AS HUGEINT)) OVER (PARTITION BY event_type
             |      ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM daily),
             |g AS (SELECT s.event_type, t.n_days, s.day, s.k, s.cum, t.s,
             |    abs(CAST(t.n_days AS HUGEINT) * s.cum
             |      - CAST(s.k AS HUGEINT) * t.s) AS gg
             |  FROM ser s JOIN tot t USING (event_type)
             |  WHERE s.k < t.n_days),
             |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             |    ORDER BY gg DESC, k ASC) AS rnk FROM g)
             |SELECT event_type, n_days, day AS cp_day,
             |  CAST(gg AS BIGINT) AS g_max,
             |  round(CAST(cum AS DOUBLE) / CAST(k AS DOUBLE), 6)
             |    AS mean_before,
             |  round(CAST(s - cum AS DOUBLE)
             |    / CAST(n_days - k AS DOUBLE), 6) AS mean_after
             |FROM best WHERE rnk = 1 ORDER BY event_type""".stripMargin)),

    // ---- x222: functional-dependency audit (g3 error) ----------------------
    // Per declared det->dep pair: minimum fraction of rows to delete for
    // the FD to hold exactly (keep the modal dependent per key) — see
    // ops/Integrity.fdAudit. Pure counting; pairs scan independently.
    QueryDef(
      "x222_fd_audit",
      (s, dir) =>
        Integrity.fdAudit("customer.c_custkey->c_nationkey",
            Tables.customer(s, dir), "c_custkey", "c_nationkey")
          .unionAll(Integrity.fdAudit("lineitem.l_orderkey->l_returnflag",
            Tables.lineitem(s, dir), "l_orderkey", "l_returnflag"))
          .unionAll(Integrity.fdAudit("orders.o_custkey->o_orderpriority",
            Tables.orders(s, dir), "o_custkey", "o_orderpriority"))
          .unionAll(Integrity.fdAudit("orders.o_orderkey->o_orderstatus",
            Tables.orders(s, dir), "o_orderkey", "o_orderstatus"))
          .orderBy(col("rel")),
      Some {
        def leg(rel: String, table: String, det: String, dep: String) =
          s"""SELECT '$rel' AS rel,
             |    COALESCE(CAST(SUM(tot) AS BIGINT), 0) AS n_rows,
             |    COUNT(*) AS n_keys,
             |    COALESCE(CAST(SUM(CASE WHEN tot > keep THEN 1 ELSE 0 END)
             |      AS BIGINT), 0) AS n_violating_keys,
             |    COALESCE(CAST(SUM(tot - keep) AS BIGINT), 0)
             |      AS n_violations
             |  FROM (SELECT a, SUM(c) AS tot, MAX(c) AS keep
             |    FROM (SELECT $det AS a, $dep AS b, COUNT(*) AS c
             |      FROM $table GROUP BY 1, 2) cells GROUP BY 1) keys"""
            .stripMargin
        val legs = Seq(
          leg("customer.c_custkey->c_nationkey", "customer",
            "c_custkey", "c_nationkey"),
          leg("lineitem.l_orderkey->l_returnflag", "lineitem",
            "l_orderkey", "l_returnflag"),
          leg("orders.o_custkey->o_orderpriority", "orders",
            "o_custkey", "o_orderpriority"),
          leg("orders.o_orderkey->o_orderstatus", "orders",
            "o_orderkey", "o_orderstatus")).mkString("\nUNION ALL\n")
        s"""SELECT rel, n_rows, n_keys, n_violating_keys, n_violations,
           |  CASE WHEN n_rows > 0 THEN round(CAST(n_violations AS DOUBLE)
           |    / CAST(n_rows AS DOUBLE), 6) END AS g3_rate
           |FROM ($legs) u ORDER BY rel""".stripMargin
      }),

    // ---- x223: Flesch readability profile ----------------------------------
    // Vowel-run syllables, clamped sentence runs, per-doc score in pure
    // BIGINT micro-units (half-up integer rounding — never a rounded
    // double quotient) — see ops/TextAnalysis.readability.
    QueryDef(
      "x223_readability",
      (s, dir) =>
        TextAnalysis.readability(Tables.documents(s, dir))
          .orderBy(col("source")),
      Some("""WITH per AS (SELECT source,
             |    len(string_split(text, ' ')) AS w,
             |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
             |    len(regexp_extract_all(text, '[aeiouy]+'))
             |      + (len(string_split(text, ' '))
             |        - len(regexp_extract_all(' ' || text,
             |            ' [^ ]*[aeiouy]'))) AS y
             |  FROM documents),
             |f AS (SELECT source, w, s, y,
             |    206835*s*w - 1015*w*w - 84600*y*s AS num
             |  FROM per WHERE w > 0),
             |f6 AS (SELECT source, w, y,
             |    (CASE WHEN num < 0 THEN -1 ELSE 1 END)
             |      * ((2*abs(num)*1000 + s*w) // (2*s*w)) AS f6
             |  FROM f),
             |agg AS (SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(y) AS BIGINT) AS ty,
             |    CAST(SUM(f6) AS BIGINT) AS tf,
             |    CAST(SUM(CASE WHEN f6 < 30000000 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS hard
             |  FROM f6 GROUP BY 1)
             |SELECT source, n_docs,
             |  CAST((2*CAST(tw AS HUGEINT)*1000000 + n_docs)
             |    // (2*CAST(n_docs AS HUGEINT)) AS DOUBLE)/1000000.0
             |    AS mean_words,
             |  CAST((2*CAST(ty AS HUGEINT)*1000000 + tw)
             |    // (2*CAST(tw AS HUGEINT)) AS DOUBLE)/1000000.0
             |    AS syllables_per_word,
             |  CAST((CASE WHEN tf < 0 THEN -1 ELSE 1 END)
             |    * ((2*abs(CAST(tf AS HUGEINT)) + n_docs)
             |      // (2*CAST(n_docs AS HUGEINT))) AS DOUBLE)/1000000.0
             |    AS mean_flesch,
             |  CAST((2*CAST(hard AS HUGEINT)*1000000 + n_docs)
             |    // (2*CAST(n_docs AS HUGEINT)) AS DOUBLE)/1000000.0
             |    AS share_hard
             |FROM agg ORDER BY source""".stripMargin)),

    // ---- x224: WOE / information-value feature screen ----------------------
    // Exact rank-derived decile bins of o_totalprice vs the urgent-
    // priority label; WOE via the PPMI exact-ratio-then-ln idiom, IV
    // through a DECIMAL(18,6) cast — see ops/Profiling.woeIv.
    QueryDef(
      "x224_woe_iv",
      (s, dir) =>
        Profiling.woeIv(
          Tables.orders(s, dir).withColumn("_lab",
            col("o_orderpriority").isin("1-URGENT", "2-HIGH")
              .cast("int")),
          "o_totalprice", "_lab", bins = 10)
          .orderBy(col("bin")),
      Some("""WITH r AS (SELECT o_totalprice AS v,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS l,
             |    RANK() OVER (ORDER BY o_totalprice) AS rk,
             |    COUNT(*) OVER () AS n
             |  FROM orders),
             |b AS (SELECT ((rk - 1) * 10) // n AS bin, l FROM r),
             |cells AS (SELECT bin, COUNT(*) AS n_rows,
             |    CAST(SUM(l) AS BIGINT) AS n_good,
             |    COUNT(*) - CAST(SUM(l) AS BIGINT) AS n_bad
             |  FROM b GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_good) AS BIGINT) AS g,
             |    CAST(SUM(n_bad) AS BIGINT) AS b2 FROM cells),
             |ww AS (SELECT bin, n_rows, n_good, n_bad, g, b2,
             |    CASE WHEN n_good > 0 AND n_bad > 0 AND g > 0 AND b2 > 0
             |      THEN round(ln(CAST(CAST(n_good AS HUGEINT) * b2
             |          AS DOUBLE)
             |        / CAST(CAST(n_bad AS HUGEINT) * g AS DOUBLE)), 6)
             |      END AS woe
             |  FROM cells CROSS JOIN tot),
             |terms AS (SELECT *, CASE WHEN woe IS NOT NULL THEN
             |    CAST(round(CAST(CAST(n_good AS HUGEINT) * b2
             |        - CAST(n_bad AS HUGEINT) * g AS DOUBLE)
             |      / CAST(CAST(g AS HUGEINT) * b2 AS DOUBLE) * woe, 12)
             |      AS DECIMAL(28,12)) END AS term
             |  FROM ww),
             |iv AS (SELECT CASE WHEN COUNT(*) = COUNT(term) THEN
             |    CAST(round(SUM(term), 6) AS DOUBLE) END
             |    AS iv FROM terms)
             |SELECT bin, n_rows, n_good, n_bad,
             |  CASE WHEN g > 0 THEN
             |    CAST((2*CAST(n_good AS HUGEINT)*1000000 + g)
             |      // (2*CAST(g AS HUGEINT)) AS DOUBLE)/1000000.0 END
             |    AS share_good,
             |  CASE WHEN b2 > 0 THEN
             |    CAST((2*CAST(n_bad AS HUGEINT)*1000000 + b2)
             |      // (2*CAST(b2 AS HUGEINT)) AS DOUBLE)/1000000.0 END
             |    AS share_bad,
             |  woe, iv
             |FROM terms CROSS JOIN iv ORDER BY bin""".stripMargin)),

    // ---- x225: quantile normalization across sources -----------------------
    // Per-source value ranks map onto the pooled distribution at the
    // same quantile (value tables + decomposed prefix sums + ONE
    // bucketed range join) — see ops/Profiling.quantileNormalize.
    QueryDef(
      "x225_quantile_norm",
      (s, dir) =>
        Profiling.quantileNormalize(Tables.documents(s, dir),
            "source", "n_chars")
          .orderBy(col("source")),
      Some("""WITH sv AS (SELECT source AS s, n_chars AS v, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |sp AS (SELECT s, v, c,
             |    SUM(c) OVER (PARTITION BY s ORDER BY v) AS cs,
             |    SUM(c) OVER (PARTITION BY s) AS ns FROM sv),
             |pv AS (SELECT v, SUM(c) AS pc FROM sv GROUP BY 1),
             |pp AS (SELECT v, pc, SUM(pc) OVER (ORDER BY v) AS pcum
             |  FROM pv),
             |nn AS (SELECT SUM(c) AS n FROM sv),
             |pts AS (SELECT s, v, c,
             |    ((cs - c + 1) * nn.n + ns - 1) // ns AS ix
             |  FROM sp CROSS JOIN nn),
             |mp AS (SELECT p.s, p.v, p.c, q.v AS w FROM pts p JOIN pp q
             |  ON p.ix BETWEEN q.pcum - q.pc + 1 AND q.pcum),
             |ag AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n_docs,
             |    COUNT(*) AS n_vals,
             |    CAST(SUM(c * v) AS BIGINT) AS sr,
             |    CAST(SUM(c * w) AS BIGINT) AS sn,
             |    CAST(MAX(ABS(w - v)) AS BIGINT) AS max_abs_shift
             |  FROM mp GROUP BY 1)
             |SELECT s AS source, n_docs, n_vals,
             |  CAST((2*CAST(sr AS HUGEINT)*1000000 + n_docs)
             |    // (2*CAST(n_docs AS HUGEINT)) AS DOUBLE)/1000000.0
             |    AS mean_raw,
             |  CAST((2*CAST(sn AS HUGEINT)*1000000 + n_docs)
             |    // (2*CAST(n_docs AS HUGEINT)) AS DOUBLE)/1000000.0
             |    AS mean_norm,
             |  max_abs_shift
             |FROM ag ORDER BY source""".stripMargin)),

    // ---- x226: stratified k-fold assignment audit --------------------------
    // Salted-md5 order within stratum, round-robin dealing -> fold
    // sizes within one row per stratum, PROVEN by the spread column —
    // see ops/Splits.kFoldAudit.
    QueryDef(
      "x226_kfold",
      (s, dir) =>
        Splits.kFoldAudit(Tables.documents(s, dir), "lang", "doc_id",
            k = 5, salt = "cv")
          .orderBy(col("stratum"), col("fold")),
      Some("""WITH r AS (SELECT lang AS stratum,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY md5(concat('cv:cv:', doc_id)), doc_id) AS pos
             |  FROM documents),
             |cells AS (SELECT stratum, (pos - 1) % 5 AS fold,
             |    COUNT(*) AS n_rows FROM r GROUP BY 1, 2),
             |sp AS (SELECT stratum, MAX(n_rows) - MIN(n_rows) AS spread
             |  FROM cells GROUP BY 1)
             |SELECT stratum, fold, n_rows, spread
             |FROM cells JOIN sp USING (stratum)
             |ORDER BY stratum, fold""".stripMargin)),

    // ---- x227: cross-stratum negative sampling -----------------------------
    // Hash-bucket candidate slices, md5 pair scores, salted two-phase
    // top-k — reproducible random negatives without a corpus self-join
    // — see ops/Splits.negativePairs.
    QueryDef(
      "x227_negative_pairs",
      (s, dir) =>
        Splits.negativePairs(Tables.documents(s, dir), "lang", "doc_id",
            k = 3, buckets = 16, salt = "neg", anchorMod = 20)
          .orderBy(col("anchor_id"), col("neg_rank")),
      Some(s"""WITH c AS (SELECT doc_id AS cand_id, lang AS cand_stratum,
              |    (${TextAnalysis.hexToIntSql(
                 "md5(concat('nb:neg:', doc_id))", 8)} % 16) AS b
              |  FROM documents),
              |a AS (SELECT doc_id AS anchor_id, lang AS anchor_stratum,
              |    (${TextAnalysis.hexToIntSql(
                 "md5(concat('nb:neg:', doc_id))", 8)} % 16) AS b
              |  FROM documents WHERE doc_id % 20 = 0),
              |p AS (SELECT anchor_id, anchor_stratum, cand_id,
              |    cand_stratum,
              |    ${TextAnalysis.hexToIntSql(
                 "md5(concat('np:neg:', anchor_id, ':', cand_id))", 8)}
              |      AS score
              |  FROM a JOIN c USING (b)
              |  WHERE anchor_stratum <> cand_stratum),
              |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
              |    ORDER BY score, cand_id) AS neg_rank FROM p)
              |SELECT anchor_id, anchor_stratum, cand_id, cand_stratum,
              |  neg_rank
              |FROM rk WHERE neg_rank <= 3
              |ORDER BY anchor_id, neg_rank""".stripMargin)),

    // ---- x228: sample-ratio-mismatch check ----------------------------------
    // Chi-square GoF of arm sizes vs the uniform design; exact integer
    // numerators, round-12 decimal term sums, integer-rounded per-arm
    // deviations — see ops/Experiments.srmCheck.
    QueryDef(
      "x228_srm",
      (s, dir) =>
        Experiments.srmCheck(Tables.events(s, dir), nVariants = 3,
            salt = "exp1")
          .orderBy(col("variant")),
      Some(s"""WITH pu AS (SELECT user_id,
              |    md5(concat('ab:exp1:', user_id)) AS d
              |  FROM events GROUP BY user_id),
              |pvo AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 3)
              |    AS variant, COUNT(*) AS obs FROM pu GROUP BY 1),
              |pv AS (SELECT v.variant,
              |    CAST(COALESCE(pvo.obs, 0) AS BIGINT) AS n_users
              |  FROM (SELECT generate_series AS variant
              |        FROM generate_series(0, 2)) v
              |  LEFT JOIN pvo USING (variant)),
              |t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n FROM pv),
              |terms AS (SELECT variant, n_users, n,
              |    CAST(round(CAST(3*n_users - n AS DOUBLE)
              |      * CAST(3*n_users - n AS DOUBLE)
              |      / CAST(3*n AS DOUBLE), 12) AS DECIMAL(28,12)) AS t,
              |    (CASE WHEN 3*n_users - n < 0 THEN -1 ELSE 1 END)
              |      * ((2*abs(3*n_users - n)*1000000 + 3) // (2*3))
              |      AS dev6
              |  FROM pv CROSS JOIN t),
              |chi AS (SELECT CAST(round(SUM(t), 6) AS DOUBLE) AS chi2
              |  FROM terms)
              |SELECT variant, n_users,
              |  CAST(dev6 AS DOUBLE)/1000000.0 AS dev, chi2,
              |  chi2 > 13.816 AS srm_flag
              |FROM terms CROSS JOIN chi ORDER BY variant""".stripMargin)),

    // ---- x145: per-variant conversion funnel ------------------------------
    // The funnel chain runs ONCE; variants derive from the surviving
    // user_ids at the count epilogue (variant is a pure function of
    // user_id — no per-variant scans).
    QueryDef(
      "x145_variant_funnel",
      (s, dir) =>
        EventAnalytics.funnelByVariant(Tables.events(s, dir), FunnelSteps,
            nVariants = 3, salt = "exp1")
          .orderBy(col("variant"), col("step")),
      Some {
        val stages = FunnelSteps.zipWithIndex.map { case (st, i) =>
          if (i == 0)
            s"""s1 AS (SELECT user_id, MIN(tns) AS t FROM e
               |  WHERE event_type = '$st' GROUP BY user_id)""".stripMargin
          else
            s"""s${i + 1} AS (SELECT e.user_id, MIN(e.tns) AS t FROM e
               |  JOIN s$i ON e.user_id = s$i.user_id AND e.tns > s$i.t
               |  WHERE e.event_type = '$st' GROUP BY e.user_id)""".stripMargin
        }.mkString(",\n")
        val counts = FunnelSteps.zipWithIndex.map { case (st, i) =>
          s"""SELECT (${TextAnalysis.hexToIntSql(
               s"md5(concat('ab:exp1:', user_id))", 8)} % 3) AS variant,
             |    CAST(${i + 1} AS BIGINT) AS step, '$st' AS event_type,
             |    COUNT(*) AS n_users
             |  FROM s${i + 1} GROUP BY 1""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns
           |  FROM events),
           |$stages,
           |counts AS ($counts)
           |SELECT variant, step, event_type, n_users,
           |  CASE WHEN first_value(n_users) OVER (PARTITION BY variant
           |      ORDER BY step) <> 0 THEN
           |    round(CAST(n_users AS DOUBLE)
           |      / first_value(n_users) OVER (PARTITION BY variant
           |        ORDER BY step), 6) END AS rate_vs_first
           |FROM counts ORDER BY variant, step""".stripMargin
      }),

    // ---- x146: time-to-convert distribution -------------------------------
    // One aggregate over the funnel chain's final (already tiny) state.
    QueryDef(
      "x146_time_to_convert",
      (s, dir) =>
        EventAnalytics.timeToConvert(Tables.events(s, dir), FunnelSteps),
      Some {
        val stages = FunnelSteps.zipWithIndex.map { case (st, i) =>
          if (i == 0)
            s"""s1 AS (SELECT user_id, MIN(tns) AS t0, MIN(tns) AS t FROM e
               |  WHERE event_type = '$st' GROUP BY user_id)""".stripMargin
          else
            s"""s${i + 1} AS (SELECT e.user_id, s$i.t0, MIN(e.tns) AS t
               |  FROM e JOIN s$i ON e.user_id = s$i.user_id
               |    AND e.tns > s$i.t
               |  WHERE e.event_type = '$st'
               |  GROUP BY e.user_id, s$i.t0)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns
           |  FROM events),
           |$stages,
           |d AS (SELECT (t - t0) // 1000000000 AS secs
           |  FROM s${FunnelSteps.size})
           |SELECT COUNT(*) AS n_converted,
           |  quantile_cont(CAST(secs AS DOUBLE), 0.5) AS p50_s,
           |  quantile_cont(CAST(secs AS DOUBLE), 0.9) AS p90_s,
           |  round(CAST(SUM(secs) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           |    AS mean_s,
           |  CAST(MAX(secs) AS BIGINT) AS max_s
           |FROM d""".stripMargin
      }),

    // ---- x147: right-to-be-forgotten propagation audit --------------------
    // One scan per audited table: broadcast semi-flag + map-side counts,
    // no anti-join pass (see Integrity.forgetAudit).
    QueryDef(
      "x147_forget_audit",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val ids = ev.select(col("user_id"))
          .filter(col("user_id") % 17 === 0).distinct()
        Integrity.forgetAudit(Seq(
            ("customer", Tables.customer(s, dir), "c_custkey"),
            ("events", ev, "user_id")), ids, "user_id")
          .orderBy(col("table_name"))
      },
      Some("""WITH ids AS (SELECT DISTINCT user_id AS id FROM events
             |  WHERE user_id % 17 = 0),
             |l1 AS (SELECT 'customer' AS table_name, COUNT(*) AS n_before,
             |    CAST(COALESCE(SUM(CASE WHEN i.id IS NOT NULL THEN 1 END), 0)
             |      AS BIGINT) AS n_deleted
             |  FROM customer c LEFT JOIN ids i ON c.c_custkey = i.id),
             |l2 AS (SELECT 'events' AS table_name, COUNT(*) AS n_before,
             |    CAST(COALESCE(SUM(CASE WHEN i.id IS NOT NULL THEN 1 END), 0)
             |      AS BIGINT) AS n_deleted
             |  FROM events e LEFT JOIN ids i ON e.user_id = i.id),
             |u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
             |SELECT table_name, n_before, n_deleted,
             |  n_before - n_deleted AS n_after,
             |  CASE WHEN n_before <> 0 THEN
             |    round(CAST(n_deleted AS DOUBLE) / CAST(n_before AS DOUBLE), 6)
             |  END AS deleted_rate
             |FROM u ORDER BY table_name""".stripMargin)),

    // ---- x148: hour-of-week activity heatmap ------------------------------
    QueryDef(
      "x148_activity_heatmap",
      (s, dir) =>
        EventAnalytics.activityHeatmap(Tables.events(s, dir))
          .orderBy(col("dow"), col("hod")),
      Some("""WITH c AS (SELECT
             |    (((epoch_ns(ts) // 86400000000000 + 3) % 7) + 7) % 7 AS dow,
             |    (((epoch_ns(ts) // 3600000000000) % 24) + 24) % 24 AS hod,
             |    user_id FROM events),
             |n AS (SELECT dow, hod, COUNT(*) AS n_events FROM c
             |  GROUP BY 1, 2),
             |u AS (SELECT dow, hod, COUNT(*) AS n_users FROM
             |  (SELECT DISTINCT dow, hod, user_id FROM c) d GROUP BY 1, 2)
             |SELECT dow, hod, n_events, n_users FROM n JOIN u
             |USING (dow, hod) ORDER BY dow, hod""".stripMargin)),

    // ---- x149: DAU trend (exact OLS over integer moments) -----------------
    // One distinct-user pass -> per-day DAU -> ONE moments aggregate;
    // every moment is an exact integer sum (see ops/Stats.scala), so the
    // fit replays bitwise.
    QueryDef(
      "x149_dau_trend",
      (s, dir) => {
        val dau = Tables.events(s, dir)
          .select(EventWindows.epochDay.as("day"), col("user_id")).distinct()
          .groupBy(col("day")).agg(count(lit(1)).as("dau"))
        graft.ops.Stats.linearFit(dau, col("day"), col("dau"))
      },
      Some("""WITH du AS (SELECT DISTINCT
             |    epoch_ns(ts) // 86400000000000 AS day, user_id
             |  FROM events),
             |d AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
             |m AS (SELECT COUNT(*) AS n,
             |    SUM(CAST(day AS HUGEINT)) AS sx,
             |    SUM(CAST(dau AS HUGEINT)) AS sy,
             |    SUM(CAST(day AS HUGEINT) * day) AS sxx,
             |    SUM(CAST(dau AS HUGEINT) * dau) AS syy,
             |    SUM(CAST(day AS HUGEINT) * dau) AS sxy
             |  FROM d)
             |SELECT n,
             |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0 THEN
             |    round(CAST(n * sxy - sx * sy AS DOUBLE)
             |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
             |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0 THEN
             |    round((CAST(sy AS DOUBLE)
             |      - CAST(n * sxy - sx * sy AS DOUBLE)
             |        / CAST(n * sxx - sx * sx AS DOUBLE)
             |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END
             |    AS intercept,
             |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0
             |      AND CAST(n * syy - sy * sy AS DOUBLE) <> 0 THEN
             |    round(CAST(n * sxy - sx * sy AS DOUBLE)
             |      * CAST(n * sxy - sx * sy AS DOUBLE)
             |      / (CAST(n * sxx - sx * sx AS DOUBLE)
             |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
             |FROM m""".stripMargin)),

    // ---- x150: pairwise column correlation (cents-quantized, exact) -------
    QueryDef(
      "x150_column_corr",
      (s, dir) => {
        def cents(c: String) = expr(s"cast(round($c * 100) as bigint)")
        graft.ops.Stats.pairwiseCorr(Tables.lineitem(s, dir), Seq(
            "disc" -> cents("l_discount"), "price" -> cents("l_extendedprice"),
            "qty" -> cents("l_quantity"), "tax" -> cents("l_tax")))
          .orderBy(col("col_a"), col("col_b"))
      },
      Some {
        val names = Seq("disc", "price", "qty", "tax")
        val srcs = Map("disc" -> "l_discount", "price" -> "l_extendedprice",
          "qty" -> "l_quantity", "tax" -> "l_tax")
        val cs = names.map(n =>
          s"CAST(round(${srcs(n)} * 100) AS BIGINT) AS $n").mkString(", ")
        val sums = names.map(n => s"SUM(CAST($n AS HUGEINT)) AS s_$n") ++
          names.map(n => s"SUM(CAST($n AS HUGEINT) * $n) AS ss_$n") ++
          names.combinations(2).map { case Seq(a, b) =>
            s"SUM(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b"
          }
        val rows = names.combinations(2).map { case Seq(a, b) =>
          val num = s"CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)"
          val da = s"CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)"
          val db = s"CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)"
          s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
             |  CASE WHEN $da <> 0 AND $db <> 0 THEN
             |    round($num / sqrt($da * $db), 6) END AS corr FROM m"""
            .stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH c AS (SELECT $cs FROM lineitem),
           |m AS (SELECT COUNT(*) AS n, ${sums.mkString(",\n    ")}
           |  FROM c)
           |$rows
           |ORDER BY col_a, col_b""".stripMargin
      }),

    // ---- x151: cohort lifetime value --------------------------------------
    // The monetized retention readout: DECIMAL revenue sums + DECIMAL
    // cumulative window, bitwise on both engines.
    QueryDef(
      "x151_cohort_ltv",
      (s, dir) =>
        EventAnalytics.cohortLtv(Tables.events(s, dir))
          .orderBy(col("cohort_start"), col("offset")),
      Some("""WITH p AS (SELECT user_id,
             |    sec - (((sec % 604800) + 604800) % 604800) AS per, value
             |  FROM (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
             |        value FROM events) e),
             |f AS (SELECT user_id, MIN(per) AS cohort_start FROM p
             |  GROUP BY user_id),
             |sizes AS (SELECT cohort_start, COUNT(*) AS cohort_size FROM f
             |  GROUP BY 1),
             |g AS (SELECT f.cohort_start,
             |    (p.per - f.cohort_start) // 604800 AS "offset",
             |    SUM(CAST(value AS DECIMAL(18,2))) AS rev
             |  FROM p JOIN f USING (user_id) GROUP BY 1, 2),
             |c AS (SELECT cohort_start, "offset", rev,
             |    SUM(rev) OVER (PARTITION BY cohort_start ORDER BY "offset")
             |      AS cum FROM g)
             |SELECT c.cohort_start, c."offset",
             |  CAST(rev AS DOUBLE) AS revenue,
             |  CAST(cum AS DOUBLE) AS cum_revenue,
             |  round(CAST(cum AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)
             |    AS ltv_per_user
             |FROM c JOIN sizes USING (cohort_start)
             |ORDER BY cohort_start, "offset"""".stripMargin)),

    // ---- x152: revenue concentration (Pareto deciles) ---------------------
    QueryDef(
      "x152_revenue_pareto",
      (s, dir) =>
        CustomerAnalytics.revenueConcentration(Tables.events(s, dir))
          .orderBy(col("decile")),
      Some {
        val cuts = (1 to 9).map(_ / 10.0).mkString(", ")
        val cases = (1 to 9)
          .map(i => s"CASE WHEN rev > t[$i] THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH pu AS (SELECT user_id,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
           |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
           |t AS (SELECT quantile_cont(rev, [$cuts]) AS t FROM pu),
           |d AS (SELECT CAST(1 + ($cases) AS BIGINT) AS decile, rev
           |  FROM pu CROSS JOIN t),
           |g AS (SELECT decile, COUNT(*) AS n_users,
           |    SUM(CAST(rev AS DECIMAL(18,2))) AS drev FROM d GROUP BY 1),
           |tot AS (SELECT SUM(drev) AS tot FROM g)
           |SELECT decile, n_users, CAST(drev AS DOUBLE) AS revenue,
           |  CASE WHEN CAST(tot AS DOUBLE) <> 0 THEN
           |    round(CAST(drev AS DOUBLE) / CAST(tot AS DOUBLE), 6)
           |  END AS share,
           |  CASE WHEN CAST(tot AS DOUBLE) <> 0 THEN
           |    round(CAST(SUM(drev) OVER (ORDER BY decile) AS DOUBLE)
           |      / CAST(tot AS DOUBLE), 6)
           |  END AS cum_share
           |FROM g CROSS JOIN tot ORDER BY decile""".stripMargin
      }),

    // ---- x153: Kaplan-Meier user survival (churn curve) --------------------
    // One user shuffle to (first, last); the KM table is bounded by the
    // time span; the survival prefix-product is a pinned-order fold on
    // BOTH engines (recursive CTE, never DuckDB product()) — see
    // ops/Survival.scala.
    QueryDef(
      "x153_survival",
      (s, dir) =>
        Survival.kaplanMeier(Tables.events(s, dir), censorDays = 7)
          .orderBy(col("t_days")),
      Some("""WITH RECURSIVE per AS (SELECT user_id,
             |    min(epoch_ns(ts) // 86400000000000) AS f,
             |    max(epoch_ns(ts) // 86400000000000) AS l
             |  FROM events GROUP BY 1),
             |mx AS (SELECT max(l) AS max_day FROM per),
             |lt AS (SELECT l - f AS t, (l <= max_day - 7) AS churned
             |  FROM per CROSS JOIN mx),
             |pt AS (SELECT t,
             |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
             |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
             |  FROM lt GROUP BY 1),
             |km AS (SELECT t, d, c,
             |    CAST(SUM(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk,
             |    ROW_NUMBER() OVER (ORDER BY t) AS rn FROM pt),
             |run AS (
             |  SELECT rn, t, n_risk, d, c,
             |    CAST(1.0 AS DOUBLE) * (1 - CAST(d AS DOUBLE) / n_risk) AS surv
             |  FROM km WHERE rn = 1
             |  UNION ALL
             |  SELECT km.rn, km.t, km.n_risk, km.d, km.c,
             |    run.surv * (1 - CAST(km.d AS DOUBLE) / km.n_risk)
             |  FROM km JOIN run ON km.rn = run.rn + 1)
             |SELECT t AS t_days, n_risk, d AS n_churned, c AS n_censored,
             |  round(surv, 6) AS survival
             |FROM run ORDER BY t""".stripMargin)),

    // ---- x154: median/MAD robust outlier report ----------------------------
    // Division-free outlier predicate (|v−med|·0.6745 > thr·MAD): no
    // MAD=0 guard needed and both engines run identical IEEE multiplies.
    QueryDef(
      "x154_mad_outliers",
      (s, dir) =>
        Stats.madOutliers(Tables.events(s, dir), "event_type", "value")
          .orderBy(col("event_type")),
      Some("""WITH med AS (SELECT event_type,
             |    quantile_cont(value, 0.5) AS median FROM events GROUP BY 1),
             |dev AS (SELECT e.event_type, CAST(e.value AS DOUBLE) AS v,
             |    abs(CAST(e.value AS DOUBLE) - m.median) AS ad
             |  FROM events e JOIN med m USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
             |  FROM dev GROUP BY 1)
             |SELECT d.event_type, COUNT(*) AS n, me.median, ma.mad,
             |  CAST(SUM(CASE WHEN abs(d.v - me.median) * 0.6745 >
             |    ma.mad * 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |  round(CAST(SUM(CASE WHEN abs(d.v - me.median) * 0.6745 >
             |      ma.mad * 3.5 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS outlier_rate
             |FROM dev d JOIN med me USING (event_type)
             |  JOIN mad ma USING (event_type)
             |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin)),

    // ---- x155: l-diversity audit -------------------------------------------
    // kAnonymity's companion (ops/Integrity.scala): does every
    // (event_type, day) cell hold enough DISTINCT users to aggregate
    // safely? One (QI, sensitive) reduce, then a QI rollup.
    QueryDef(
      "x155_l_diversity",
      (s, dir) =>
        Integrity.lDiversity(
          Tables.events(s, dir).select(col("event_type"),
            EventWindows.epochDay.as("day"), col("user_id")),
          Seq("event_type", "day"), "user_id", l = 50),
      Some("""WITH pp AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, user_id,
             |    COUNT(*) AS n FROM events GROUP BY 1, 2, 3),
             |g AS (SELECT event_type, day, COUNT(*) AS div,
             |    CAST(SUM(n) AS BIGINT) AS rows_g FROM pp GROUP BY 1, 2)
             |SELECT CAST(50 AS BIGINT) AS l,
             |  CAST(SUM(rows_g) AS BIGINT) AS n_rows,
             |  COUNT(*) AS n_groups, CAST(MIN(div) AS BIGINT) AS min_diversity,
             |  CAST(COALESCE(SUM(CASE WHEN div < 50 THEN 1 END), 0) AS BIGINT)
             |    AS n_failing,
             |  CAST(COALESCE(SUM(CASE WHEN div < 50 THEN rows_g END), 0)
             |    AS BIGINT) AS n_rows_failing,
             |  round(CAST(COALESCE(SUM(CASE WHEN div < 50 THEN rows_g END), 0)
             |      AS DOUBLE) / CAST(SUM(rows_g) AS DOUBLE), 6) AS failing_rate
             |FROM g""".stripMargin)),

    // ---- x156: triangle census of the co-purchase graph --------------------
    // Degree-oriented wedge join (O(m^1.5), no hub explosion); closure
    // is a pure equi semi-join because the wedge pair is canonicalized
    // by the SAME (deg, id) order the edges are oriented by — see
    // ops/Graphs.triangleStats.
    QueryDef(
      "x156_triangles",
      (s, dir) =>
        Graphs.triangleStats(
          Baskets.coPairs(Tables.lineitem(s, dir), minSupport = 2)),
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem),
             |pr AS (SELECT a.pk AS a, b.pk AS b FROM items a
             |  JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
             |e AS MATERIALIZED (SELECT a, b FROM pr GROUP BY a, b
             |  HAVING COUNT(*) >= 2),
             |deg AS (SELECT node, COUNT(*) AS deg FROM
             |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
             |  GROUP BY 1),
             |o AS MATERIALIZED (SELECT
             |    CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END
             |      AS u,
             |    CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END
             |      AS v,
             |    CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg
             |      ELSE da.deg END AS dv
             |  FROM e JOIN deg da ON da.node = e.a
             |    JOIN deg db ON db.node = e.b),
             |w AS (SELECT w1.v AS x, w2.v AS y FROM o w1
             |  JOIN o w2 ON w1.u = w2.u
             |  WHERE (w1.dv, w1.v) < (w2.dv, w2.v)),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM w
             |  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)),
             |base AS (SELECT COUNT(*) AS n_nodes,
             |    CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
             |    CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
             |  FROM deg)
             |SELECT n_nodes, n_edges, n_wedges, n_triangles,
             |  CASE WHEN n_wedges <> 0 THEN
             |    round(CAST(n_triangles AS DOUBLE) * 3.0 / n_wedges, 6)
             |  END AS global_clustering
             |FROM base CROSS JOIN t""".stripMargin)),

    // ---- x157: join-key skew audit -----------------------------------------
    // Exact Gini over key frequencies via the DECOMPOSED global rank
    // (Ranking.withGlobalRanks) — the audit of a billion-key corpus must
    // not itself serialize on one window task. See ops/Skew.keySkewAudit.
    QueryDef(
      "x157_skew_audit",
      (s, dir) => Skew.keySkewAudit(Tables.lineitem(s, dir), "l_suppkey"),
      Some("""WITH f AS (SELECT l_suppkey AS k, COUNT(*) AS n FROM lineitem
             |  GROUP BY 1),
             |r AS (SELECT k, n, ROW_NUMBER() OVER (ORDER BY n, k) AS pos
             |  FROM f),
             |a AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             |    COUNT(*) AS n_keys, CAST(MAX(n) AS BIGINT) AS max_key_n,
             |    SUM(CAST(pos AS HUGEINT) * n) AS s FROM r),
             |hot AS (SELECT k FROM f ORDER BY n DESC, k DESC LIMIT 1)
             |SELECT 'l_suppkey' AS key_col, n_rows, n_keys, max_key_n,
             |  CAST(hot.k AS VARCHAR) AS hot_key,
             |  round(CAST(max_key_n AS DOUBLE) / n_rows, 6) AS top_share,
             |  round(CAST(2 * s - (n_keys + 1) * CAST(n_rows AS HUGEINT)
             |      AS DOUBLE) / (CAST(n_keys AS HUGEINT) * n_rows), 6)
             |    AS gini
             |FROM a CROSS JOIN hot""".stripMargin)),

    // ---- x158: Benford first-digit audit -----------------------------------
    // Digit via exact INTEGER formatting (cents string), expected shares
    // inlined as the same 6-dp literals on both sides — no query-time
    // log10, no double formatting. See ops/Profiling.benford.
    QueryDef(
      "x158_benford",
      (s, dir) =>
        Profiling.benford(Tables.orders(s, dir), "o_totalprice")
          .orderBy(col("digit")),
      Some {
        val expected = Profiling.BenfordExpected.map { case (dd, e) =>
          s"WHEN $dd THEN CAST($e AS DOUBLE)"
        }.mkString(" ")
        s"""WITH c AS (SELECT CAST(round(
           |      CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c
           |  FROM orders WHERE o_totalprice > 0),
           |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
           |      AS digit
           |  FROM c WHERE c >= 1),
           |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
           |SELECT digit, n,
           |  round(CAST(n AS DOUBLE) / tot, 6) AS share,
           |  CASE digit $expected END AS expected,
           |  round(CAST(n AS DOUBLE) / tot
           |    - CASE digit $expected END, 6) AS dev
           |FROM g CROSS JOIN tot ORDER BY digit""".stripMargin
      }),

    // ---- x159: one-pass column profile -------------------------------------
    // All null/distinct/min/max cells in ONE materialized aggregate
    // (Catalyst Expand for the multi-distinct); the per-column rows are
    // selects over that one row. See ops/Profiling.profile.
    QueryDef(
      "x159_profile",
      (s, dir) =>
        Profiling.profile(Tables.orders(s, dir), ProfileCols.map(_._1))
          .orderBy(col("col_name")),
      Some {
        val cells = ProfileCols.map { case (c, num) =>
          val mm = if (num)
            s"CAST(MIN($c) AS DOUBLE) AS mn_$c, CAST(MAX($c) AS DOUBLE) AS mx_$c, "
          else ""
          s"""CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS nu_$c, COUNT(DISTINCT $c) AS nd_$c, $mm""".stripMargin
        }.mkString
        val rows = ProfileCols.map { case (c, num) =>
          val mm = if (num) s"mn_$c, mx_$c"
          else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
          s"SELECT '$c', n, nu_$c, nd_$c, $mm FROM m"
        }.mkString("\nUNION ALL ")
        s"""WITH m AS MATERIALIZED (SELECT COUNT(*) AS n, $cells
           |  1 AS _pad FROM orders)
           |SELECT * FROM (
           |SELECT col_name, n_rows, n_nulls, n_distinct, min_num, max_num
           |FROM ($rows) t(col_name, n_rows, n_nulls, n_distinct,
           |  min_num, max_num)) ORDER BY col_name""".stripMargin
      }),

    // ---- x160: inverted index (bounded postings) ---------------------------
    // Stopword-proof: the posting cut rides Ranking.topKPerGroup's
    // salt-partitioned top-k, so no task holds a hot token's full
    // posting list. See ops/TextAnalysis.invertedIndex.
    QueryDef(
      "x160_inverted_index",
      (s, dir) =>
        TextAnalysis.invertedIndex(Tables.documents(s, dir),
          maxPostings = 16, minDf = 5)
          .orderBy(col("tok")),
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS MATERIALIZED (SELECT tok, doc_id, COUNT(*) AS tf
             |  FROM toks GROUP BY 1, 2),
             |stats AS (SELECT tok, COUNT(*) AS df,
             |    CAST(SUM(tf) AS BIGINT) AS total_tf
             |  FROM tf GROUP BY 1 HAVING COUNT(*) >= 5),
             |top AS (SELECT tok, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
             |  FROM tf),
             |p AS (SELECT tok, string_agg(CAST(doc_id AS VARCHAR), ','
             |    ORDER BY doc_id) AS postings
             |  FROM top WHERE rn <= 16 GROUP BY 1)
             |SELECT s.tok, s.df, s.total_tf, p.postings
             |FROM stats s JOIN p USING (tok) ORDER BY tok""".stripMargin)),

    // ---- x161: time-decay multi-touch attribution --------------------------
    // conversionPairs' equi-join shape; dyadic 2^-day weights as exact
    // DECIMAL(38,16) literals shared with the oracle (ewmaDaily's
    // exactness convention carried into attribution).
    QueryDef(
      "x161_timedecay_attribution",
      (s, dir) =>
        EventAnalytics.timeDecayAttribution(Tables.events(s, dir))
          .orderBy(col("channel")),
      Some {
        val cases = EventAnalytics.DecayWeights.map { case (k, lv) =>
          s"WHEN $k THEN CAST('$lv' AS DECIMAL(38,16))"
        }.mkString(" ")
        s"""WITH t AS (SELECT user_id, event_type AS channel,
           |    epoch_ns(ts) AS tns FROM events WHERE event_type <> 'purchase'),
           |c AS (SELECT user_id, epoch_ns(ts) AS cns FROM events
           |  WHERE event_type = 'purchase'),
           |p AS (SELECT channel,
           |    least((cns - tns) // 86400000000000, 16) AS k
           |  FROM t JOIN c USING (user_id)
           |  WHERE cns >= tns AND cns <= tns + ${7L * 86400 * 1000000000L}),
           |w AS (SELECT channel, COUNT(*) AS n_touches,
           |    SUM(CASE k $cases END) AS credit FROM p GROUP BY 1),
           |tot AS (SELECT SUM(credit) AS tot FROM w)
           |SELECT channel, n_touches, CAST(credit AS DOUBLE) AS credit,
           |  round(CAST(credit AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
           |FROM w CROSS JOIN tot ORDER BY channel""".stripMargin
      }),

    // ---- x162: SCD2 dimension history --------------------------------------
    // Change-compressed validity intervals per user (lag filter + lead
    // close); user_id < 50 bounds the dumped result, the x22 convention.
    QueryDef(
      "x162_scd2_history",
      (s, dir) =>
        EventAnalytics.scd2History(
          Tables.events(s, dir).filter(col("user_id") < 50),
          "user_id", "event_type", "ts_ns", "event_id")
          .orderBy(col("user_id"), col("valid_from")),
      Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts_ns,
             |    event_id FROM events WHERE user_id < 50),
             |m AS (SELECT user_id, event_type, ts_ns, event_id,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts_ns, event_id) AS prev FROM e),
             |ch AS (SELECT user_id, event_type, ts_ns, event_id FROM m
             |  WHERE prev IS NULL OR event_type <> prev)
             |SELECT user_id, event_type AS value, ts_ns AS valid_from,
             |  lead(ts_ns) OVER (PARTITION BY user_id
             |    ORDER BY ts_ns, event_id) AS valid_to,
             |  (lead(ts_ns) OVER (PARTITION BY user_id
             |    ORDER BY ts_ns, event_id) IS NULL) AS is_current
             |FROM ch ORDER BY user_id, valid_from""".stripMargin)),

    // ---- x163: HyperLogLog distinct estimate -------------------------------
    // Registers via length(bin(rest)) (no libm log2); harmonic
    // denominator as the exact BIGINT Σ 2^(E-M_j) — see
    // ops/Sketches.hllReport.
    QueryDef(
      "x163_hll_distinct",
      (s, dir) => graft.ops.Sketches.hllReport(Tables.documents(s, dir)),
      Some {
        val hexSql = TextAnalysis.hexToIntSql("_d", 8)
        val twoW = 1L << 22
        val twoE = 1L << 23
        s"""WITH toks AS (SELECT DISTINCT unnest(string_split(text, ' '))
           |    AS tok FROM documents),
           |h AS (SELECT md5(tok) AS _d FROM toks),
           |hv AS (SELECT $hexSql AS hv FROM h),
           |reg AS (SELECT hv // $twoW AS bucket, hv % $twoW AS rest FROM hv),
           |rho AS (SELECT bucket, CASE WHEN rest = 0 THEN 23
           |    ELSE 23 - length(bin(rest)) END AS rho FROM reg),
           |byb AS (SELECT bucket, MAX(rho) AS m_j FROM rho GROUP BY 1),
           |obs AS (SELECT COUNT(*) AS n_obs,
           |    CAST(SUM(CAST(1 AS BIGINT) << (23 - m_j)) AS BIGINT) AS sobs
           |  FROM byb),
           |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM toks),
           |est AS (SELECT n_obs, n_exact,
           |    CASE WHEN (1024 - n_obs) > 0 AND
           |      0.7213 / (1.0 + 1.079 / 1024.0) * 1024 * 1024 * $twoE.0
           |        / CAST(sobs + (1024 - n_obs) * $twoE AS DOUBLE)
           |        <= 2560.0
           |    THEN round(1024.0
           |      * ln(1024.0 / CAST(1024 - n_obs AS DOUBLE)), 6)
           |    ELSE round(0.7213 / (1.0 + 1.079 / 1024.0) * 1024 * 1024
           |      * $twoE.0
           |      / CAST(sobs + (1024 - n_obs) * $twoE AS DOUBLE), 6)
           |    END AS estimate
           |  FROM obs CROSS JOIN ex)
           |SELECT CAST(10 AS INTEGER) AS p, CAST(1024 AS BIGINT) AS m,
           |  n_obs, n_exact, estimate,
           |  CASE WHEN n_exact <> 0 THEN
           |    round((estimate - CAST(n_exact AS DOUBLE))
           |      / CAST(n_exact AS DOUBLE), 6)
           |  END AS rel_err
           |FROM est""".stripMargin
      }),

    // ---- x164: two-sample Kolmogorov-Smirnov drift test ---------------------
    // Integer cross-multiplied sup distance over DECOMPOSED prefix sums
    // (no single-task window over the distinct-value table) — see
    // ops/Stats.ksTest.
    QueryDef(
      "x164_ks_test",
      (s, dir) =>
        Stats.ksTest(Tables.events(s, dir), "event_type", "value",
          "view", "click"),
      Some("""WITH c AS (SELECT CAST(value AS DOUBLE) AS v,
             |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS b
             |  FROM events WHERE event_type IN ('view', 'click')
             |    AND value IS NOT NULL GROUP BY 1),
             |cum AS (SELECT SUM(a) OVER (ORDER BY v) AS ca,
             |    SUM(b) OVER (ORDER BY v) AS cb FROM c),
             |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
             |    CAST(SUM(b) AS BIGINT) AS nb FROM c),
             |sup AS (SELECT MAX(abs(CAST(ca AS HUGEINT) * nb
             |    - CAST(cb AS HUGEINT) * na)) AS s FROM cum CROSS JOIN tot)
             |SELECT 'view' AS group_a, 'click' AS group_b,
             |  na AS n_a, nb AS n_b,
             |  CASE WHEN na <> 0 AND nb <> 0 THEN
             |    round(CAST(s AS DOUBLE)
             |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) END AS d,
             |  CASE WHEN na <> 0 AND nb <> 0 THEN
             |    round(1.358 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
             |      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
             |  END AS d_crit_95
             |FROM tot CROSS JOIN sup""".stripMargin)),

    // ---- x165: chi-square independence test --------------------------------
    // Full contingency grid (absent cells contribute expected mass);
    // exact integer numerators, round-6 decimal-summed contributions —
    // see ops/Stats.chiSquare.
    QueryDef(
      "x165_chi2_independence",
      (s, dir) =>
        Stats.chiSquare(Tables.orders(s, dir),
          "o_orderstatus", "o_orderpriority"),
      Some("""WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
             |    COUNT(*) AS o FROM orders GROUP BY 1, 2),
             |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells
             |  GROUP BY 1),
             |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells
             |  GROUP BY 1),
             |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
             |grid AS (SELECT rt.a, ct.b, rt.rt, ct.ct,
             |    CAST(COALESCE(cells.o, 0) AS BIGINT) AS o
             |  FROM rt CROSS JOIN ct
             |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
             |contrib AS (SELECT a, b,
             |    CAST(round(
             |      CAST(CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct
             |        AS DOUBLE)
             |      * CAST(CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct
             |        AS DOUBLE)
             |      / CAST(CAST(n AS HUGEINT) * rt * ct AS DOUBLE), 6)
             |      AS DECIMAL(28,6)) AS contrib
             |  FROM grid CROSS JOIN n)
             |SELECT (SELECT n FROM n) AS n,
             |  COUNT(DISTINCT a) AS n_rows_cat, COUNT(DISTINCT b) AS n_cols_cat,
             |  (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
             |  round(CAST(SUM(contrib) AS DOUBLE), 6) AS chi2
             |FROM contrib""".stripMargin)),

    // ---- x166: item-item cosine similarity ---------------------------------
    // x132's per-basket pair generation with the collaborative-filtering
    // cosine score — see ops/Baskets.itemCosine.
    QueryDef(
      "x166_item_cosine",
      (s, dir) =>
        Baskets.itemCosine(Tables.lineitem(s, dir), minSupport = 2)
          .orderBy(col("part_a"), col("part_b")),
      Some("""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
             |    l_partkey AS pk FROM lineitem),
             |pairs AS (SELECT a.pk AS part_a, b.pk AS part_b,
             |    COUNT(*) AS n_pair
             |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2),
             |ic AS (SELECT pk, COUNT(*) AS n_item FROM items GROUP BY 1)
             |SELECT part_a, part_b, n_pair,
             |  round(CAST(n_pair AS DOUBLE)
             |    / sqrt(CAST(na.n_item AS DOUBLE) * CAST(nb.n_item AS DOUBLE)),
             |    6) AS cosine
             |FROM pairs
             |JOIN ic na ON na.pk = part_a
             |JOIN ic nb ON nb.pk = part_b
             |WHERE n_pair >= 2 ORDER BY part_a, part_b""".stripMargin)),

    // ---- x167: EWMA one-day-ahead forecast backtest ------------------------
    // Rides x134's dyadic-exact smoother; round-6 decimal-summed errors
    // (the x103 convention) — see ops/EventAnalytics.ewmaBacktest.
    QueryDef(
      "x167_ewma_backtest",
      (s, dir) =>
        EventAnalytics.ewmaBacktest(Tables.events(s, dir), windowDays = 20)
          .orderBy(col("event_type")),
      Some("""WITH e AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day FROM events),
             |d AS MATERIALIZED (SELECT event_type, day, COUNT(*) AS cnt
             |  FROM e GROUP BY 1, 2),
             |ew AS (SELECT a.event_type, a.day, a.cnt,
             |    0.5 * SUM(CAST(b.cnt AS DOUBLE)
             |      / CAST(CAST(1 AS BIGINT) << CAST(a.day - b.day AS INTEGER)
             |          AS DOUBLE)) AS ewma
             |  FROM d a JOIN d b ON a.event_type = b.event_type
             |    AND b.day <= a.day AND b.day > a.day - 20
             |  GROUP BY 1, 2, 3),
             |bt AS (SELECT act.event_type,
             |    CAST(round(abs(CAST(act.cnt AS DOUBLE) - f.ewma), 6)
             |      AS DECIMAL(28,6)) AS err,
             |    CAST(round(abs(CAST(act.cnt AS DOUBLE) - f.ewma)
             |      / CAST(act.cnt AS DOUBLE), 6) AS DECIMAL(28,6)) AS ape
             |  FROM ew act JOIN ew f ON f.event_type = act.event_type
             |    AND f.day + 1 = act.day)
             |SELECT event_type, COUNT(*) AS n_days,
             |  round(CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS mae,
             |  round(CAST(SUM(ape) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS mape
             |FROM bt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- x168: per-variant Wilson confidence intervals ---------------------
    // abTest's interval companion; every arithmetic step mirrored in the
    // oracle — see ops/Experiments.variantCi.
    QueryDef(
      "x168_variant_ci",
      (s, dir) =>
        Experiments.variantCi(Tables.events(s, dir), nVariants = 3,
          salt = "exp1")
          .orderBy(col("variant")),
      Some(s"""WITH pu AS (SELECT user_id,
              |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
              |      THEN 1 ELSE 0 END) AS conv,
              |    md5(concat('ab:exp1:', user_id)) AS d
              |  FROM events GROUP BY user_id),
              |pv AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 3)
              |      AS variant,
              |    COUNT(*) AS n_users, CAST(SUM(conv) AS BIGINT) AS n_conv
              |  FROM pu GROUP BY 1),
              |w AS (SELECT variant, n_users, n_conv,
              |    CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
              |    1.96 * 1.96 AS z2, CAST(n_users AS DOUBLE) AS n
              |  FROM pv),
              |ci AS (SELECT variant, n_users, n_conv, p,
              |    (p + z2 / (2.0 * n)) / (1.0 + z2 / n) AS center,
              |    1.96 * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
              |      / (1.0 + z2 / n) AS half
              |  FROM w)
              |SELECT variant, n_users, n_conv, round(p, 6) AS rate,
              |  round(center - half, 6) AS ci_low,
              |  round(center + half, 6) AS ci_high
              |FROM ci ORDER BY variant""".stripMargin)),

    // ---- x169: per-language charset profile --------------------------------
    // Map-only regexp_replace-length counting, one group rollup — see
    // ops/TextAnalysis.charsetProfile.
    QueryDef(
      "x169_charset_profile",
      (s, dir) =>
        TextAnalysis.charsetProfile(Tables.documents(s, dir))
          .orderBy(col("lang")),
      Some("""WITH per AS (SELECT lang, CAST(length(text) AS BIGINT) AS c,
             |    CAST(length(text)
             |      - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
             |      AS BIGINT) AS l,
             |    CAST(length(text)
             |      - length(regexp_replace(text, '[0-9]', '', 'g'))
             |      AS BIGINT) AS dg,
             |    CAST(length(text)
             |      - length(regexp_replace(text, ' ', '', 'g'))
             |      AS BIGINT) AS sp
             |  FROM documents),
             |g AS (SELECT lang, COUNT(*) AS n_docs,
             |    CAST(SUM(c) AS BIGINT) AS n_chars,
             |    CAST(SUM(l) AS BIGINT) AS tl, CAST(SUM(dg) AS BIGINT) AS td,
             |    CAST(SUM(sp) AS BIGINT) AS ts FROM per GROUP BY 1)
             |SELECT lang, n_docs, n_chars,
             |  CASE WHEN n_chars <> 0 THEN round(CAST(tl AS DOUBLE)
             |    / CAST(n_chars AS DOUBLE), 6) END AS letter_share,
             |  CASE WHEN n_chars <> 0 THEN round(CAST(td AS DOUBLE)
             |    / CAST(n_chars AS DOUBLE), 6) END AS digit_share,
             |  CASE WHEN n_chars <> 0 THEN round(CAST(ts AS DOUBLE)
             |    / CAST(n_chars AS DOUBLE), 6) END AS space_share,
             |  CASE WHEN n_chars <> 0 THEN round(
             |    CAST(n_chars - tl - td - ts AS DOUBLE)
             |    / CAST(n_chars AS DOUBLE), 6) END AS other_share
             |FROM g ORDER BY lang""".stripMargin)),

    // ---- x170: Markov removal-effect attribution ---------------------------
    // Data-driven multi-touch model: absorbing-chain value iteration in
    // exact fixed-point integers (the pageRank convention), driver math
    // only on the collected O(states²) transition matrix — see
    // ops/EventAnalytics.removalEffectAttribution. The oracle unrolls
    // every scenario's iteration as CTEs (removalEffectCtes).
    QueryDef(
      "x170_removal_effect",
      (s, dir) =>
        EventAnalytics.removalEffectAttribution(Tables.events(s, dir)),
      Some {
        // The fixture's channel vocabulary: DISTINCT event_type minus the
        // conversion event 'purchase' (TESTDATA.md events table, seed=42).
        // The Spark side derives channels FROM THE DATA, so if the fixture
        // vocabulary ever drifts this static list goes stale — but not
        // silently: channels are output ROWS, so the correctness harness
        // fails x170 on a row-set mismatch. Keep in sync with FunnelSteps
        // (same vocabulary, conversion included there).
        val channels = Seq("click", "error", "signup", "view")
        s"""WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tns,
           |    event_id FROM events),
           |conv1 AS (SELECT user_id, tns, event_id FROM (
           |    SELECT user_id, tns, event_id, ROW_NUMBER() OVER (
           |      PARTITION BY user_id ORDER BY tns, event_id) AS rn
           |    FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
           |touches AS MATERIALIZED (SELECT e.user_id, e.event_type, e.tns,
           |    e.event_id, (c.user_id IS NOT NULL) AS conv
           |  FROM ev e LEFT JOIN conv1 c USING (user_id)
           |  WHERE e.event_type <> 'purchase'
           |    AND (c.user_id IS NULL
           |      OR (e.tns, e.event_id) < (c.tns, c.event_id))),
           |seq AS (SELECT user_id, event_type, conv,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY tns, event_id) AS nxt,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |      ORDER BY tns, event_id) AS rn
           |  FROM touches),
           |edges AS (
           |  SELECT event_type AS f, nxt AS t FROM seq WHERE nxt IS NOT NULL
           |  UNION ALL SELECT '__start__', event_type FROM seq WHERE rn = 1
           |  UNION ALL SELECT event_type,
           |    CASE WHEN conv THEN '__conv__' ELSE '__null__' END
           |    FROM seq WHERE nxt IS NULL
           |  UNION ALL SELECT '__start__', '__conv__' FROM conv1 c
           |    WHERE NOT EXISTS (SELECT 1 FROM touches t
           |      WHERE t.user_id = c.user_id)),
           |trans AS MATERIALIZED (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
           |  FROM edges GROUP BY 1, 2),
           |${EventAnalytics.removalEffectCtes(channels, iters = 16)}"""
          .stripMargin
      }),

    // ---- x171: asymmetric containment for candidate pairs ------------------
    // The quote/subset near-dup signal Jaccard dilutes — see
    // ops/Dedup.containment; x04's consecutive-id pair fixture.
    QueryDef(
      "x171_containment",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = docs.filter(col("doc_id") < 100)
          .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
          .join(docs.select(col("doc_id").as("id_b")), "id_b")
          .select(col("id_a"), col("id_b"))
        graft.ops.Dedup.containment(docs, pairs)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |  WHERE a.doc_id < 100),
             |sets AS (SELECT DISTINCT doc_id,
             |    unnest(string_split(text, ' ')) AS tok FROM documents),
             |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY 1),
             |inter AS (
             |  SELECT p.id_a, p.id_b, COUNT(*) AS inter FROM pairs p
             |  JOIN sets sa ON sa.doc_id = p.id_a
             |  JOIN sets sb ON sb.doc_id = p.id_b AND sb.tok = sa.tok
             |  GROUP BY p.id_a, p.id_b)
             |SELECT p.id_a, p.id_b,
             |  CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
             |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
             |    / CAST(za.sz AS DOUBLE), 6) AS containment_a,
             |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
             |    / CAST(zb.sz AS DOUBLE), 6) AS containment_b,
             |  greatest(
             |    round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
             |      / CAST(za.sz AS DOUBLE), 6),
             |    round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
             |      / CAST(zb.sz AS DOUBLE), 6)) AS containment
             |FROM pairs p
             |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
             |JOIN sizes za ON za.doc_id = p.id_a
             |JOIN sizes zb ON zb.doc_id = p.id_b
             |ORDER BY p.id_a, p.id_b""".stripMargin)),

    // ---- x175: Mann-Whitney U rank-sum test --------------------------------
    // Distribution-free cohort-shift test, x164's sibling: exact integer
    // doubled midranks over the decomposed prefix sums, one float
    // division + sqrt at the end — see ops/Stats.mannWhitney.
    QueryDef(
      "x175_mannwhitney_u",
      (s, dir) =>
        Stats.mannWhitney(Tables.events(s, dir), "event_type", "value",
          "view", "click"),
      Some("""WITH c AS (SELECT CAST(value AS DOUBLE) AS v,
             |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS b
             |  FROM events WHERE event_type IN ('view', 'click')
             |    AND value IS NOT NULL GROUP BY 1),
             |cum AS (SELECT a, b,
             |    SUM(a + b) OVER (ORDER BY v) - (a + b) AS bc FROM c),
             |agg AS (SELECT
             |    CAST(SUM(CAST(a AS HUGEINT)
             |      * (2 * bc + a + b + 1)) AS HUGEINT) AS r2a,
             |    CAST(SUM(CAST(a + b AS HUGEINT) * (a + b) * (a + b)
             |      - (a + b)) AS HUGEINT) AS t,
             |    CAST(SUM(a) AS BIGINT) AS na,
             |    CAST(SUM(b) AS BIGINT) AS nb FROM cum)
             |SELECT 'view' AS group_a, 'click' AS group_b,
             |  na AS n_a, nb AS n_b,
             |  CASE WHEN na <> 0 AND nb <> 0 THEN
             |    CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 END AS u_a,
             |  CASE WHEN na <> 0 AND nb <> 0 THEN
             |    CAST(2 * CAST(na AS HUGEINT) * nb
             |      - (r2a - na * (na + 1)) AS DOUBLE) / 2.0 END AS u_b,
             |  CASE WHEN na <> 0 AND nb <> 0
             |      AND CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)
             |        * CAST((na + nb + 1) * CAST(na + nb AS HUGEINT)
             |          * (na + nb - 1) - t AS DOUBLE) > 0 THEN
             |    round(CAST(r2a - na * (na + 1)
             |        - CAST(na AS HUGEINT) * nb AS DOUBLE)
             |      / (2.0 * sqrt(
             |        (CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)
             |          * CAST((na + nb + 1) * CAST(na + nb AS HUGEINT)
             |            * (na + nb - 1) - t AS DOUBLE))
             |        / CAST(12 * CAST(na + nb AS HUGEINT)
             |          * (na + nb - 1) AS DOUBLE))), 6)
             |  END AS z
             |FROM agg""".stripMargin)),

    // ---- x176: one-way ANOVA F test ----------------------------------------
    // Exact DECIMAL group moments; the one float reduction is a
    // SEQUENTIAL group-ordered fold on both engines (aggregate() /
    // list_reduce()) — see ops/Stats.anovaF.
    QueryDef(
      "x176_anova_f",
      (s, dir) =>
        Stats.anovaF(Tables.orders(s, dir), "o_orderpriority",
          round(col("o_totalprice").cast("double") * 100).cast("bigint")),
      Some("""WITH m AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
             |    COUNT(*) AS ng,
             |    CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
             |      AS BIGINT)) AS HUGEINT) AS sg,
             |    CAST(SUM(CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
             |        AS BIGINT)
             |      * CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
             |        AS BIGINT)) AS HUGEINT) AS qg
             |  FROM orders GROUP BY 1),
             |one AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(ng) AS BIGINT) AS n,
             |    CAST(SUM(sg) AS HUGEINT) AS s,
             |    CAST(SUM(qg) AS HUGEINT) AS q,
             |    list_reduce(
             |      list(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE)
             |        ORDER BY g), (x, y) -> x + y) AS a2
             |  FROM m)
             |SELECT n, k, k - 1 AS dof_between, n - k AS dof_within,
             |  CASE WHEN k >= 2 AND n > k AND CAST(q AS DOUBLE) - a2 > 0
             |    THEN round(
             |      ((a2 - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
             |        / CAST(k - 1 AS DOUBLE))
             |      / ((CAST(q AS DOUBLE) - a2) / CAST(n - k AS DOUBLE)), 6)
             |  END AS f
             |FROM one""".stripMargin)),

    // ---- x177: PSI distribution-drift report -------------------------------
    // Reference-decile bins (exact interpolated percentiles, x23/x152
    // convention) over two document snapshots (the x112 predicate
    // idiom); per-bin counts/shares + ln drift terms — see
    // ops/Profiling.psiBins.
    QueryDef(
      "x177_psi_drift",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Profiling.psiBins(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 89 =!= 0),
          length(col("text")), bins = 10)
          .orderBy(col("bin"))
      },
      Some {
        val fracs = (1 to 9).map(i => s"quantile_cont(v, 0.$i)")
          .mkString(", ")
        val binCase = (1 to 9).map(i =>
          s"CASE WHEN v > t[$i] THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH refv AS (SELECT CAST(length(text) AS DOUBLE) AS v
           |    FROM documents WHERE doc_id % 97 != 0),
           |curv AS (SELECT CAST(length(text) AS DOUBLE) AS v
           |    FROM documents WHERE doc_id % 89 != 0),
           |cuts AS (SELECT [$fracs] AS t FROM refv),
           |rc AS (SELECT CAST($binCase + 1 AS BIGINT) AS bin
           |  FROM refv CROSS JOIN cuts),
           |cc AS (SELECT CAST($binCase + 1 AS BIGINT) AS bin
           |  FROM curv CROSS JOIN cuts),
           |rg AS (SELECT bin, COUNT(*) AS n_ref FROM rc GROUP BY 1),
           |cg AS (SELECT bin, COUNT(*) AS n_cur FROM cc GROUP BY 1),
           |grid AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT)
           |  AS bin),
           |j AS (SELECT grid.bin,
           |    CAST(COALESCE(rg.n_ref, 0) AS BIGINT) AS n_ref,
           |    CAST(COALESCE(cg.n_cur, 0) AS BIGINT) AS n_cur
           |  FROM grid LEFT JOIN rg USING (bin) LEFT JOIN cg USING (bin)),
           |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
           |    CAST(SUM(n_cur) AS BIGINT) AS tc FROM j)
           |SELECT bin, n_ref, n_cur,
           |  CASE WHEN tr <> 0 THEN round(
           |    CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 6)
           |  END AS share_ref,
           |  CASE WHEN tc <> 0 THEN round(
           |    CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 6)
           |  END AS share_cur,
           |  CASE WHEN n_ref > 0 AND n_cur > 0 AND tr <> 0 AND tc <> 0
           |    THEN round(
           |      (CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)
           |        - CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE))
           |      * ln((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE))
           |        / (CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE))), 6)
           |  END AS psi_term
           |FROM j CROSS JOIN tot ORDER BY bin""".stripMargin
      }),

    // ---- x178: position-based (U-shaped) attribution -----------------------
    // 40/20/40 journey credit before the first conversion; round-12
    // DECIMAL credit sums — see ops/EventAnalytics.positionAttribution.
    QueryDef(
      "x178_position_attribution",
      (s, dir) =>
        EventAnalytics.positionAttribution(Tables.events(s, dir))
          .orderBy(col("channel")),
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tns,
             |    event_id FROM events),
             |conv1 AS (SELECT user_id, tns, event_id FROM (
             |    SELECT user_id, tns, event_id, ROW_NUMBER() OVER (
             |      PARTITION BY user_id ORDER BY tns, event_id) AS rn
             |    FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
             |t AS (SELECT e.user_id, e.event_type AS channel, e.tns,
             |    e.event_id
             |  FROM ev e JOIN conv1 c USING (user_id)
             |  WHERE e.event_type <> 'purchase'
             |    AND (e.tns, e.event_id) < (c.tns, c.event_id)),
             |p AS (SELECT channel,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY tns, event_id) AS pos,
             |    COUNT(*) OVER (PARTITION BY user_id) AS m FROM t),
             |wts AS (SELECT channel, CAST(round(CASE
             |      WHEN m = 1 THEN CAST(1.0 AS DOUBLE)
             |      WHEN pos = 1 OR pos = m THEN
             |        (CASE WHEN m = 2 THEN CAST(0.5 AS DOUBLE)
             |         ELSE CAST(0.4 AS DOUBLE) END)
             |      ELSE 0.2 / CAST(m - 2 AS DOUBLE) END, 12)
             |    AS DECIMAL(28,12)) AS w
             |  FROM p),
             |pc AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
             |    SUM(w) AS credit FROM wts GROUP BY 1),
             |tot AS (SELECT SUM(credit) AS t FROM pc)
             |SELECT channel, n_touches,
             |  round(CAST(credit AS DOUBLE), 6) AS credit,
             |  round(CAST(credit AS DOUBLE) / CAST(t AS DOUBLE), 6)
             |    AS share
             |FROM pc CROSS JOIN tot ORDER BY channel""".stripMargin)),

    // ---- x179: exact data-driven Shapley attribution -----------------------
    // Characteristic values = integer-quantized per-set conversion
    // rates; the subset enumeration is exact BIGINT driver math (the
    // x170 collect posture); the oracle unrolls all 2^(c-1) marginal
    // terms per channel. Channel list: the x170 fixture-vocabulary
    // caveat applies (rows would mismatch if the fixture drifted).
    QueryDef(
      "x179_shapley_attribution",
      (s, dir) =>
        EventAnalytics.shapleyAttribution(Tables.events(s, dir))
          .orderBy(col("channel")),
      Some {
        val channels = Seq("click", "error", "signup", "view")
        val c = channels.size
        def fact(x: Int): Long = (1 to x).map(_.toLong).product
        def v6(k: String) =
          s"COALESCE((SELECT v6 FROM v WHERE set_key = '$k'), 0)"
        val denom = s"${fact(c) * 1000000L}.0"
        val perChannel = channels.map { ch =>
          val others = channels.filterNot(_ == ch)
          val terms = (0 until (1 << others.size)).map { mask =>
            val sub = others.zipWithIndex.collect {
              case (x, i) if ((mask >> i) & 1) == 1 => x
            }
            val w = fact(sub.size) * fact(c - 1 - sub.size)
            val withCh = (ch +: sub).sorted.mkString("|")
            val without = sub.sorted.mkString("|")
            s"$w * (${v6(withCh)} - ${v6(without)})"
          }.mkString("\n    + ")
          s"""SELECT '$ch' AS channel,
             |  CAST($terms AS DOUBLE) / $denom AS shapley""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tns,
           |    event_id FROM events),
           |conv1 AS (SELECT user_id, tns, event_id FROM (
           |    SELECT user_id, tns, event_id, ROW_NUMBER() OVER (
           |      PARTITION BY user_id ORDER BY tns, event_id) AS rn
           |    FROM ev WHERE event_type = 'purchase') WHERE rn = 1),
           |ju AS (SELECT e.user_id,
           |    COALESCE(array_to_string(list_sort(list(DISTINCT
           |      e.event_type) FILTER (WHERE e.event_type <> 'purchase'
           |        AND (c.user_id IS NULL
           |          OR (e.tns, e.event_id) < (c.tns, c.event_id)))),
           |      '|'), '') AS set_key,
           |    MAX(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
           |      AS conv
           |  FROM ev e LEFT JOIN conv1 c USING (user_id)
           |  GROUP BY e.user_id),
           |sets AS MATERIALIZED (SELECT set_key, COUNT(*) AS n,
           |    CAST(SUM(conv) AS BIGINT) AS k FROM ju GROUP BY 1),
           |v AS MATERIALIZED (SELECT set_key,
           |    (2 * k * 1000000 + n) // (2 * n) AS v6 FROM sets)
           |SELECT * FROM (
           |$perChannel
           |) ORDER BY channel""".stripMargin
      }),

    // ---- x180: two-group log-rank churn test -------------------------------
    // x153's survival model compared across a deterministic user cohort
    // split (even vs odd user_id): observed vs hypergeometric-expected
    // group-A churn events and the 1-dof chi-square. Per-time E/V terms
    // are doubles from exact integers, round-12 DECIMAL-summed (the
    // x103 order-independent convention) — see ops/Survival.logRank.
    QueryDef(
      "x180_logrank",
      (s, dir) =>
        Survival.logRank(Tables.events(s, dir),
          pmod(col("user_id"), lit(2)) === 0, censorDays = 7),
      Some("""WITH per AS (SELECT user_id,
             |    min(epoch_ns(ts) // 86400000000000) AS f,
             |    max(epoch_ns(ts) // 86400000000000) AS l,
             |    (user_id % 2 = 0) AS a
             |  FROM events GROUP BY 1, 4),
             |mx AS (SELECT max(l) AS max_day FROM per),
             |lt AS (SELECT l - f AS t, a, (l <= max_day - 7) AS churned
             |  FROM per CROSS JOIN mx),
             |ptg AS (SELECT t, a,
             |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
             |      AS d,
             |    COUNT(*) AS e FROM lt GROUP BY 1, 2),
             |grid AS (SELECT t, a FROM (SELECT DISTINCT t FROM ptg)
             |  CROSS JOIN (SELECT unnest([true, false]) AS a)),
             |f0 AS (SELECT g.t, g.a, COALESCE(p.d, 0) AS d,
             |    COALESCE(p.e, 0) AS e
             |  FROM grid g LEFT JOIN ptg p ON g.t = p.t AND g.a = p.a),
             |rk AS (SELECT t, a, d, e,
             |    CAST(SUM(e) OVER (PARTITION BY a ORDER BY t DESC)
             |      AS BIGINT) AS n
             |  FROM f0),
             |pt AS (SELECT t,
             |    CAST(SUM(CASE WHEN a THEN d ELSE 0 END) AS BIGINT) AS da,
             |    CAST(SUM(d) AS BIGINT) AS d,
             |    CAST(SUM(CASE WHEN a THEN n ELSE 0 END) AS BIGINT) AS na,
             |    CAST(SUM(n) AS BIGINT) AS n
             |  FROM rk GROUP BY 1
             |  HAVING SUM(d) >= 1 AND SUM(n) >= 1),
             |ag AS (SELECT CAST(SUM(da) AS BIGINT) AS oa,
             |    SUM(CAST(round(CAST(na AS DOUBLE) * d / n, 12)
             |      AS DECIMAL(28,12))) AS ea,
             |    SUM(CAST(round(CASE WHEN n >= 2 THEN
             |        CAST(d AS DOUBLE) * na * (n - na) * (n - d)
             |          / (CAST(n AS DOUBLE) * n * (n - 1.0))
             |        ELSE 0.0 END, 12) AS DECIMAL(28,12))) AS v FROM pt),
             |tot AS (SELECT
             |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
             |  FROM lt)
             |SELECT n_a, n_b, oa AS o_a,
             |  round(CAST(ea AS DOUBLE), 6) AS e_a,
             |  CASE WHEN CAST(v AS DOUBLE) > 0 THEN
             |    round((CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
             |      * (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
             |      / CAST(v AS DOUBLE), 6)
             |  END AS chi2
             |FROM ag CROSS JOIN tot""".stripMargin)),

    // ---- x181: Holt level+trend smoothing of daily counts ------------------
    // Pinned-order sequential fold; the oracle replays it as a
    // per-type recursive CTE (the x153 convention — DuckDB v1.0's
    // list_reduce mis-evaluates cross-field struct references, so the
    // x176 list_reduce idiom is unusable for a 2-field state) — see
    // ops/EventAnalytics.holtDaily.
    QueryDef(
      "x181_holt_trend",
      (s, dir) =>
        EventAnalytics.holtDaily(Tables.events(s, dir))
          .orderBy(col("event_type")),
      Some("""WITH RECURSIVE daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |ser AS (SELECT event_type, CAST(cnt AS DOUBLE) AS y,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY day) AS rn
             |  FROM daily),
             |nd AS (SELECT event_type, COUNT(*) AS n_days
             |  FROM ser GROUP BY 1),
             |run AS (
             |  SELECT event_type, rn, y AS l, CAST(0 AS DOUBLE) AS b
             |  FROM ser WHERE rn = 1
             |  UNION ALL
             |  SELECT s.event_type, s.rn,
             |    CAST(0.5 AS DOUBLE) * s.y
             |      + CAST(0.5 AS DOUBLE) * (r.l + r.b),
             |    CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * s.y
             |        + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
             |      + CAST(0.5 AS DOUBLE) * r.b
             |  FROM ser s JOIN run r ON s.event_type = r.event_type
             |    AND s.rn = r.rn + 1)
             |SELECT r.event_type, nd.n_days, round(r.l, 6) AS level,
             |  round(r.b, 6) AS trend,
             |  round(r.l + r.b, 6) AS forecast
             |FROM run r JOIN nd USING (event_type)
             |WHERE r.rn = nd.n_days ORDER BY r.event_type""".stripMargin)),

    // ---- x204: Holt-Winters weekly-seasonal smoothing ----------------------
    // x181's level+trend fold plus a 7-slot additive seasonal state on
    // the DENSE zero-filled grid; recursive-CTE oracle carries the
    // seasonal LIST — see ops/EventAnalytics.holtWintersDaily.
    QueryDef(
      "x204_holt_winters",
      (s, dir) =>
        EventAnalytics.holtWintersDaily(Tables.events(s, dir), period = 7)
          .orderBy(col("event_type")),
      Some {
        val slot = "CAST((g.rn - 1) % 7 + 1 AS BIGINT)"
        val y = "CAST(g.y AS DOUBLE)"
        val newL = s"0.5 * ($y - r.s[$slot]) + 0.5 * (r.l + r.b)"
        s"""WITH RECURSIVE daily AS (SELECT event_type,
           |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
           |  FROM events GROUP BY 1, 2),
           |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
           |  FROM daily GROUP BY 1),
           |grid AS (SELECT g.event_type, g.day, COALESCE(d.cnt, 0) AS y
           |  FROM (SELECT event_type,
           |      unnest(generate_series(d0, d1)) AS day FROM span) g
           |  LEFT JOIN daily d USING (event_type, day)),
           |ser AS (SELECT event_type, day, y, ROW_NUMBER() OVER (
           |    PARTITION BY event_type ORDER BY day) AS rn FROM grid),
           |nd AS (SELECT event_type, COUNT(*) AS n_days FROM ser
           |  GROUP BY 1 HAVING COUNT(*) >= 8),
           |init AS (SELECT s.event_type,
           |    CAST(SUM(s.y) AS DOUBLE) / 7.0 AS l0
           |  FROM ser s JOIN nd USING (event_type)
           |  WHERE s.rn <= 7 GROUP BY 1),
           |sz AS (SELECT s.event_type,
           |    list(CAST(s.y AS DOUBLE) - i.l0 ORDER BY s.rn) AS sl
           |  FROM ser s JOIN init i USING (event_type)
           |  WHERE s.rn <= 7 GROUP BY 1),
           |run AS (
           |  SELECT i.event_type, CAST(7 AS BIGINT) AS rn, i.l0 AS l,
           |    CAST(0 AS DOUBLE) AS b, sz.sl AS s
           |  FROM init i JOIN sz USING (event_type)
           |  UNION ALL
           |  SELECT g.event_type, g.rn,
           |    $newL AS l,
           |    0.5 * (($newL) - r.l) + 0.5 * r.b AS b,
           |    list_transform(generate_series(1, 7),
           |      jj -> CASE WHEN jj = $slot
           |        THEN 0.5 * ($y - ($newL)) + 0.5 * r.s[$slot]
           |        ELSE r.s[CAST(jj AS BIGINT)] END) AS s
           |  FROM ser g JOIN run r ON g.event_type = r.event_type
           |    AND g.rn = r.rn + 1)
           |SELECT r.event_type, nd.n_days, round(r.l, 6) AS level,
           |  round(r.b, 6) AS trend,
           |  round(r.s[CAST(nd.n_days % 7 + 1 AS BIGINT)], 6) AS s_next,
           |  round(r.l + r.b + r.s[CAST(nd.n_days % 7 + 1 AS BIGINT)], 6)
           |    AS forecast
           |FROM run r JOIN nd USING (event_type)
           |WHERE r.rn = nd.n_days ORDER BY r.event_type""".stripMargin
      }),

    // ---- x182: q-gram-blocked fuzzy match (entity resolution) --------------
    // Ed-Join prefix filtering over the 40-char document-prefix key:
    // candidates share one of each side's q*d+1 RAREST grams (provably
    // lossless). q = 5 because the corpus vocabulary is small — 3-grams
    // are too common to prune. Low-entropy pad-structured keys (e.g.
    // "Customer#000...") defeat set-based gram blocking entirely (every
    // prefix is forced into a universal gram); measured and documented
    // in PLANS.md — see ops/Dedup.fuzzyJoin.
    QueryDef(
      "x182_fuzzy_match",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
        Dedup.fuzzyJoin(docs, "doc_id", "k", q = 5, maxDist = 2)
      },
      Some("""WITH s AS (SELECT doc_id AS id, substring(text, 1, 40) AS nm
             |  FROM documents WHERE text IS NOT NULL
             |    AND length(text) >= 5),
             |g AS (SELECT DISTINCT id, nm,
             |    substring(nm, CAST(i AS INT), 5) AS gram
             |  FROM (SELECT id, nm,
             |      unnest(generate_series(1, length(nm) - 4)) AS i
             |    FROM s)),
             |df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1),
             |gn AS (SELECT id FROM g GROUP BY id
             |  HAVING COUNT(*) > 10),
             |rk AS (SELECT id, nm, gram, ROW_NUMBER() OVER (
             |    PARTITION BY id ORDER BY df, gram) AS rn
             |  FROM g JOIN df USING (gram) JOIN gn USING (id)),
             |pre AS (SELECT id, nm, gram FROM rk WHERE rn <= 11),
             |cand AS (SELECT DISTINCT a.id AS id1, a.nm AS n1,
             |    b.id AS id2, b.nm AS n2
             |  FROM pre a JOIN pre b ON a.gram = b.gram AND a.id < b.id
             |  WHERE abs(length(a.nm) - length(b.nm)) <= 2)
             |SELECT id1, id2,
             |  CAST(levenshtein(n1, n2) AS BIGINT) AS dist
             |FROM cand WHERE levenshtein(n1, n2) <= 2""".stripMargin)),

    // ---- x183: CUSUM changepoint monitor -----------------------------------
    // Two-sided tabular CUSUM over daily counts (kappa = sigma/2,
    // h = 4*sigma from the series' own exact moments); pinned-order
    // fold replayed as a recursive CTE; NOTHING rounded — every output
    // double is the same IEEE op sequence on both engines — see
    // ops/EventAnalytics.cusumDaily.
    QueryDef(
      "x183_cusum",
      (s, dir) =>
        EventAnalytics.cusumDaily(Tables.events(s, dir))
          .orderBy(col("event_type")),
      Some("""WITH RECURSIVE daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |mom AS (SELECT event_type, COUNT(*) AS n_days,
             |    CAST(SUM(CAST(cnt AS HUGEINT)) AS HUGEINT) AS s,
             |    CAST(SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT))
             |      AS HUGEINT) AS q
             |  FROM daily GROUP BY 1),
             |par AS (SELECT event_type, n_days,
             |    CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mu,
             |    sqrt(greatest(CAST(0 AS DOUBLE),
             |      (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
             |          * CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
             |        / CAST(n_days AS DOUBLE))) AS sigma
             |  FROM mom),
             |ser AS (SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY day) AS rn
             |  FROM daily),
             |run AS (
             |  SELECT event_type, 0 AS rn, CAST(0 AS DOUBLE) AS sp,
             |    CAST(0 AS DOUBLE) AS sn, CAST(0 AS DOUBLE) AS spmax,
             |    CAST(-1 AS BIGINT) AS tmax, CAST(0 AS BIGINT) AS alarms
             |  FROM par
             |  UNION ALL
             |  SELECT s.event_type, s.rn,
             |    greatest(CAST(0 AS DOUBLE),
             |      r.sp + (s.y - (p.mu + p.sigma / CAST(2 AS DOUBLE)))),
             |    greatest(CAST(0 AS DOUBLE),
             |      r.sn + ((p.mu - p.sigma / CAST(2 AS DOUBLE)) - s.y)),
             |    CASE WHEN greatest(CAST(0 AS DOUBLE), r.sp
             |        + (s.y - (p.mu + p.sigma / CAST(2 AS DOUBLE))))
             |        > r.spmax
             |      THEN greatest(CAST(0 AS DOUBLE), r.sp
             |        + (s.y - (p.mu + p.sigma / CAST(2 AS DOUBLE))))
             |      ELSE r.spmax END,
             |    CASE WHEN greatest(CAST(0 AS DOUBLE), r.sp
             |        + (s.y - (p.mu + p.sigma / CAST(2 AS DOUBLE))))
             |        > r.spmax
             |      THEN s.day ELSE r.tmax END,
             |    r.alarms + CASE WHEN
             |        greatest(CAST(0 AS DOUBLE), r.sp
             |          + (s.y - (p.mu + p.sigma / CAST(2 AS DOUBLE))))
             |          > CAST(4 AS DOUBLE) * p.sigma
             |        OR greatest(CAST(0 AS DOUBLE), r.sn
             |          + ((p.mu - p.sigma / CAST(2 AS DOUBLE)) - s.y))
             |          > CAST(4 AS DOUBLE) * p.sigma
             |      THEN 1 ELSE 0 END
             |  FROM ser s JOIN run r ON s.event_type = r.event_type
             |    AND s.rn = r.rn + 1
             |  JOIN par p ON p.event_type = s.event_type)
             |SELECT p.event_type, p.n_days, p.mu, p.sigma,
             |  r.sp AS sp_end, r.sn AS sn_end, r.spmax AS sp_max,
             |  r.tmax AS t_max, r.alarms AS n_alarms
             |FROM run r JOIN par p USING (event_type)
             |WHERE r.rn = p.n_days ORDER BY p.event_type""".stripMargin)),

    // ---- x184: day-of-week seasonal profile --------------------------------
    // dow = epoch-day mod 7 (dow 0 = Thursday, documented); mean and
    // seasonal index are single IEEE divisions of exact integers
    // (index cross-multiplied) — no rounding, bitwise compare — see
    // ops/EventAnalytics.dowProfile.
    QueryDef(
      "x184_dow_profile",
      (s, dir) =>
        EventAnalytics.dowProfile(Tables.events(s, dir))
          .orderBy(col("event_type"), col("dow")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |pd AS (SELECT event_type, day % 7 AS dow,
             |    COUNT(*) AS n_days,
             |    CAST(SUM(CAST(cnt AS HUGEINT)) AS HUGEINT) AS sd
             |  FROM daily GROUP BY 1, 2),
             |pt AS (SELECT event_type, CAST(SUM(n_days) AS BIGINT) AS n,
             |    CAST(SUM(sd) AS HUGEINT) AS st FROM pd GROUP BY 1)
             |SELECT event_type, dow, n_days, CAST(sd AS BIGINT)
             |    AS total_cnt,
             |  CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_cnt,
             |  CAST(sd * n AS DOUBLE) / CAST(n_days * st AS DOUBLE)
             |    AS season_index
             |FROM pd JOIN pt USING (event_type)
             |ORDER BY event_type, dow""".stripMargin)),

    // ---- x185: lag-k autocorrelation of dense daily counts -----------------
    // Gaps zero-filled over each type's span; r_k cross-multiplied by
    // n^2 into ONE division of exact integers (HUGEINT == DECIMAL(38))
    // — no rounding; lag join is an equi-join after exploding shifted
    // copies — see ops/EventAnalytics.acfDaily.
    QueryDef(
      "x185_acf",
      (s, dir) =>
        EventAnalytics.acfDaily(Tables.events(s, dir), maxLag = 7)
          .orderBy(col("event_type"), col("lag_k")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |grid AS (SELECT g.event_type, g.day, COALESCE(d.cnt, 0) AS y
             |  FROM (SELECT event_type,
             |      unnest(generate_series(d0, d1)) AS day FROM span) g
             |  LEFT JOIN daily d USING (event_type, day)),
             |mom AS (SELECT event_type, COUNT(*) AS n,
             |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
             |    CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
             |      AS HUGEINT) AS q
             |  FROM grid GROUP BY 1),
             |sh AS (SELECT event_type, day + k AS day, k, y AS y1
             |  FROM grid CROSS JOIN
             |    (SELECT unnest(generate_series(1, 7)) AS k) t),
             |la AS (SELECT s.event_type, s.k AS lag_k, COUNT(*) AS m,
             |    CAST(SUM(CAST(s.y1 AS HUGEINT) * CAST(g.y AS HUGEINT))
             |      AS HUGEINT) AS a,
             |    CAST(SUM(CAST(s.y1 AS HUGEINT)) AS HUGEINT) AS b,
             |    CAST(SUM(CAST(g.y AS HUGEINT)) AS HUGEINT) AS c
             |  FROM sh s JOIN grid g ON s.event_type = g.event_type
             |    AND s.day = g.day
             |  GROUP BY 1, 2)
             |SELECT l.event_type, l.lag_k, m.n AS n_days,
             |  CASE WHEN m.n * m.n * m.q - m.n * m.s * m.s <> 0 THEN
             |    CAST(m.n * m.n * l.a - m.n * m.s * (l.b + l.c)
             |        + l.m * m.s * m.s AS DOUBLE)
             |      / CAST(m.n * m.n * m.q - m.n * m.s * m.s AS DOUBLE)
             |  END AS acf
             |FROM la l JOIN mom m USING (event_type)
             |ORDER BY l.event_type, l.lag_k""".stripMargin)),

    // ---- x186: Theil-Sen robust daily trend --------------------------------
    // Median of all pairwise slopes per type (span-bounded pair join);
    // order-statistic median, no rounding — see
    // ops/EventAnalytics.theilSen.
    QueryDef(
      "x186_theilsen",
      (s, dir) =>
        EventAnalytics.theilSen(Tables.events(s, dir))
          .orderBy(col("event_type")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |sl AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
             |    CAST(b.cnt - a.cnt AS DOUBLE)
             |      / CAST(b.day - a.day AS DOUBLE) AS slope
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND b.day > a.day),
             |rk AS (SELECT event_type, slope, ROW_NUMBER() OVER (
             |    PARTITION BY event_type ORDER BY slope, d1, d2) AS rn
             |  FROM sl),
             |cn AS (SELECT event_type, COUNT(*) AS n_days,
             |    COUNT(*) * (COUNT(*) - 1) // 2 AS n_pairs
             |  FROM daily GROUP BY 1 HAVING COUNT(*) >= 2)
             |SELECT r.event_type, c.n_days, c.n_pairs,
             |  SUM(r.slope) / COUNT(*) AS slope
             |FROM rk r JOIN cn c USING (event_type)
             |WHERE r.rn = (c.n_pairs + 1) // 2
             |  OR r.rn = (c.n_pairs + 2) // 2
             |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // ---- x187: view->purchase cross-correlation lead-lag -------------------
    // Pearson r of (x_t, y_{t+k}) for k in -7..7 over the dense joint
    // span; exact windowed moments, two IEEE sqrts + one division, no
    // rounding — see ops/EventAnalytics.ccfDaily.
    QueryDef(
      "x187_ccf_leadlag",
      (s, dir) =>
        EventAnalytics.ccfDaily(Tables.events(s, dir), "view",
          "purchase", maxLag = 7)
          .orderBy(col("lag_k")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events WHERE event_type IN ('view', 'purchase')
             |  GROUP BY 1, 2),
             |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
             |grid AS (SELECT g.day, COALESCE(x.cnt, 0) AS x,
             |    COALESCE(y.cnt, 0) AS y
             |  FROM (SELECT unnest(generate_series(d0, d1)) AS day
             |    FROM span) g
             |  LEFT JOIN (SELECT day, cnt FROM daily
             |    WHERE event_type = 'view') x USING (day)
             |  LEFT JOIN (SELECT day, cnt FROM daily
             |    WHERE event_type = 'purchase') y USING (day)),
             |sh AS (SELECT day + k AS day, k AS lag_k, x
             |  FROM grid CROSS JOIN
             |    (SELECT unnest(generate_series(-7, 7)) AS k) t),
             |ag AS (SELECT s.lag_k, COUNT(*) AS n_overlap,
             |    CAST(SUM(CAST(s.x AS HUGEINT) * CAST(g.y AS HUGEINT))
             |      AS HUGEINT) AS a,
             |    CAST(SUM(CAST(s.x AS HUGEINT)) AS HUGEINT) AS bx,
             |    CAST(SUM(CAST(g.y AS HUGEINT)) AS HUGEINT) AS by_,
             |    CAST(SUM(CAST(s.x AS HUGEINT) * CAST(s.x AS HUGEINT))
             |      AS HUGEINT) AS qx,
             |    CAST(SUM(CAST(g.y AS HUGEINT) * CAST(g.y AS HUGEINT))
             |      AS HUGEINT) AS qy
             |  FROM sh s JOIN grid g USING (day) GROUP BY 1)
             |SELECT lag_k, n_overlap,
             |  CASE WHEN CAST(n_overlap * qx - bx * bx AS DOUBLE) > 0
             |      AND CAST(n_overlap * qy - by_ * by_ AS DOUBLE) > 0
             |    THEN CAST(n_overlap * a - bx * by_ AS DOUBLE)
             |      / (sqrt(CAST(n_overlap * qx - bx * bx AS DOUBLE))
             |        * sqrt(CAST(n_overlap * qy - by_ * by_
             |          AS DOUBLE)))
             |  END AS ccf
             |FROM ag ORDER BY lag_k""".stripMargin)),

    // ---- x188: returnflag x linestatus mutual information ------------------
    // Per-cell MI terms (the PSI per-term shape; sum mi_term for the
    // scalar MI in nats); ln arg is one division of exact
    // cross-products — see ops/Stats.mutualInfo.
    QueryDef(
      "x188_mutual_info",
      (s, dir) =>
        Stats.mutualInfo(Tables.lineitem(s, dir), "l_returnflag",
          "l_linestatus")
          .orderBy(col("a"), col("b")),
      Some("""WITH cells AS (SELECT CAST(l_returnflag AS VARCHAR) AS a,
             |    CAST(l_linestatus AS VARCHAR) AS b, COUNT(*) AS n_ab
             |  FROM lineitem GROUP BY 1, 2),
             |ma AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a
             |  FROM cells GROUP BY 1),
             |mb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b
             |  FROM cells GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM cells)
             |SELECT c.a, c.b, c.n_ab, m1.n_a, m2.n_b,
             |  round(CAST(c.n_ab AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
             |    AS share,
             |  round((CAST(c.n_ab AS DOUBLE) / CAST(t.n AS DOUBLE))
             |    * ln(CAST(CAST(c.n_ab AS HUGEINT)
             |        * CAST(t.n AS HUGEINT) AS DOUBLE)
             |      / CAST(CAST(m1.n_a AS HUGEINT)
             |        * CAST(m2.n_b AS HUGEINT) AS DOUBLE)), 6)
             |    AS mi_term
             |FROM cells c JOIN ma m1 USING (a) JOIN mb m2 USING (b)
             |  CROSS JOIN tot t
             |ORDER BY c.a, c.b""".stripMargin)),

    // ---- x189: balanced-half-sample CI for mean order value ----------------
    // BRR replication: replicate r keeps rows whose md5 bit r is set;
    // Var ~ (1/B) sum (theta_r - theta)^2, round-12 DECIMAL-summed;
    // theta/theta_r are single divisions of exact integer cent sums —
    // see ops/Stats.brrMeanCi.
    QueryDef(
      "x189_brr_ci",
      (s, dir) =>
        Stats.brrMeanCi(Tables.orders(s, dir), "o_orderkey",
          round(col("o_totalprice").cast("double") * 100).cast("bigint"),
          b = 64, salt = "brr"),
      Some("""WITH rows_ AS (SELECT
             |    CAST(round(CAST(o_totalprice AS DOUBLE) * 100)
             |      AS BIGINT) AS v,
             |    md5('brr:' || CAST(o_orderkey AS VARCHAR)) AS h
             |  FROM orders),
             |tot AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s
             |  FROM rows_),
             |reps AS (SELECT r, COUNT(*) AS nr,
             |    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS sr
             |  FROM rows_ CROSS JOIN
             |    (SELECT unnest(generate_series(0, 63)) AS r) t
             |  WHERE ((instr('0123456789abcdef',
             |      substr(h, CAST(1 + r // 4 AS INT), 1)) - 1)
             |    >> (r % 4)) & 1 = 1
             |  GROUP BY 1 HAVING COUNT(*) > 0),
             |va AS (SELECT COUNT(*) AS b_replicates,
             |    SUM(CAST(round(
             |      (CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)
             |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)
             |        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 12)
             |      AS DECIMAL(28,12))) AS ss,
             |    first(n) AS n, first(s) AS s
             |  FROM reps CROSS JOIN tot)
             |SELECT n, b_replicates,
             |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS theta,
             |  sqrt(CAST(ss AS DOUBLE) / CAST(b_replicates AS DOUBLE))
             |    AS se,
             |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - 1.96
             |    * sqrt(CAST(ss AS DOUBLE)
             |      / CAST(b_replicates AS DOUBLE)) AS ci_lo,
             |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 1.96
             |    * sqrt(CAST(ss AS DOUBLE)
             |      / CAST(b_replicates AS DOUBLE)) AS ci_hi
             |FROM va""".stripMargin)),

    // ---- x190: inter-arrival time profile ----------------------------------
    // Per-user consecutive gaps, power-of-two second buckets via exact
    // integer bit-width (length(bin(gap+1))-1, no libm log2) — see
    // ops/EventAnalytics.interArrival.
    QueryDef(
      "x190_interarrival",
      (s, dir) =>
        EventAnalytics.interArrival(Tables.events(s, dir))
          .orderBy(col("event_type"), col("bucket")),
      Some("""WITH g AS (SELECT event_type,
             |    CAST(length(bin((tns - prev)
             |      // 1000000000 + 1)) - 1 AS BIGINT) AS bucket
             |  FROM (SELECT event_type, epoch_ns(ts) AS tns,
             |      LAG(epoch_ns(ts)) OVER (PARTITION BY user_id
             |        ORDER BY epoch_ns(ts), event_id) AS prev
             |    FROM events)
             |  WHERE prev IS NOT NULL),
             |c AS (SELECT event_type, bucket, COUNT(*) AS n
             |  FROM g GROUP BY 1, 2),
             |tt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS t
             |  FROM c GROUP BY 1)
             |SELECT c.event_type, c.bucket, c.n,
             |  CAST(c.n AS DOUBLE) / CAST(tt.t AS DOUBLE) AS share
             |FROM c JOIN tt USING (event_type)
             |ORDER BY c.event_type, c.bucket""".stripMargin)),

    // ---- x191: variance-ratio random-walk test -----------------------------
    // VR(q) = Var(q-day block sums)/(q*Var(daily)) over the dense
    // grid, complete blocks only; ONE division of exact integers — see
    // ops/EventAnalytics.varianceRatio.
    QueryDef(
      "x191_variance_ratio",
      (s, dir) =>
        EventAnalytics.varianceRatio(Tables.events(s, dir),
          qs = Seq(2, 4, 8))
          .orderBy(col("event_type"), col("q")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |grid AS (SELECT g.event_type, g.d0, g.day,
             |    COALESCE(d.cnt, 0) AS y
             |  FROM (SELECT event_type, d0,
             |      unnest(generate_series(d0, d1)) AS day FROM span) g
             |  LEFT JOIN daily d USING (event_type, day)),
             |mom AS (SELECT event_type, COUNT(*) AS n_days,
             |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             |    CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
             |      AS HUGEINT) AS qy
             |  FROM grid GROUP BY 1),
             |blocks AS (SELECT event_type, q, (day - d0) // q AS blk,
             |    COUNT(*) AS bn, CAST(SUM(y) AS BIGINT) AS z
             |  FROM grid CROSS JOIN
             |    (SELECT unnest([2, 4, 8]) AS q) t
             |  GROUP BY 1, 2, 3),
             |ba AS (SELECT event_type, CAST(q AS BIGINT) AS q,
             |    COUNT(*) AS n_blocks,
             |    CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
             |    CAST(SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT))
             |      AS HUGEINT) AS qz
             |  FROM blocks WHERE bn = q GROUP BY 1, 2)
             |SELECT b.event_type, b.q, m.n_days, b.n_blocks,
             |  CASE WHEN b.q * b.n_blocks * b.n_blocks
             |      * (m.n_days * m.qy - m.sy * m.sy) <> 0 THEN
             |    CAST(m.n_days * m.n_days
             |        * (b.n_blocks * b.qz - b.sz * b.sz) AS DOUBLE)
             |      / CAST(b.q * b.n_blocks * b.n_blocks
             |        * (m.n_days * m.qy - m.sy * m.sy) AS DOUBLE)
             |  END AS vr
             |FROM ba b JOIN mom m USING (event_type)
             |ORDER BY b.event_type, b.q""".stripMargin)),

    // ---- x196: view->purchase conversion-lag profile -----------------------
    // First-touch to first-conversion lag per user (struct-min firsts,
    // conversion strictly after touch), x190's power-of-two buckets —
    // see ops/EventAnalytics.conversionLag.
    QueryDef(
      "x196_conversion_lag",
      (s, dir) =>
        EventAnalytics.conversionLag(Tables.events(s, dir), "view",
          "purchase")
          .orderBy(col("bucket")),
      Some("""WITH ft AS (SELECT user_id, min(epoch_ns(ts)) AS tns
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |fc AS (SELECT user_id, min(epoch_ns(ts)) AS tns
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |lags AS (SELECT CAST(length(bin((fc.tns - ft.tns)
             |      // 1000000000 + 1)) - 1 AS BIGINT) AS bucket
             |  FROM ft JOIN fc USING (user_id) WHERE fc.tns > ft.tns),
             |c AS (SELECT bucket, COUNT(*) AS n_users FROM lags
             |  GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_users) AS BIGINT) AS tt FROM c)
             |SELECT bucket, n_users,
             |  CAST(n_users AS DOUBLE) / CAST(tt AS DOUBLE) AS share
             |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin)),

    // ---- x192: exact median without a global sort --------------------------
    // Iterative histogram refinement (<= 7 bucketed counting passes on
    // 64-bit ranges, <= 1024-row collects each — the bounded-collect
    // posture); EXACT kth order statistic, vs x27's one-pass GK
    // approximation — see ops/Selection.exactKth.
    QueryDef(
      "x192_exact_median",
      (s, dir) =>
        Selection.exactKth(Tables.lineitem(s, dir),
          round(col("l_extendedprice").cast("double") * 100)
            .cast("bigint")),
      Some("""WITH v AS (SELECT CAST(round(
             |      CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)
             |      AS v
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |n AS (SELECT COUNT(*) AS n FROM v),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn
             |  FROM v)
             |SELECT n.n, (n.n + 1) // 2 AS k, r.v AS value
             |FROM r JOIN n ON r.rn = (n.n + 1) // 2""".stripMargin)),

    // ---- x193: price/quantity skyline --------------------------------------
    // 2-D Pareto frontier (maximize quantity, minimize price): one
    // corpus reduce to the cell grid, then an exclusive prefix-min
    // over <= |distinct quantity| rows — see ops/Selection.skyline2d.
    QueryDef(
      "x193_skyline",
      (s, dir) =>
        Selection.skyline2d(Tables.lineitem(s, dir), col("l_quantity"),
          round(col("l_extendedprice").cast("double") * 100)
            .cast("bigint"))
          .orderBy(col("max_v").desc),
      Some("""WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS max_v,
             |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
             |      AS BIGINT) AS min_v,
             |    COUNT(*) AS n_rows
             |  FROM lineitem
             |  WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL
             |  GROUP BY 1, 2),
             |lv AS (SELECT max_v, min_v, n_rows FROM (
             |    SELECT max_v, min_v, n_rows,
             |      MIN(min_v) OVER (PARTITION BY max_v) AS best
             |    FROM cells) WHERE min_v = best),
             |fr AS (SELECT max_v, min_v, n_rows,
             |    MIN(min_v) OVER (ORDER BY max_v DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS pm
             |  FROM lv)
             |SELECT max_v, min_v, n_rows FROM fr
             |WHERE pm IS NULL OR min_v < pm
             |ORDER BY max_v DESC""".stripMargin)),

    // ---- x194: partitioned-lake round-trip with pruning --------------------
    // Writes the events day-table Hive-partitioned by epoch-week, then
    // reads back ONLY the trailing 4 weeks (partition-filter literal;
    // the plan spec asserts the scan prunes) — see
    // ops/Layout.partitionedRoundTrip.
    QueryDef(
      "x194_partition_prune",
      (s, dir) =>
        Layout.partitionedRoundTrip(Tables.events(s, dir),
          s"/tmp/graft_x194_${Integer.toHexString(dir.hashCode)}",
          lastWeeks = 4)
          .orderBy(col("event_type")),
      Some("""WITH d AS (SELECT event_type, user_id,
             |    epoch_ns(ts) // 86400000000000 AS day FROM events),
             |w AS (SELECT event_type, user_id, day, day // 7 AS week
             |  FROM d),
             |mx AS (SELECT max(week) AS mw FROM w)
             |SELECT event_type, COUNT(*) AS n_events,
             |  COUNT(DISTINCT day) AS n_days,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM w CROSS JOIN mx WHERE week > mw - 4
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- x197: quantity-weighted median unit price -------------------------
    // Every physical unit votes, not every order line: smallest price
    // whose cumulative <=-price quantity reaches (W+1) div 2 — x192's
    // refinement machinery with weight sums — see
    // ops/Selection.weightedMedian.
    QueryDef(
      "x197_weighted_median",
      (s, dir) =>
        Selection.weightedMedian(Tables.lineitem(s, dir),
          round(col("l_extendedprice").cast("double") * 100)
            .cast("bigint"),
          col("l_quantity")),
      Some("""WITH v AS (SELECT CAST(round(
             |      CAST(l_extendedprice AS DOUBLE) * 100) AS BIGINT)
             |      AS v,
             |    CAST(l_quantity AS BIGINT) AS w
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_quantity IS NOT NULL AND l_quantity > 0),
             |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM v),
             |c AS (SELECT v, CAST(SUM(w) OVER (ORDER BY v) AS BIGINT)
             |    AS cum FROM v)
             |SELECT tw AS total_weight, (tw + 1) // 2 AS k,
             |  min(v) AS value
             |FROM c CROSS JOIN t WHERE c.cum >= (tw + 1) // 2
             |GROUP BY 1, 2""".stripMargin)),

    // ---- x199: Spearman rank correlation -----------------------------------
    // Monotone association between quantity and line price: Pearson
    // over exact doubled midranks (the mannWhitney integer trick; the
    // factor 2 cancels) — decomposed prefix sums per axis, two
    // value-keyed joins, one moments pass — see ops/Stats.spearman.
    QueryDef(
      "x199_spearman",
      (s, dir) =>
        Stats.spearman(Tables.lineitem(s, dir), col("l_quantity"),
          round(col("l_extendedprice").cast("double") * 100)),
      Some("""WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100)
             |      AS BIGINT) AS y
             |  FROM lineitem WHERE l_quantity IS NOT NULL
             |    AND l_extendedprice IS NOT NULL),
             |xc AS (SELECT x, COUNT(*) AS c FROM v GROUP BY 1),
             |xr AS (SELECT x, 2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1
             |    AS dmx FROM xc),
             |yc AS (SELECT y, COUNT(*) AS c FROM v GROUP BY 1),
             |yr AS (SELECT y, 2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1
             |    AS dmy FROM yc),
             |j AS (SELECT dmx, dmy FROM v
             |  JOIN xr USING (x) JOIN yr USING (y)),
             |m AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(dmx AS HUGEINT)) AS HUGEINT) AS sx,
             |    CAST(SUM(CAST(dmy AS HUGEINT)) AS HUGEINT) AS sy,
             |    CAST(SUM(CAST(dmx AS HUGEINT) * dmx) AS HUGEINT) AS sxx,
             |    CAST(SUM(CAST(dmy AS HUGEINT) * dmy) AS HUGEINT) AS syy,
             |    CAST(SUM(CAST(dmx AS HUGEINT) * dmy) AS HUGEINT) AS sxy
             |  FROM j)
             |SELECT n, CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
             |    AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
             |  round(CAST(n * sxy - sx * sy AS DOUBLE)
             |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             |  END AS rho
             |FROM m""".stripMargin)),

    // ---- x200: Mann-Kendall trend test -------------------------------------
    // Monotone-trend S/tau-b/z per event type over the dense
    // zero-filled daily grid (x185's grid); pair join is the theilSen
    // equi-on-type shape — see ops/Stats.mannKendall.
    QueryDef(
      "x200_mann_kendall",
      (s, dir) =>
        Stats.mannKendall(
          EventWindows.denseDaily(EventWindows.dailyCounts(
            Tables.events(s, dir))), "event_type", "day", "y")
          .orderBy(col("series")),
      Some("""WITH daily AS (SELECT event_type,
             |    epoch_ns(ts) // 86400000000000 AS day, COUNT(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |grid AS (SELECT g.event_type, g.day, COALESCE(d.cnt, 0) AS y
             |  FROM (SELECT event_type,
             |      unnest(generate_series(d0, d1)) AS day FROM span) g
             |  LEFT JOIN daily d USING (event_type, day)),
             |pr AS (SELECT a.event_type,
             |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
             |      ELSE 0 END AS sg
             |  FROM grid a JOIN grid b ON a.event_type = b.event_type
             |    AND b.day > a.day),
             |sa AS (SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s
             |  FROM pr GROUP BY 1),
             |tc AS (SELECT event_type, y, COUNT(*) AS t FROM grid
             |  GROUP BY 1, 2),
             |ta AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
             |    CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT) AS tt,
             |    CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
             |      AS HUGEINT) AS tv
             |  FROM tc GROUP BY 1)
             |SELECT sa.event_type AS series, ta.n_days, sa.s,
             |  CASE WHEN ta.n_days >= 2 AND CAST(
             |      CAST(ta.n_days AS HUGEINT) * (ta.n_days - 1) - ta.tt
             |      AS DOUBLE) > 0 THEN
             |    round(2.0 * CAST(sa.s AS DOUBLE) / sqrt(CAST(
             |      (CAST(ta.n_days AS HUGEINT) * (ta.n_days - 1))
             |      * (CAST(ta.n_days AS HUGEINT) * (ta.n_days - 1) - ta.tt)
             |      AS DOUBLE)), 6) END AS tau_b,
             |  CASE WHEN ta.n_days >= 2 AND CAST(
             |      CAST(ta.n_days AS HUGEINT) * (ta.n_days - 1)
             |        * (2 * ta.n_days + 5) - ta.tv AS DOUBLE) / 18.0 > 0
             |    THEN round((CAST(sa.s AS DOUBLE) - (CASE WHEN sa.s > 0
             |        THEN 1.0 WHEN sa.s < 0 THEN -1.0 ELSE 0.0 END))
             |      / sqrt(CAST(CAST(ta.n_days AS HUGEINT) * (ta.n_days - 1)
             |        * (2 * ta.n_days + 5) - ta.tv AS DOUBLE) / 18.0), 6)
             |    END AS z
             |FROM sa JOIN ta USING (event_type)
             |ORDER BY series""".stripMargin)),

    // ---- x201: Cramér's V association strength -----------------------------
    // Are sources language-specialized? x165's chi-square grid over
    // documents (lang × source) normalized to the [0,1] effect size —
    // see ops/Stats.cramersV.
    QueryDef(
      "x201_cramers_v",
      (s, dir) =>
        Stats.cramersV(Tables.documents(s, dir), "lang", "source"),
      Some("""WITH cells AS (SELECT lang AS a, source AS b,
             |    COUNT(*) AS o FROM documents GROUP BY 1, 2),
             |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells
             |  GROUP BY 1),
             |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells
             |  GROUP BY 1),
             |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
             |grid AS (SELECT rt.a, ct.b, rt.rt, ct.ct,
             |    CAST(COALESCE(cells.o, 0) AS BIGINT) AS o
             |  FROM rt CROSS JOIN ct
             |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
             |contrib AS (SELECT a, b,
             |    CAST(round(
             |      CAST(CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct
             |        AS DOUBLE)
             |      * CAST(CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct
             |        AS DOUBLE)
             |      / CAST(CAST(n AS HUGEINT) * rt * ct AS DOUBLE), 6)
             |      AS DECIMAL(28,6)) AS contrib
             |  FROM grid CROSS JOIN n),
             |chi AS (SELECT (SELECT n FROM n) AS n,
             |    COUNT(DISTINCT a) AS nr, COUNT(DISTINCT b) AS nc,
             |    round(CAST(SUM(contrib) AS DOUBLE), 6) AS chi2
             |  FROM contrib)
             |SELECT n, (nr - 1) * (nc - 1) AS dof, chi2,
             |  CASE WHEN least(nr, nc) - 1 > 0 AND n > 0 THEN
             |    round(sqrt(chi2 / CAST(n * (least(nr, nc) - 1)
             |      AS DOUBLE)), 6) END AS v
             |FROM chi""".stripMargin)),

    // ---- x202: 1-Wasserstein order-value drift -----------------------------
    // How much money mass separates urgent from low-priority order
    // values (cents)? ∫|F_a − F_b| over the merged distinct-value
    // grid, exact integer terms — see ops/Stats.wasserstein1.
    QueryDef(
      "x202_wasserstein",
      (s, dir) =>
        Stats.wasserstein1(Tables.orders(s, dir), "o_orderpriority",
          round(col("o_totalprice").cast("double") * 100),
          "1-URGENT", "5-LOW"),
      Some("""WITH v AS (SELECT CAST(round(CAST(o_totalprice AS DOUBLE)
             |      * 100) AS BIGINT) AS v, o_orderpriority AS g
             |  FROM orders
             |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             |    AND o_totalprice IS NOT NULL),
             |c AS (SELECT v,
             |    SUM(CASE WHEN g = '1-URGENT' THEN 1 ELSE 0 END) AS a,
             |    SUM(CASE WHEN g = '5-LOW' THEN 1 ELSE 0 END) AS b
             |  FROM v GROUP BY 1),
             |t AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
             |    CAST(SUM(b) AS BIGINT) AS nb FROM c),
             |cum AS (SELECT v, a, b,
             |    SUM(a) OVER (ORDER BY v) AS ca,
             |    SUM(b) OVER (ORDER BY v) AS cb,
             |    lag(v) OVER (ORDER BY v) AS pv FROM c),
             |terms AS (SELECT CASE WHEN pv IS NULL
             |    THEN CAST(0 AS HUGEINT)
             |    ELSE abs(CAST(ca - a AS HUGEINT) * nb
             |      - CAST(cb - b AS HUGEINT) * na) * (v - pv)
             |    END AS term FROM cum CROSS JOIN t)
             |SELECT '1-URGENT' AS group_a, '5-LOW' AS group_b,
             |  t.na AS n_a, t.nb AS n_b,
             |  CASE WHEN t.na <> 0 AND t.nb <> 0 THEN
             |    round(CAST((SELECT SUM(term) FROM terms) AS DOUBLE)
             |      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)), 6)
             |  END AS w1
             |FROM t""".stripMargin)),

    // ---- x203: AMS F2 self-join-size sketch --------------------------------
    // Second frequency moment of l_orderkey (the lineitem self-join
    // size) from 64 md5-sign counters, exact F2 alongside; group
    // means and the median-of-4 are dyadic divisions — bitwise on
    // both engines — see ops/Sketches.amsF2.
    QueryDef(
      "x203_ams_f2",
      (s, dir) =>
        graft.ops.Sketches.amsF2(Tables.lineitem(s, dir),
          col("l_orderkey")),
      Some("""WITH rows_ AS (SELECT CAST(l_orderkey AS VARCHAR) AS k,
             |    md5('ams:' || CAST(l_orderkey AS VARCHAR)) AS h
             |  FROM lineitem WHERE l_orderkey IS NOT NULL),
             |ex AS (SELECT COUNT(*) AS n_keys,
             |    CAST(SUM(c) AS BIGINT) AS n_rows,
             |    CAST(SUM(c * c) AS BIGINT) AS f2_exact
             |  FROM (SELECT k, COUNT(*) AS c FROM rows_ GROUP BY 1)),
             |bc AS (SELECT r, COUNT(*) AS c1
             |  FROM rows_ CROSS JOIN
             |    (SELECT unnest(generate_series(0, 63)) AS r) t
             |  WHERE ((instr('0123456789abcdef',
             |      substr(h, CAST(1 + r // 4 AS INT), 1)) - 1)
             |    >> (r % 4)) & 1 = 1
             |  GROUP BY 1),
             |ar AS (SELECT g.r, COALESCE(bc.c1, 0) AS c1
             |  FROM (SELECT unnest(generate_series(0, 63)) AS r) g
             |  LEFT JOIN bc USING (r)),
             |gm AS (SELECT r // 16 AS g,
             |    CAST(SUM(CAST(n_rows - 2 * c1 AS HUGEINT)
             |      * (n_rows - 2 * c1)) AS DOUBLE) / 16.0 AS m
             |  FROM ar CROSS JOIN ex GROUP BY 1),
             |ms AS (SELECT list_sort(list(m)) AS means FROM gm)
             |SELECT ex.n_rows, ex.n_keys, ex.f2_exact,
             |  (means[2] + means[3]) / 2.0 AS f2_est,
             |  CASE WHEN ex.f2_exact <> 0 THEN
             |    round(((means[2] + means[3]) / 2.0
             |      - CAST(ex.f2_exact AS DOUBLE))
             |      / CAST(ex.f2_exact AS DOUBLE), 6) END AS rel_err
             |FROM ms CROSS JOIN ex""".stripMargin)),

    // ---- x229: Poisson bootstrap CI for mean revenue per user --------------
    // Each user draws a Poisson(1) replication weight per replicate
    // from pinned integer CDF thresholds over an md5 uniform — the
    // cluster-scale bootstrap (no global resampling pass); replicate
    // means are half-up 6-dp integer divisions, the CI is an exact
    // rank selection — see ops/Stats.poissonBootstrapMean.
    QueryDef(
      "x229_poisson_bootstrap",
      (s, dir) =>
        Stats.poissonBootstrapMean(
          Tables.events(s, dir).groupBy(col("user_id")).agg(
            coalesce(sum(when(col("event_type") === "purchase",
              round(col("value") * 100).cast("long"))), lit(0L))
              .as("cents")),
          "user_id", "cents", reps = 48, salt = "boot"),
      Some(s"""WITH pu AS (SELECT user_id,
              |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
              |      THEN CAST(round(value * 100) AS BIGINT) END), 0)
              |      AS BIGINT) AS x
              |  FROM events GROUP BY user_id),
              |tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS HUGEINT) AS s
              |  FROM pu),
              |tm AS (SELECT n, CASE WHEN s < 0
              |    THEN -CAST((-2 * s * 1000000 + n)
              |      // (2 * CAST(n AS HUGEINT)) AS BIGINT)
              |    ELSE CAST((2 * s * 1000000 + n)
              |      // (2 * CAST(n AS HUGEINT)) AS BIGINT) END AS m6
              |  FROM tot),
              |reps AS (SELECT generate_series AS r
              |  FROM generate_series(0, 47)),
              |dr AS (SELECT r, x, ${TextAnalysis.hexToIntSql("d", 8)} AS u
              |  FROM (SELECT r, x,
              |      md5(concat('pb:boot:', user_id, ':', r)) AS d
              |    FROM pu CROSS JOIN reps)),
              |ws AS (SELECT r, x,
              |    (CASE WHEN u >= 1580030168 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 3160060337 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 3950075421 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4213413783 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4279248373 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4292415291 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4294609777 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4294923276 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4294962463 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4294966817 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4294967252 THEN 1 ELSE 0 END
              |     + CASE WHEN u >= 4294967292 THEN 1 ELSE 0 END) AS w
              |  FROM dr),
              |rep AS (SELECT r, CAST(SUM(w) AS BIGINT) AS nr,
              |    CAST(SUM(CAST(w AS HUGEINT) * x) AS HUGEINT) AS sr
              |  FROM ws GROUP BY r HAVING SUM(w) > 0),
              |mr AS (SELECT r, CASE WHEN sr < 0
              |    THEN -CAST((-2 * sr * 1000000 + nr)
              |      // (2 * CAST(nr AS HUGEINT)) AS BIGINT)
              |    ELSE CAST((2 * sr * 1000000 + nr)
              |      // (2 * CAST(nr AS HUGEINT)) AS BIGINT) END AS m
              |  FROM rep),
              |rk AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rk
              |  FROM mr),
              |eps AS (SELECT COUNT(*) AS reps_used,
              |    CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT) AS sm,
              |    CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm,
              |    MIN(CASE WHEN rk = 2 THEN m END) AS lo,
              |    MIN(CASE WHEN rk = 47 THEN m END) AS hi
              |  FROM rk)
              |SELECT n AS n_units, reps_used,
              |  CAST(m6 AS DOUBLE) / 1000000.0 AS mean,
              |  CASE WHEN reps_used = 48 THEN
              |    round(sqrt(CAST(48 * smm - sm * sm AS DOUBLE)
              |      / 108288.0) / 1000000.0, 6) END AS boot_se,
              |  CASE WHEN reps_used = 48 THEN
              |    CAST(lo AS DOUBLE) / 1000000.0 END AS ci_lo,
              |  CASE WHEN reps_used = 48 THEN
              |    CAST(hi AS DOUBLE) / 1000000.0 END AS ci_hi
              |FROM tm CROSS JOIN eps""".stripMargin)),

    // ---- x230: Kruskal–Wallis k-sample rank test ---------------------------
    // "Do the sources' length distributions differ?" — value-table
    // exact doubled rank sums, round-12 decimal deviation terms,
    // exact-integer tie correction — see ops/Stats.kruskalWallis.
    QueryDef(
      "x230_kruskal_wallis",
      (s, dir) =>
        Stats.kruskalWallis(Tables.documents(s, dir),
          col("lang"), col("n_chars")),
      Some("""WITH sv AS (SELECT lang AS g, n_chars AS v, COUNT(*) AS c
             |  FROM documents GROUP BY 1, 2),
             |pv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS pc
             |  FROM sv GROUP BY 1),
             |pp AS (SELECT v, pc,
             |    CAST(SUM(pc) OVER (ORDER BY v) AS BIGINT) AS pcum
             |  FROM pv),
             |tot AS (SELECT CAST(SUM(pc) AS BIGINT) AS n,
             |    SUM(CAST(pc AS HUGEINT) * pc * pc - pc) AS ties
             |  FROM pv),
             |pg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
             |    SUM(CAST(c AS HUGEINT) * (2 * pcum - pc + 1)) AS r2
             |  FROM sv JOIN pp USING (v) GROUP BY 1),
             |terms AS (SELECT g, ng, n, ties,
             |    CAST(round(12.0 * CAST(ng AS DOUBLE)
             |      * (CAST(r2 AS DOUBLE) / (CAST(ng AS DOUBLE) * 2.0)
             |         - (CAST(n AS DOUBLE) + 1.0) / 2.0)
             |      * (CAST(r2 AS DOUBLE) / (CAST(ng AS DOUBLE) * 2.0)
             |         - (CAST(n AS DOUBLE) + 1.0) / 2.0)
             |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)), 12)
             |      AS DECIMAL(38,12)) AS t
             |  FROM pg CROSS JOIN tot)
             |SELECT MAX(n) AS n, COUNT(*) AS n_groups,
             |  round(CAST(SUM(t) AS DOUBLE), 6) AS h,
             |  CASE WHEN CAST(MAX(ties) AS DOUBLE)
             |      <> CAST(CAST(MAX(n) AS HUGEINT) * MAX(n) * MAX(n)
             |        - MAX(n) AS DOUBLE) THEN
             |    round(CAST(SUM(t) AS DOUBLE)
             |      / (1.0 - CAST(MAX(ties) AS DOUBLE)
             |        / CAST(CAST(MAX(n) AS HUGEINT) * MAX(n) * MAX(n)
             |          - MAX(n) AS DOUBLE)), 6) END AS h_adj
             |FROM terms""".stripMargin)),

    // ---- x231: Good–Turing unseen-vocabulary audit -------------------------
    // Frequency-of-frequencies over the term table; Turing unseen mass
    // N1/N and smoothed r* = (r+1)·N_{r+1}/N_r for r = 1..10 — see
    // ops/TextAnalysis.goodTuring.
    QueryDef(
      "x231_good_turing",
      (s, dir) =>
        TextAnalysis.goodTuring(Tables.documents(s, dir))
          .orderBy(col("r")),
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |tf AS (SELECT tok, COUNT(*) AS r FROM toks GROUP BY 1),
             |ff AS (SELECT r, COUNT(*) AS nr FROM tf GROUP BY 1),
             |corpus AS (SELECT CAST(SUM(nr) AS BIGINT) AS vocab,
             |    CAST(SUM(CAST(r AS HUGEINT) * nr) AS BIGINT) AS n_tokens,
             |    CAST(COALESCE(SUM(CASE WHEN r = 1 THEN nr END), 0)
             |      AS BIGINT) AS n1
             |  FROM ff),
             |grid AS (SELECT generate_series AS r
             |  FROM generate_series(1, 10))
             |SELECT g.r AS r, CAST(COALESCE(f.nr, 0) AS BIGINT) AS n_r,
             |  CASE WHEN COALESCE(f.nr, 0) > 0 THEN
             |    round(CAST(g.r + 1 AS DOUBLE)
             |      * CAST(COALESCE(f1.nr, 0) AS DOUBLE)
             |      / CAST(f.nr AS DOUBLE), 6) END AS r_star,
             |  vocab, n_tokens,
             |  CASE WHEN n_tokens > 0 THEN
             |    round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             |  END AS p_unseen
             |FROM grid g LEFT JOIN ff f ON f.r = g.r
             |LEFT JOIN ff f1 ON f1.r = g.r + 1
             |CROSS JOIN corpus ORDER BY 1""".stripMargin)),

    // ---- x232: Zipf-law fit over the term table ----------------------------
    // OLS of ln(frequency) on ln(rank) — natural corpora sit near
    // slope −1; boilerplate/spam bend the curve. Decomposed global
    // rank on the term table, round-12 decimal moments — see
    // ops/TextAnalysis.zipfFit.
    QueryDef(
      "x232_zipf_fit",
      (s, dir) => TextAnalysis.zipfFit(Tables.documents(s, dir)),
      Some("""WITH tf AS (SELECT tok, COUNT(*) AS tf
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
             |        FROM documents) GROUP BY tok),
             |rk AS (SELECT tf,
             |    ROW_NUMBER() OVER (ORDER BY tf DESC, tok ASC) AS rnk
             |  FROM tf),
             |m AS (SELECT
             |    CAST(round(ln(CAST(rnk AS DOUBLE)), 12)
             |      AS DECIMAL(38,12)) AS x,
             |    CAST(round(ln(CAST(tf AS DOUBLE)), 12)
             |      AS DECIMAL(38,12)) AS y,
             |    CAST(round(ln(CAST(rnk AS DOUBLE))
             |      * ln(CAST(rnk AS DOUBLE)), 12) AS DECIMAL(38,12)) AS xx,
             |    CAST(round(ln(CAST(tf AS DOUBLE))
             |      * ln(CAST(tf AS DOUBLE)), 12) AS DECIMAL(38,12)) AS yy,
             |    CAST(round(ln(CAST(rnk AS DOUBLE))
             |      * ln(CAST(tf AS DOUBLE)), 12) AS DECIMAL(38,12)) AS xy
             |  FROM rk),
             |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             |    SUM(xx) AS sxx, SUM(yy) AS syy, SUM(xy) AS sxy FROM m)
             |SELECT n AS n_terms,
             |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
             |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             |  END AS slope,
             |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
             |    round((CAST(sy AS DOUBLE)
             |      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |  END AS intercept,
             |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             |    AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
             |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |  END AS r2
             |FROM s""".stripMargin)),

    // ---- x233: pairwise Jensen–Shannon divergence between languages --------
    // Shared-vocab round-12 decimal terms + the exact-integer disjoint
    // tail ½ln2·(2 − Ca/Ta − Cb/Tb) — no outer join needed — see
    // ops/TextAnalysis.jsDivergence.
    QueryDef(
      "x233_js_divergence",
      (s, dir) =>
        TextAnalysis.jsDivergence(Tables.documents(s, dir), "lang")
          .orderBy(col("source_a"), col("source_b")),
      Some("""WITH cst AS (SELECT g, tok, COUNT(*) AS c
             |  FROM (SELECT lang AS g,
             |        unnest(string_split(text, ' ')) AS tok
             |        FROM documents) GROUP BY 1, 2),
             |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS t
             |  FROM cst GROUP BY g),
             |j AS (SELECT a.g AS ga, b.g AS gb, a.c AS ca, b.c AS cb,
             |    ta.t AS ta, tb.t AS tb
             |  FROM cst a JOIN cst b ON a.tok = b.tok AND a.g < b.g
             |  JOIN tot ta ON ta.g = a.g JOIN tot tb ON tb.g = b.g),
             |terms AS (SELECT ga, gb, ca, cb, ta, tb,
             |    CAST(round(0.5 * (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
             |        * ln((2.0 * (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)))
             |          / ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
             |            + (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))))
             |      + 0.5 * (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))
             |        * ln((2.0 * (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)))
             |          / ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))
             |            + (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)))), 12)
             |      AS DECIMAL(38,12)) AS t
             |  FROM j),
             |cm AS (SELECT ga, gb, COUNT(*) AS nc,
             |    CAST(SUM(ca) AS BIGINT) AS ia,
             |    CAST(SUM(cb) AS BIGINT) AS ib, SUM(t) AS jt
             |  FROM terms GROUP BY 1, 2),
             |grid AS (SELECT a.g AS ga, a.t AS ta, b.g AS gb, b.t AS tb
             |  FROM tot a CROSS JOIN tot b WHERE a.g < b.g)
             |SELECT grid.ga AS source_a, grid.gb AS source_b,
             |  CAST(COALESCE(cm.nc, 0) AS BIGINT) AS n_common,
             |  round(CAST(COALESCE(cm.jt, 0) AS DOUBLE)
             |    + 0.34657359027997264 * (2.0
             |      - CAST(COALESCE(cm.ia, 0) AS DOUBLE)
             |        / CAST(grid.ta AS DOUBLE)
             |      - CAST(COALESCE(cm.ib, 0) AS DOUBLE)
             |        / CAST(grid.tb AS DOUBLE)), 6) AS js
             |FROM grid LEFT JOIN cm
             |  ON cm.ga = grid.ga AND cm.gb = grid.gb
             |ORDER BY 1, 2""".stripMargin)),

    // ---- x234: Cochran–Mantel–Haenszel stratified association test ---------
    // Treatment × conversion pooled across entry-day-of-week strata;
    // exact 2×2 cells, round-12 decimal E/V/OR terms — see
    // ops/Experiments.cmhTest.
    QueryDef(
      "x234_cmh",
      (s, dir) =>
        Experiments.cmhTest(Tables.events(s, dir), convType = "purchase",
          minValue = 150.0, salt = "exp1"),
      Some(s"""WITH pu AS (SELECT user_id,
              |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
              |      THEN 1 ELSE 0 END) AS conv,
              |    MIN(epoch_ns(ts)) AS entry,
              |    md5(concat('ab:exp1:', user_id)) AS d
              |  FROM events GROUP BY user_id),
              |pv AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 2)
              |    AS variant, conv,
              |    ((entry // 86400000000000) + 4) % 7 AS st FROM pu),
              |cells AS (SELECT st,
              |    CAST(SUM(CASE WHEN variant = 1 AND conv = 1
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n11,
              |    CAST(SUM(CASE WHEN variant = 1 AND conv = 0
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n10,
              |    CAST(SUM(CASE WHEN variant = 0 AND conv = 1
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n01,
              |    CAST(SUM(CASE WHEN variant = 0 AND conv = 0
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n00
              |  FROM pv GROUP BY st),
              |c2 AS (SELECT *, n11 + n10 + n01 + n00 AS n FROM cells
              |  WHERE n11 + n10 + n01 + n00 >= 2),
              |terms AS (SELECT n11,
              |    CAST(round(CAST(CAST(n11 + n10 AS HUGEINT)
              |        * (n11 + n01) AS DOUBLE)
              |      / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12)) AS e,
              |    CAST(round(CAST(CAST(n11 + n10 AS HUGEINT)
              |        * (n01 + n00) * (n11 + n01) * (n10 + n00) AS DOUBLE)
              |      / CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE), 12)
              |      AS DECIMAL(38,12)) AS v,
              |    CAST(round(CAST(CAST(n11 AS HUGEINT) * n00 AS DOUBLE)
              |      / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12)) AS onum,
              |    CAST(round(CAST(CAST(n10 AS HUGEINT) * n01 AS DOUBLE)
              |      / CAST(n AS DOUBLE), 12) AS DECIMAL(38,12)) AS oden
              |  FROM c2),
              |s AS (SELECT COUNT(*) AS n_strata,
              |    CAST(SUM(n11) AS BIGINT) AS suma,
              |    SUM(e) AS se, SUM(v) AS sv,
              |    SUM(onum) AS son, SUM(oden) AS sod FROM terms)
              |SELECT n_strata, suma AS sum_treated_conv,
              |  CASE WHEN CAST(sv AS DOUBLE) > 0 THEN
              |    round(greatest(abs(CAST(suma AS DOUBLE)
              |        - CAST(se AS DOUBLE)) - 0.5, 0.0)
              |      * greatest(abs(CAST(suma AS DOUBLE)
              |        - CAST(se AS DOUBLE)) - 0.5, 0.0)
              |      / CAST(sv AS DOUBLE), 6) END AS cmh,
              |  CASE WHEN CAST(sod AS DOUBLE) > 0 THEN
              |    round(CAST(son AS DOUBLE) / CAST(sod AS DOUBLE), 6)
              |  END AS or_mh
              |FROM s""".stripMargin)),

    // ---- x235: split conformal calibration + coverage audit ----------------
    // Even doc_ids calibrate per-lang mean ± q̂ (the exact-rank
    // conformal quantile at α = 0.1); odd doc_ids audit empirical
    // coverage — see ops/Stats.conformalCalibration.
    QueryDef(
      "x235_conformal",
      (s, dir) =>
        Stats.conformalCalibration(Tables.documents(s, dir),
          col("lang"), col("n_chars"), col("doc_id"), alpha100 = 10)
          .orderBy(col("grp")),
      Some("""WITH base AS (SELECT lang AS g, n_chars AS v,
             |    doc_id % 2 = 0 AS is_cal FROM documents),
             |cal AS (SELECT g, COUNT(*) AS nc,
             |    CAST(SUM(v) AS HUGEINT) AS sv
             |  FROM base WHERE is_cal GROUP BY g),
             |m AS (SELECT g, nc,
             |    CASE WHEN sv < 0 THEN -CAST((-2 * sv * 1000000 + nc)
             |        // (2 * CAST(nc AS HUGEINT)) AS BIGINT)
             |      ELSE CAST((2 * sv * 1000000 + nc)
             |        // (2 * CAST(nc AS HUGEINT)) AS BIGINT) END AS m6,
             |    LEAST(((nc + 1) * 90 + 99) // 100, nc) AS tgt
             |  FROM cal),
             |sc AS (SELECT b.g, abs(b.v * 1000000 - m.m6) AS s, b.is_cal
             |  FROM base b JOIN m ON m.g = b.g),
             |csv AS (SELECT g, s, COUNT(*) AS c FROM sc WHERE is_cal
             |  GROUP BY g, s),
             |pre AS (SELECT g, s,
             |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY s) AS BIGINT)
             |      AS cum FROM csv),
             |q AS (SELECT pre.g, MIN(s) AS q FROM pre
             |  JOIN m ON m.g = pre.g WHERE cum >= tgt GROUP BY pre.g),
             |t AS (SELECT sc.g, COUNT(*) AS n_test,
             |    CAST(SUM(CASE WHEN sc.s <= q.q THEN 1 ELSE 0 END)
             |      AS BIGINT) AS cov
             |  FROM sc JOIN q ON q.g = sc.g WHERE NOT is_cal
             |  GROUP BY sc.g)
             |SELECT m.g AS grp, m.nc AS n_cal,
             |  CAST(COALESCE(t.n_test, 0) AS BIGINT) AS n_test,
             |  CAST(m.m6 AS DOUBLE) / 1000000.0 AS center,
             |  CAST(q.q AS DOUBLE) / 1000000.0 AS qhat,
             |  CASE WHEN t.n_test > 0 THEN
             |    round(CAST(t.cov AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
             |  END AS coverage
             |FROM m JOIN q ON q.g = m.g LEFT JOIN t ON t.g = m.g
             |ORDER BY 1""".stripMargin)),

    // ---- x236: retrieval metrics of IVF vs brute-force ground truth --------
    // recall@k, MRR, binary-relevance nDCG@k on the fixed query set;
    // rank discounts + IDCG are pinned 12-dp decimal LITERALS shared
    // by plan and oracle — see functions/Similarity.retrievalMetrics.
    QueryDef(
      "x236_retrieval_metrics",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.retrievalMetrics(emb.filter(col("vec_id") < 10), emb,
          k = 5, nCells = 8, nprobe = 2)
      },
      Some {
        val disc = Similarity.ndcgDiscounts(5)
        s"""${retrievalCtes(5)},
           |hits AS (SELECT g.query_id, s.rk
           |  FROM gt g LEFT JOIN sys s
           |    ON s.query_id = g.query_id
           |   AND s.neighbor_id = g.neighbor_id),
           |perq AS (SELECT query_id, COUNT(*) AS gtn, COUNT(rk) AS nh,
           |    SUM(${pinnedCaseSql("rk", disc)}) AS dcg,
           |    MIN(rk) AS first FROM hits GROUP BY 1),
           |pq2 AS (SELECT query_id, gtn, nh,
           |    CAST(round(CAST(dcg AS DOUBLE) / ${disc.sum}, 12)
           |      AS DECIMAL(14,12)) AS ndcg,
           |    CAST(round(1.0 / CAST(first AS DOUBLE), 12)
           |      AS DECIMAL(14,12)) AS rr
           |  FROM perq),
           |agg AS (SELECT COUNT(*) AS n_queries,
           |    CAST(SUM(COALESCE(gtn, 0)) AS BIGINT) AS gtt,
           |    CAST(SUM(COALESCE(nh, 0)) AS BIGINT) AS hits,
           |    SUM(COALESCE(rr, 0)) AS srr,
           |    SUM(COALESCE(ndcg, 0)) AS sn
           |  FROM ql LEFT JOIN pq2 USING (query_id))
           |SELECT n_queries, CAST(5 AS BIGINT) AS k,
           |  CASE WHEN gtt > 0 THEN round(CAST(hits AS DOUBLE)
           |    / CAST(gtt AS DOUBLE), 6) END AS recall_at_k,
           |  round(CAST(srr AS DOUBLE)
           |    / CAST(n_queries AS DOUBLE), 6) AS mrr,
           |  round(CAST(sn AS DOUBLE)
           |    / CAST(n_queries AS DOUBLE), 6) AS ndcg
           |FROM agg""".stripMargin
      }),

    // ---- x237: rank-biased overlap of IVF vs brute-force rankings ----------
    // Order-aware agreement: matched neighbor at depths (ra, rb)
    // contributes the pinned exact-decimal weight F(max(ra, rb)) — see
    // functions/Similarity.rboAudit.
    QueryDef(
      "x237_rbo",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.rboAudit(emb.filter(col("vec_id") < 10), emb,
          k = 5, nCells = 8, nprobe = 2)
      },
      Some {
        val ws = Similarity.rboWeights(5)
        s"""${retrievalCtes(5)},
           |hits AS (SELECT g.query_id,
           |    greatest(g.rk, s.rk) AS m
           |  FROM gt g JOIN sys s
           |    ON s.query_id = g.query_id
           |   AND s.neighbor_id = g.neighbor_id),
           |perq AS (SELECT query_id,
           |    SUM(${pinnedCaseSql("m", ws)}) AS rbo
           |  FROM hits GROUP BY 1),
           |cq AS (SELECT ql.query_id,
           |    COALESCE(perq.rbo, 0) AS rbo
           |  FROM ql LEFT JOIN perq USING (query_id))
           |SELECT COUNT(*) AS n_queries, CAST(5 AS BIGINT) AS k,
           |  round(CAST(SUM(rbo) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_rbo,
           |  round(CAST(MIN(rbo) AS DOUBLE), 6) AS min_rbo
           |FROM cq""".stripMargin
      }),

    // ---- x238: πps Poisson sample + Horvitz–Thompson audit -----------------
    // Size-proportional sampling by EXACT integer comparison over the
    // md5 uniform (certainty units always in); the HT estimate of the
    // total weight audits the design — see ops/Splits.ppsSample.
    QueryDef(
      "x238_pps_sample",
      (s, dir) =>
        Splits.ppsSample(Tables.documents(s, dir), "doc_id", "n_chars",
          n = 500L, salt = "pps"),
      Some(s"""WITH u AS (SELECT doc_id AS id, n_chars AS w,
              |    md5(concat('pps:pps:', doc_id)) AS d
              |  FROM documents WHERE n_chars > 0),
              |uu AS (SELECT id, w, ${TextAnalysis.hexToIntSql("d", 8)} AS u
              |  FROM u),
              |tot AS (SELECT COUNT(*) AS n_units,
              |    CAST(SUM(w) AS HUGEINT) AS tw FROM uu),
              |mk AS (SELECT w, u, n_units, tw,
              |    CAST(w AS HUGEINT) * 500 >= tw AS cert,
              |    (CAST(w AS HUGEINT) * 500 >= tw) OR
              |      (CAST(u AS HUGEINT) * tw
              |        < CAST(w AS HUGEINT) * 500 * 4294967296) AS inc
              |  FROM uu CROSS JOIN tot),
              |agg AS (SELECT MAX(n_units) AS n_units,
              |    CAST(SUM(CASE WHEN cert THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_certainty,
              |    CAST(SUM(CASE WHEN inc THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_sampled,
              |    MAX(tw) AS tw,
              |    SUM(CASE WHEN cert THEN CAST(w AS HUGEINT)
              |      ELSE 0 END) AS sc,
              |    CAST(SUM(CASE WHEN inc AND NOT cert THEN 1 ELSE 0 END)
              |      AS BIGINT) AS m
              |  FROM mk)
              |SELECT n_units, n_certainty, n_sampled,
              |  CAST(tw AS BIGINT) AS total_w,
              |  round(CAST(sc AS DOUBLE)
              |    + CAST(m AS DOUBLE) * CAST(tw AS DOUBLE) / 500.0, 6)
              |    AS ht_estimate,
              |  CASE WHEN CAST(tw AS DOUBLE) > 0 THEN
              |    round((CAST(sc AS DOUBLE)
              |      + CAST(m AS DOUBLE) * CAST(tw AS DOUBLE) / 500.0
              |      - CAST(tw AS DOUBLE)) / CAST(tw AS DOUBLE), 6)
              |  END AS rel_err
              |FROM agg""".stripMargin)),

    // ---- x239: hashed-rate-sample quantile estimate + rank-error audit -----
    // The corpus-scale quantile path: deterministic 1/16 hash sample,
    // exact rank selections on BOTH the sample and the full value
    // table, displacement measured in rank space — see
    // ops/Sketches.sampledQuantileAudit.
    QueryDef(
      "x239_sampled_quantiles",
      (s, dir) =>
        Sketches.sampledQuantileAudit(Tables.documents(s, dir),
          col("n_chars"), col("doc_id"), rate = 16,
          pcts = Seq(50, 90, 99), salt = "sq")
          .orderBy(col("pct")),
      Some(s"""WITH base AS (SELECT n_chars AS v,
              |    ${TextAnalysis.hexToIntSql(
                 "md5(concat('sq:sq:', doc_id))", 8)} AS u
              |  FROM documents WHERE n_chars IS NOT NULL),
              |vals AS (SELECT v, COUNT(*) AS cf,
              |    CAST(SUM(CASE WHEN u < 268435456 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS cs
              |  FROM base GROUP BY v),
              |pref AS (SELECT v,
              |    CAST(SUM(cf) OVER (ORDER BY v) AS BIGINT) AS cumf
              |  FROM vals),
              |pres AS (SELECT v,
              |    CAST(SUM(cs) OVER (ORDER BY v) AS BIGINT) AS cums
              |  FROM (SELECT v, cs FROM vals WHERE cs > 0)),
              |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS n,
              |    CAST(SUM(cs) AS BIGINT) AS m FROM vals),
              |grid AS (SELECT CAST(pct AS BIGINT) AS pct, n, m,
              |    (CAST(pct AS BIGINT) * n + 99) // 100 AS tf,
              |    greatest((CAST(pct AS BIGINT) * m + 99) // 100, 1)
              |      AS ts
              |  FROM (SELECT UNNEST([50, 90, 99]) AS pct)
              |  CROSS JOIN tot),
              |ex AS (SELECT pct, MIN(v) AS exact FROM grid
              |  JOIN pref ON cumf >= tf GROUP BY pct),
              |es AS (SELECT pct, MIN(v) AS est FROM grid
              |  JOIN pres ON cums >= ts GROUP BY pct),
              |er AS (SELECT es.pct, est, cumf AS rkest FROM es
              |  JOIN pref ON pref.v = es.est)
              |SELECT g.pct, g.n, g.m, er.est, ex.exact,
              |  abs(er.est - ex.exact) AS abs_err,
              |  round(CAST(abs(er.rkest - g.tf) AS DOUBLE)
              |    / CAST(g.n AS DOUBLE), 6) AS rank_err
              |FROM grid g JOIN er ON er.pct = g.pct
              |JOIN ex ON ex.pct = g.pct
              |ORDER BY 1""".stripMargin)),

    // ---- x240: group-sequential experiment audit (OBF boundaries) ----------
    // Users in arrival order cut into 5 equal-information looks;
    // cumulative pooled z at each look vs the pinned O'Brien–Fleming
    // boundary — see ops/Experiments.groupSequentialAudit.
    QueryDef(
      "x240_group_sequential",
      (s, dir) =>
        Experiments.groupSequentialAudit(Tables.events(s, dir),
          convType = "purchase", minValue = 150.0, salt = "exp1",
          looks = 5)
          .orderBy(col("look")),
      Some {
        val bCase = Experiments.obfBoundaries(5).zipWithIndex
          .map { case (b, i) => s"WHEN look = ${i + 1} THEN $b" }
          .mkString("CASE ", " ", " END")
        val se = """sqrt(CAST(ct + cc AS DOUBLE) / CAST(nt + nc AS DOUBLE)
                   |    * (1.0 - CAST(ct + cc AS DOUBLE)
                   |        / CAST(nt + nc AS DOUBLE))
                   |    * (1.0 / CAST(nt AS DOUBLE)
                   |      + 1.0 / CAST(nc AS DOUBLE)))""".stripMargin
        s"""WITH pu AS (SELECT user_id,
           |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
           |      THEN 1 ELSE 0 END) AS conv,
           |    MIN(epoch_ns(ts)) AS entry,
           |    md5(concat('ab:exp1:', user_id)) AS d
           |  FROM events GROUP BY user_id),
           |pv AS (SELECT (${TextAnalysis.hexToIntSql("d", 8)} % 2)
           |    AS variant, conv, entry, user_id FROM pu),
           |rk AS (SELECT variant, conv,
           |    ROW_NUMBER() OVER (ORDER BY entry, user_id) AS rnk,
           |    COUNT(*) OVER () AS n FROM pv),
           |cells AS (SELECT (rnk * 5 + n - 1) // n AS look,
           |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nt0,
           |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END)
           |      AS BIGINT) AS ct0,
           |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nc0,
           |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END)
           |      AS BIGINT) AS cc0
           |  FROM rk GROUP BY 1),
           |cum AS (SELECT CAST(look AS BIGINT) AS look,
           |    CAST(SUM(nt0) OVER (ORDER BY look) AS BIGINT) AS nt,
           |    CAST(SUM(ct0) OVER (ORDER BY look) AS BIGINT) AS ct,
           |    CAST(SUM(nc0) OVER (ORDER BY look) AS BIGINT) AS nc,
           |    CAST(SUM(cc0) OVER (ORDER BY look) AS BIGINT) AS cc
           |  FROM cells),
           |fin AS (SELECT look, nt + nc AS n_cum, nt AS n_treat,
           |    ct AS conv_treat, nc AS n_ctrl, cc AS conv_ctrl,
           |    CASE WHEN nt > 0 AND nc > 0 AND $se <> 0 THEN
           |      round((CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
           |        - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))
           |        / $se, 6) END AS z,
           |    $bCase AS boundary
           |  FROM cum)
           |SELECT look, n_cum, n_treat, conv_treat, n_ctrl, conv_ctrl,
           |  z, boundary,
           |  COALESCE(abs(z) >= boundary, FALSE) AS crossed
           |FROM fin ORDER BY look""".stripMargin
      }),

    // ---- x241: pairwise 1-Wasserstein length-drift matrix -------------------
    // W1 between every language pair's n_chars distributions — the
    // scale-shift detector the x233 JS token matrix cannot be; exact
    // integer cross-multiplied CDF construction (x202's) widened to k
    // groups in ONE pass — see ops/Stats.wasserstein1Matrix.
    QueryDef(
      "x241_wasserstein_matrix",
      (s, dir) =>
        Stats.wasserstein1Matrix(Tables.documents(s, dir), "lang",
          col("n_chars"), Seq("de", "en", "es", "fr", "zh"))
          .orderBy(col("group_a"), col("group_b")),
      Some {
        val gs = Seq("de", "en", "es", "fr", "zh")
        val k = gs.size
        val inList = gs.map(g => s"'$g'").mkString(", ")
        val condSums = gs.zipWithIndex.map { case (g, i) =>
          s"SUM(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS c$i"
        }.mkString(",\n    ")
        val totCols = gs.indices.map(i =>
          s"CAST(SUM(c$i) AS BIGINT) AS n$i").mkString(", ")
        val cumCols = gs.indices.map(i =>
          s"SUM(c$i) OVER (ORDER BY v) AS l$i").mkString(",\n    ")
        val cCols = gs.indices.map(i => s"c$i").mkString(", ")
        val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
        val termCols = pairs.map { case (i, j) =>
          s"""SUM(CASE WHEN pv IS NULL THEN CAST(0 AS HUGEINT)
             |    ELSE abs(CAST(l$i - c$i AS HUGEINT) * n$j
             |      - CAST(l$j - c$j AS HUGEINT) * n$i) * (v - pv)
             |    END) AS w${i}_$j""".stripMargin
        }.mkString(",\n  ")
        val selects = pairs.map { case (i, j) =>
          s"""SELECT '${gs(i)}' AS group_a, '${gs(j)}' AS group_b,
             |  n$i AS n_a, n$j AS n_b,
             |  CASE WHEN n$i <> 0 AND n$j <> 0 THEN
             |    round(CAST(w${i}_$j AS DOUBLE)
             |      / (CAST(n$i AS DOUBLE) * CAST(n$j AS DOUBLE)), 6)
             |  END AS w1 FROM terms CROSS JOIN t""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH v AS (SELECT n_chars AS v, lang AS g FROM documents
           |  WHERE lang IN ($inList) AND n_chars IS NOT NULL),
           |c AS (SELECT v,
           |    $condSums
           |  FROM v GROUP BY 1),
           |t AS (SELECT $totCols FROM c),
           |cum AS (SELECT v, $cCols,
           |    $cumCols,
           |    lag(v) OVER (ORDER BY v) AS pv FROM c),
           |terms AS (SELECT
           |  $termCols
           |  FROM cum CROSS JOIN t)
           |SELECT * FROM (
           |$selects
           |) ORDER BY group_a, group_b""".stripMargin
      }),

    // ---- x242: overdispersion (variance-to-mean) audit ----------------------
    // Is per-user activity Poisson or bursty? Exact integer moments of
    // per-user counts per type; VMR + the sqrt(2D) normal screen — see
    // ops/Stats.dispersionAudit.
    QueryDef(
      "x242_dispersion",
      (s, dir) =>
        Stats.dispersionAudit(Tables.events(s, dir))
          .orderBy(col("event_type")),
      Some("""WITH pu AS (SELECT event_type, user_id, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT event_type, COUNT(*) AS n_users,
             |    CAST(SUM(c) AS HUGEINT) AS s,
             |    SUM(CAST(c AS HUGEINT) * c) AS ss
             |  FROM pu GROUP BY 1),
             |f AS (SELECT event_type, n_users,
             |    CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean,
             |    CAST(CAST(n_users AS HUGEINT) * ss - s * s AS DOUBLE)
             |      / (CAST(n_users AS DOUBLE)
             |        * (CAST(n_users AS DOUBLE) - 1.0))
             |      / (CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE))
             |      AS vmr
             |  FROM m)
             |SELECT event_type, n_users, round(mean, 6) AS mean,
             |  CASE WHEN n_users > 1 AND mean > 0 THEN round(vmr, 6)
             |    END AS vmr,
             |  CASE WHEN n_users > 1 AND mean > 0 THEN
             |    round(sqrt(2.0 * ((CAST(n_users AS DOUBLE) - 1.0)
             |        * vmr))
             |      - sqrt(2.0 * (CAST(n_users AS DOUBLE) - 1.0) - 1.0),
             |      6) END AS z,
             |  COALESCE(CASE WHEN n_users > 1 AND mean > 0 THEN
             |    sqrt(2.0 * ((CAST(n_users AS DOUBLE) - 1.0) * vmr))
             |      - sqrt(2.0 * (CAST(n_users AS DOUBLE) - 1.0) - 1.0)
             |      > 3.0 END, FALSE) AS overdispersed
             |FROM f ORDER BY event_type""".stripMargin)),

    // ---- x244: TRAINED classifier weights, end to end ----------------------
    // The x130 swap made real: train the hashed-feature weight table
    // from the corpus labels (bucket -> exact micro-quantized centered
    // positive rate — libm-free, so the TRAINING itself is oracle-
    // replayable), then score every document through the trained table
    // (classifierScoreWithWeights, which collects the <= 32-row table
    // when the plan is built, so training runs then) instead of the
    // stand-in inline weights. Output is the per-keep-class doc, token
    // and score totals — proving train -> persist shape -> load -> score
    // end to end. ClassifierSpec additionally round-trips the weights
    // through REAL parquet and pins score equality.
    QueryDef(
      "x244_trained_classifier",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val w = TextAnalysis.trainHashedWeights(docs,
          col("lang") === "en", dims = 32)
        val scored = TextAnalysis.classifierScoreWithWeights(docs, w,
          dims = 32)
        scored.groupBy(col("keep"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n_tokens")).cast("long").as("n_tokens"),
            sum(col("score").cast("decimal(18,6)"))
              .cast("double").as("sum_score"))
          .orderBy(col("keep"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |b AS (SELECT doc_id, lang,
              |    ${TextAnalysis.hexToIntSql("md5(tok)", 8)} % 32 AS bucket
              |  FROM toks),
              |w AS (SELECT bucket, COUNT(*) AS n,
              |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
              |  FROM b GROUP BY 1),
              |g AS (SELECT SUM(n) AS gn, SUM(np) AS gnp FROM w),
              |wm AS (SELECT bucket,
              |    CAST((2 * np * 1000000 + n) // (2 * n)
              |      - (2 * gnp * 1000000 + gn) // (2 * gn) AS BIGINT)
              |      AS weight_micro
              |  FROM w CROSS JOIN g),
              |sc AS (SELECT doc_id, COUNT(*) AS n_tokens,
              |    CAST(SUM(wm.weight_micro) AS BIGINT) AS s
              |  FROM b JOIN wm USING (bucket) GROUP BY doc_id),
              |scored AS (SELECT doc_id, n_tokens,
              |    (CASE WHEN s < 0 THEN -1 ELSE 1 END
              |      * ((2 * abs(s) + n_tokens) // (2 * n_tokens))) AS scaled,
              |    s >= 0 AS keep
              |  FROM sc)
              |SELECT keep, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  CAST(SUM(CAST(CAST(scaled AS DOUBLE) / 1e6
              |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
              |FROM scored GROUP BY keep ORDER BY keep""".stripMargin)),

    // ---- x245: DSIR importance selection (hashed likelihood ratio) ---------
    // The published "select web text that looks like the target domain"
    // recipe: hashed-unigram bucket LMs for target (the %97 held-out
    // split standing in for in-domain exemplars) vs background, Laplace
    // smoothing, per-doc importance log-weight, top-100 — see
    // ops/TextAnalysis.dsirTopK (per-bucket r12 ln constants, exact
    // DECIMAL per-doc sums, TakeOrdered cut).
    QueryDef(
      "x245_dsir_selection",
      (s, dir) =>
        TextAnalysis.dsirTopK(Tables.documents(s, dir),
          col("doc_id") % 97 === 0, k = 100, buckets = 256),
      Some(s"""WITH toks AS (SELECT doc_id, doc_id % 97 = 0 AS tgt,
              |    md5(tok) AS d
              |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |        FROM documents) t),
              |b AS (SELECT doc_id, tgt,
              |    ${TextAnalysis.hexToIntSql("d", 8)} % 256 AS bucket
              |  FROM toks),
              |pb AS (SELECT bucket,
              |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc,
              |    CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS bc
              |  FROM b GROUP BY 1),
              |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt,
              |    CAST(SUM(bc) AS BIGINT) AS bt FROM pb),
              |r AS (SELECT bucket,
              |    CAST(round(ln((CAST(tc + 1 AS DOUBLE)
              |        / CAST(tt + 256 AS DOUBLE))
              |      / (CAST(bc + 1 AS DOUBLE)
              |        / CAST(bt + 256 AS DOUBLE))), 12)
              |      AS DECIMAL(28,12)) AS lr
              |  FROM pb CROSS JOIN tot),
              |sc AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(lr) AS w
              |  FROM b JOIN r USING (bucket) WHERE NOT tgt GROUP BY doc_id)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  round(CAST(w AS DOUBLE), 6) AS log_weight
              |FROM sc ORDER BY log_weight DESC, doc_id LIMIT 100"""
        .stripMargin)),

    // ---- x246: DSIR-weighted mixture to a token budget ---------------------
    // x245's follow-through: the published DSIR recipe selects to a
    // TOKEN BUDGET, not a fixed k — background docs in descending
    // importance-weight order while the cumulative token mass fits, then
    // the per-source mixture the selection induces (docs, tokens, token
    // share, mean log-weight). The cumulative cut is the DECOMPOSED
    // global prefix sum (Ranking.withGroupPrefixSums under a constant
    // group — never a single-task window on data); the oracle replays
    // the same total order (log_weight DESC, doc_id) in a plain window.
    QueryDef(
      "x246_dsir_mixture",
      (s, dir) =>
        Mixing.dsirBudgetedMixture(Tables.documents(s, dir),
            col("doc_id") % 97 === 0, budget = 10000L, buckets = 256)
          .orderBy(col("source")),
      Some(s"""WITH toks AS (SELECT doc_id, doc_id % 97 = 0 AS tgt,
              |    md5(tok) AS d
              |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |        FROM documents) t),
              |b AS (SELECT doc_id, tgt,
              |    ${TextAnalysis.hexToIntSql("d", 8)} % 256 AS bucket
              |  FROM toks),
              |pb AS (SELECT bucket,
              |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc,
              |    CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS bc
              |  FROM b GROUP BY 1),
              |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt,
              |    CAST(SUM(bc) AS BIGINT) AS bt FROM pb),
              |r AS (SELECT bucket,
              |    CAST(round(ln((CAST(tc + 1 AS DOUBLE)
              |        / CAST(tt + 256 AS DOUBLE))
              |      / (CAST(bc + 1 AS DOUBLE)
              |        / CAST(bt + 256 AS DOUBLE))), 12)
              |      AS DECIMAL(28,12)) AS lr
              |  FROM pb CROSS JOIN tot),
              |sc AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(lr) AS w
              |  FROM b JOIN r USING (bucket) WHERE NOT tgt GROUP BY doc_id),
              |sel AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |    round(CAST(w AS DOUBLE), 6) AS lw FROM sc),
              |cum AS (SELECT doc_id, n_tokens, lw,
              |    CAST(SUM(n_tokens) OVER (ORDER BY lw DESC, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ctok FROM sel),
              |pick AS (SELECT * FROM cum WHERE ctok <= 10000),
              |agg AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
              |    SUM(CAST(p.lw AS DECIMAL(18,6))) AS slw
              |  FROM pick p JOIN documents d USING (doc_id) GROUP BY 1)
              |SELECT source, n_docs, n_tokens,
              |  round(CAST(n_tokens AS DOUBLE)
              |    / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS token_share,
              |  round(CAST(slw AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
              |    AS mean_log_weight
              |FROM agg ORDER BY source""".stripMargin)),

    // ---- x248: DSIR Gumbel-top-k importance RESAMPLING ---------------------
    // The paper's actual sampling step (x245 is the argmax prefix): draw
    // k docs without replacement ∝ exp(log_weight) via Gumbel top-k,
    // with DETERMINISTIC md5-uniform noise (u from 12 hex chars of
    // md5('dsir:'||id), g = -ln(-ln u) pinned r12) — a reproducible
    // "random" sample any engine can replay. See
    // TextAnalysis.dsirGumbelTopK.
    QueryDef(
      "x248_dsir_gumbel_sample",
      (s, dir) =>
        TextAnalysis.dsirGumbelTopK(Tables.documents(s, dir),
            col("doc_id") % 97 === 0, k = 100, buckets = 256),
      Some(s"""WITH toks AS (SELECT doc_id, doc_id % 97 = 0 AS tgt,
              |    md5(tok) AS d
              |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |        FROM documents) t),
              |b AS (SELECT doc_id, tgt,
              |    ${TextAnalysis.hexToIntSql("d", 8)} % 256 AS bucket
              |  FROM toks),
              |pb AS (SELECT bucket,
              |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc,
              |    CAST(SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS bc
              |  FROM b GROUP BY 1),
              |tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt,
              |    CAST(SUM(bc) AS BIGINT) AS bt FROM pb),
              |r AS (SELECT bucket,
              |    CAST(round(ln((CAST(tc + 1 AS DOUBLE)
              |        / CAST(tt + 256 AS DOUBLE))
              |      / (CAST(bc + 1 AS DOUBLE)
              |        / CAST(bt + 256 AS DOUBLE))), 12)
              |      AS DECIMAL(28,12)) AS lr
              |  FROM pb CROSS JOIN tot),
              |sc AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(lr) AS w
              |  FROM b JOIN r USING (bucket) WHERE NOT tgt GROUP BY doc_id),
              |gum AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |    round(CAST(w AS DOUBLE), 6) AS log_weight,
              |    round(round(CAST(w AS DOUBLE), 6) / 1.0
              |      + round(-ln(-ln(
              |        (${TextAnalysis.hexToIntSql(
                       "md5(concat('dsir:', CAST(doc_id AS VARCHAR)))", 12)}
              |         + 0.5) / 281474976710656.0)), 12), 6) AS sample_key
              |  FROM sc)
              |SELECT doc_id, n_tokens, log_weight, sample_key
              |FROM gum ORDER BY sample_key DESC, doc_id LIMIT 100"""
        .stripMargin)),
  )
}
