package graft

import graft.ops.{EventAnalytics, Pca}
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the behavioral-analytics + embedding-
  * statistics surface (x114-x119).
  */
class AnalyticsSpec extends SparkSuite {

  private def sec(n: Long): Long = n * 1000000000L

  // user 1: full ordered funnel; user 2 skips 'view'; user 3 views BEFORE
  // signup (and never after) so stops at stage 1; user 4 has view at the
  // SAME instant as signup — strict ordering must reject it.
  private def funnelEvents = frame(
    "user_id" -> Seq(1L, 1L, 1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L),
    "event_type" -> Seq("signup", "view", "click", "purchase",
      "signup", "click", "view", "signup", "signup", "view"),
    "ts_ns" -> Seq(sec(10), sec(20), sec(30), sec(40),
      sec(10), sec(30), sec(5), sec(10), sec(10), sec(10)),
    "event_id" -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))

  test("funnel: ordered, strict, first-touch") {
    val out = EventAnalytics.funnel(funnelEvents,
      Seq("signup", "view", "click", "purchase")).orderBy("step").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(4L, 1L, 1L, 1L)) // n_users
    assert(out.map(_.getString(1)).toSeq ===
      Seq("signup", "view", "click", "purchase"))
    assert(out(0).getDouble(3) === 1.0) // rate_vs_first of step 1
    assert(out(1).getDouble(3) === 0.25)
    assert(out(1).getDouble(4) === 0.25) // vs prev
    assert(out(2).getDouble(4) === 1.0) // click after view: 1/1
  }

  test("funnel: single step degenerates to per-type user count") {
    val out = EventAnalytics.funnel(funnelEvents, Seq("view")).collect()
    assert(out.length === 1 && out(0).getLong(2) === 3L)
    assert(out(0).getDouble(3) === 1.0 && out(0).getDouble(4) === 1.0)
  }

  test("funnelWithin: horizon bounds later steps from the FIRST-step time") {
    // user 1 views at exactly t0 + horizon (inclusive — counts); user 2
    // views one second past it (dropped); user 3 views within horizon of
    // a LATER signup but not the first one (dropped — first-touch t0)
    val h = 100L
    val ev = frame(
      "user_id" -> Seq(1L, 1L, 2L, 2L, 3L, 3L, 3L),
      "event_type" -> Seq("signup", "view", "signup", "view",
        "signup", "signup", "view"),
      "ts_ns" -> Seq(sec(10), sec(110), sec(10), sec(111),
        sec(10), sec(200), sec(250)))
    val out = EventAnalytics.funnelWithin(ev, Seq("signup", "view"), h)
      .orderBy("step").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(3L, 1L))
    // and without the horizon every user converts
    val unbounded = EventAnalytics.funnel(ev, Seq("signup", "view"))
      .orderBy("step").collect()
    assert(unbounded.map(_.getLong(2)).toSeq === Seq(3L, 3L))
  }

  test("cohortFunnel: per-cohort counts and rates; conversion sticks to " +
      "the first-step cohort") {
    val week = 604800L
    // user 1 signs up week 0, views week 1 (counts for cohort 0!);
    // user 2 signs up week 0, never views; user 3 signs up week 1, views
    val ev = frame(
      "user_id" -> Seq(1L, 1L, 2L, 3L, 3L),
      "event_type" -> Seq("signup", "view", "signup", "signup", "view"),
      "ts_ns" -> Seq(sec(10), sec(week + 10), sec(20),
        sec(week + 20), sec(week + 30)))
    val out = EventAnalytics.cohortFunnel(ev, Seq("signup", "view"), week)
      .orderBy("cohort_start", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    assert(out === Seq((0L, 1L, 2L, 1.0), (0L, 2L, 1L, 0.5),
      (week, 1L, 1L, 1.0), (week, 2L, 1L, 1.0)))
  }

  test("lastTouchAttribution: touch lookback skips conversions; " +
      "conversion-first users are 'direct'") {
    // user 1: view -> purchase -> purchase (both purchases attribute to
    // view — the intermediate purchase is skipped); user 2: purchase
    // first (direct); user 3: click -> view -> purchase (view wins, last
    // touch)
    val ev = frame(
      "user_id" -> Seq(1L, 1L, 1L, 2L, 3L, 3L, 3L),
      "event_type" -> Seq("view", "purchase", "purchase", "purchase",
        "click", "view", "purchase"),
      "ts_ns" -> Seq(sec(1), sec(2), sec(3), sec(1), sec(1), sec(2), sec(3)),
      "event_id" -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val out = EventAnalytics.lastTouchAttribution(ev, "purchase")
      .orderBy("attributed_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq(("direct", 1L, 0.25), ("view", 3L, 0.75)))
  }

  test("transitionMatrix: counts, probabilities, tie broken by event_id") {
    // user 1 at identical ts: a(id=1) -> b(id=2) -> ordered by event_id
    val ev = frame(
      "user_id" -> Seq(1L, 1L, 1L, 2L, 2L),
      "event_type" -> Seq("a", "b", "a", "a", "b"),
      "ts_ns" -> Seq(sec(1), sec(1), sec(2), sec(1), sec(2)),
      "event_id" -> Seq(1L, 2L, 3L, 4L, 5L))
    val m = EventAnalytics.transitionMatrix(ev)
      .orderBy("from_type", "to_type").collect()
    // pairs: u1 a->b (tie), b->a; u2 a->b  => a->b:2, b->a:1
    assert(m.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", "b", 2L), ("b", "a", 1L)))
    assert(m(0).getDouble(3) === 1.0 && m(1).getDouble(3) === 1.0)
  }

  test("retentionCohorts: offsets and rates") {
    val week = 604800L
    // users 1,2 first in week 0; user 1 returns week 1 and 3; user 2 never
    val ev = frame(
      "user_id" -> Seq(1L, 2L, 1L, 1L),
      "ts_ns" -> Seq(sec(10), sec(20), sec(week + 5), sec(3 * week + 5)))
    val out = EventAnalytics.retentionCohorts(ev, week)
      .orderBy("offset").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 2L), (1L, 1L), (3L, 1L)))
    assert(out.forall(_.getLong(3) === 2L)) // cohort_size
    assert(out.map(_.getDouble(4)).toSeq === Seq(1.0, 0.5, 0.5))
  }

  test("anomalyScores: planted spike flags; zero-variance branches") {
    val width = 10L
    // type "a": 2,1,2,1,2,1,2,1 trailing, then a 20-count spike window
    //   mean 1.5, var 0.25 → z = (20-1.5)/0.5 = 37.0
    // type "b": constant 1 for 8 windows, then 1 (rad=0, num=0 → calm)
    //   and after that window another with 2 (rad=0, num≠0 → anomaly, z null)
    def burst(tpe: String, win: Int, k: Int, base: Long): Seq[(Long, String, Long)] =
      (0 until k).map(i => (base + win * width + i % width, tpe,
        base * 1000 + win * 100 + i))
    val rows =
      (0 until 8).flatMap(w => burst("a", w, if (w % 2 == 0) 2 else 1, 0)) ++
        burst("a", 8, 20, 0) ++
        (0 until 9).flatMap(w => burst("b", w, 1, 0)) ++
        burst("b", 9, 2, 0)
    val ev = frame(
      "ts_ns" -> rows.map(r => r._1 * 1000000000L),
      "event_type" -> rows.map(r => r._2),
      "event_id" -> rows.map(r => r._3))
    val out = EventAnalytics.anomalyScores(ev, width, trailing = 8)
      .orderBy("event_type", "win_start").collect()
    val a = out.filter(_.getString(1) == "a")
    assert(a.length === 1 && a(0).getLong(2) === 20L)
    assert(a(0).getDouble(3) === 37.0 && a(0).getBoolean(4))
    val b = out.filter(_.getString(1) == "b")
    assert(b.length === 2)
    assert(b(0).isNullAt(3) && !b(0).getBoolean(4)) // calm: n == trailing mean
    assert(b(1).isNullAt(3) && b(1).getBoolean(4)) // jump on zero variance
  }

  test("rollingActives: dau vs trailing-7-day wau") {
    val day = 86400L
    // user 1 active day 0 and day 8; user 2 active day 6
    val ev = frame(
      "user_id" -> Seq(1L, 1L, 2L),
      "ts_ns" -> Seq(sec(10), sec(8 * day + 10), sec(6 * day + 10)))
    val out = EventAnalytics.rollingActives(ev, 7)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // day 0: dau 1, wau {u1}; day 6: dau 1, wau {u1 (day0 in window), u2};
    // day 8: dau 1, wau {u2 (day6), u1 (day8)}
    assert(out === Seq((0L, 1L, 1L), (6L, 1L, 2L), (8L, 1L, 2L)))
  }

  test("sourceEntropy: hand-computed H/CE/KL; single source has KL 0") {
    val docs = frame(
      "source" -> Seq("A", "B"),
      "text" -> Seq("x x y", "x"))
    val out = graft.ops.TextAnalysis.sourceEntropy(docs)
      .orderBy("source").collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // A: p = (2/3, 1/3), H = ln3 - (2/3)ln2; corpus p_c = (3/4, 1/4)
    val hA = math.log(3.0) - 2.0 / 3.0 * math.log(2.0)
    val ceA = -(2.0 / 3.0 * math.log(3.0 / 4.0) + 1.0 / 3.0 * math.log(1.0 / 4.0))
    val a = out(0)
    assert((a.getLong(1), a.getLong(2)) === ((3L, 2L)))
    assert(math.abs(a.getDouble(3) - hA) < 1e-6)
    assert(math.abs(a.getDouble(4) - ceA) < 1e-6)
    assert(math.abs(a.getDouble(5) - (ceA - hA)) < 1e-6)
    // B: one token -> H = 0, CE = -ln(3/4), KL = CE
    val b = out(1)
    assert(b.getDouble(3) === 0.0)
    assert(math.abs(b.getDouble(4) - (-math.log(0.75))) < 1e-6)
    assert(b.getDouble(5) === r6(b.getDouble(4)))
    // KL >= 0 everywhere; a lone source IS the corpus -> KL exactly 0
    assert(out.forall(_.getDouble(5) >= 0.0))
    val lone = graft.ops.TextAnalysis.sourceEntropy(
      frame("source" -> Seq("A", "A"), "text" -> Seq("x y", "y z"))).head()
    assert(lone.getDouble(5) === 0.0 &&
      lone.getDouble(3) === lone.getDouble(4))
  }

  test("classifierScore: JVM-reference buckets/weights; integer keep rule") {
    import ClassifierReference.rampWeight
    def bucket(tok: String): Long = ClassifierReference.bucket(tok, 64)
    // doc 3 has a NULL text: it must emit no row (not a row of nulls)
    val docs = frame(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq("a a", "a b c", null))
    val out = graft.ops.TextAnalysis.classifierScore(docs, dims = 64)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val w1 = rampWeight(bucket("a"))
    assert(out(0).getLong(1) === 2L)
    assert(out(0).getDouble(2) ===
      BigDecimal(w1.toDouble / 1e6).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0).getBoolean(4) === (w1 >= 0))
    val s2 = Seq("a", "b", "c").map(t => rampWeight(bucket(t))).sum
    assert(out(1).getLong(1) === 3L)
    assert(out(1).getBoolean(4) === (s2 >= 0))
    val prob = 1.0 / (1.0 + math.exp(-(s2.toDouble / 1e6 / 3.0)))
    assert(math.abs(out(1).getDouble(3) - prob) < 1e-6)
  }

  test("covariance: exact on a hand matrix") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(2.0, 4.0)), (3L, Seq(3.0, 6.0)))
      .toDF("vec_id", "embedding")
    val cov = Pca.covariance(emb).orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cov === Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 0L, 2.0), (1L, 1L, 4.0)))
  }

  test("topComponent: rank-1 matrix recovers the exact eigenpair") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(2.0, 4.0)), (3L, Seq(3.0, 6.0)))
      .toDF("vec_id", "embedding")
    val out = Pca.topComponent(emb, iters = 6).orderBy("pos").collect()
    // C = [[1,2],[2,4]]: eigenvalues {0, 5}, top eigvec (1,2)/sqrt(5)
    assert(out.map(_.getDouble(1)).toSeq === Seq(0.447214, 0.894427))
    assert(out.forall(_.getDouble(2) === 5.0))
    assert(out.forall(_.getDouble(3) === 1.0))
  }

  test("mergeMoments: covariance from 3-way split == monolithic, bitwise") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val parts = Seq(0, 1, 2).map(k =>
      Pca.moments(emb.filter(col("vec_id") % 3 === k)))
    val merged = Pca.covarianceFromMoments(Pca.mergeMoments(parts))
      .orderBy("i", "j").collect().map(_.toSeq).toSeq
    val whole = Pca.covariance(emb)
      .orderBy("i", "j").collect().map(_.toSeq).toSeq
    assert(merged === whole)
  }

  test("projectionByGroup: exact projections on the rank-1 fixture") {
    import spark.implicits._
    // top eigvec (1,2)/sqrt(5); projections: (1,2)->sqrt(5), (2,4)->
    // 2*sqrt(5), (3,6)->3*sqrt(5). Group a={rows 1,2}, b={row 3}.
    val emb = Seq(("a", Seq(1.0, 2.0)), ("a", Seq(2.0, 4.0)), ("b", Seq(3.0, 6.0)))
      .toDF("label", "embedding")
    val out = Pca.projectionByGroup(emb, iters = 6).orderBy("label").collect()
    val s5 = math.sqrt(5.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 2L), ("b", 1L)))
    val a = out(0)
    assert(math.abs(a.getDouble(2) - 1.5 * s5) < 1e-5) // mean
    assert(math.abs(a.getDouble(3) - s5) < 1e-5) // min
    assert(math.abs(a.getDouble(4) - 2 * s5) < 1e-5) // max
    val b = out(1)
    assert(math.abs(b.getDouble(2) - 3 * s5) < 1e-5)
    assert(r6(b.getDouble(3)) === r6(b.getDouble(4)))
  }

  test("topComponent: eigenvalue dominates every coordinate variance") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Pca.topComponent(emb, iters = 6).collect()
    val eig = out.head.getDouble(2)
    val diag = Pca.covariance(emb).filter(col("i") === col("j"))
      .agg(max(col("cov"))).head.getDouble(0)
    assert(eig >= diag - 1e-3, s"eig $eig < max coordinate variance $diag")
    // loadings are L2-normalized (within quantization)
    val nrm = out.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(nrm - 1.0) < 1e-4)
    val ratio = out.head.getDouble(3)
    assert(ratio > 0.0 && ratio <= 1.0)
  }
}
