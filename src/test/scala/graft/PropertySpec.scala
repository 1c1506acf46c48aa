package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck invariants for sort/dedup/join/concat/explode — the
  * properties the reference pins by example (SURVEY.md §5 port strategy
  * item 3), checked over randomized small frames.
  */
class PropertySpec extends SparkSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(8)
    .withWorkers(1)

  private def check(name: String, p: Prop): Unit =
    assert(SCTest.check(params, p).passed, s"property failed: $name")

  private val smallInts: Gen[List[Int]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-5, 5)))

  test("sort_values returns an ordered permutation") {
    check("sort-perm", Prop.forAll(smallInts) { xs =>
      val df = MDFrame(frame("a" -> xs))
      val got = collectCol[Int](df.sortValues(Seq("a")).ds, "a")
      got == xs.sorted
    })
  }

  test("drop_duplicates: distinct keys, survivors drawn from original rows, all keys kept") {
    check("dedup", Prop.forAll(smallInts) { xs =>
      val df = MDFrame(frame("a" -> xs, "b" -> xs.indices.toList))
      val got = df.dropDuplicates(Seq("a"), orderCols = Seq("b")).ds.collect()
        .map(r => (r.getInt(0), r.getInt(1)))
      val keys = got.map(_._1).toList
      keys == keys.distinct.sorted &&
        keys.toSet == xs.toSet &&
        got.forall { case (a, b) => xs.indices.contains(b) && xs(b) == a }
    })
  }

  test("join key semantics: inner=intersection, left=left keys, outer=union (unique keys)") {
    check("join-keys", Prop.forAll(smallInts, smallInts) { (l0, r0) =>
      val l = l0.distinct; val r = r0.distinct
      val lf = MDFrame(frame("i" -> l, "a" -> l.map(_ * 2)), Seq("i"))
      val rf = MDFrame(frame("i" -> r, "b" -> r.map(_ * 3)), Seq("i"))
      def keys(how: String) =
        collectCol[Int](MDFrame.join(how, Seq(lf, rf)).ds, "i").toList
      keys("inner") == l.toSet.intersect(r.toSet).toList.sorted &&
        keys("left") == l.sorted &&
        keys("outer") == (l.toSet ++ r.toSet).toList.sorted
    })
  }

  test("concat strict preserves total row count and multiset") {
    check("concat", Prop.forAll(smallInts, smallInts) { (xs, ys) =>
      val c = MDFrame.concat(Seq(MDFrame(frame("a" -> xs)), MDFrame(frame("a" -> ys))))
      collectCol[Int](c.ds.orderBy("a"), "a").toList == (xs ++ ys).sorted
    })
  }

  test("explode emits exactly sum-of-array-sizes rows, values preserved") {
    check("explode", Prop.forAll(Gen.listOfN(4, smallInts)) { lists =>
      val df = MDFrame(frame(
        "a" -> lists.map(l => l: Any),
        "b" -> lists.indices.toList))
      val got = df.explodeCol("a").ds.collect().map(r => (r.getInt(1), r.getInt(0)))
      got.length == lists.map(_.size).sum &&
        lists.indices.forall(i =>
          got.filter(_._1 == i).map(_._2).sorted.toList == lists(i).sorted)
    })
  }

  test("topK aggregator == sort-desc-take-k under any partitioning (merge path)") {
    check("topk", Prop.forAll(smallInts, Gen.chooseNum(1, 4), Gen.chooseNum(1, 5)) {
      (xs, k, parts) =>
        val df = frame("v" -> xs.map(_.toDouble)).repartition(parts)
        val got = df.agg(graft.functions.Aggregators.topK(k)(col("v")).as("t"))
          .head().getSeq[Double](0).toList
        got == xs.map(_.toDouble).sorted(Ordering[Double].reverse).take(k)
    })
  }

  test("packBinsNextFit == in-memory next-fit model on random corpora and " +
      "partitionings (capacity contract holds)") {
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1)
    val gen = Gen.zip(
      Gen.chooseNum(2, 20).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 40))),
      Gen.chooseNum(8L, 24L),   // capacity (some docs exceed it)
      Gen.chooseNum(1, 5))      // partitions
    assert(SCTest.check(few, Prop.forAll(gen) { case (lens, cap, parts) =>
      val bmass = cap * 3
      val docs = frame(
        "doc_id" -> lens.indices.map(_.toLong),
        "text" -> lens.map(n => Seq.fill(n)("w").mkString(" ")))
        .repartition(parts)
      val got = graft.ops.Packing.packBinsNextFit(docs, cap, bmass)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      var start = 0L
      val bucketed = lens.zipWithIndex.map { case (n, id) =>
        val b = start / bmass; start += n; (id.toLong, n.toLong, b)
      }
      val want = bucketed.groupBy(_._3).toSeq.flatMap { case (b, ds) =>
        var fill = 0L; var bin = 0L; var first = true
        ds.sortBy(_._1).map { case (id, n, _) =>
          if (first) { fill = n; first = false }
          else if (fill + n <= cap) fill += n
          else { bin += 1; fill = n }
          (id, b, bin)
        }
      }.toSet
      got == want
    }).passed, "next-fit property failed")
  }

  test("takePositions returns exactly the rows at those sorted positions") {
    check("take-pos", Prop.forAll(smallInts) { xs0 =>
      val xs = xs0.zipWithIndex.map { case (v, i) => v * 100 + i } // unique keys
      val df = MDFrame(frame("k" -> xs))
      val want = xs.sorted
      val pos = xs.indices.filter(_ % 2 == 0).map(_.toLong)
      val got = df.takePositions(pos, Seq("k")).ds.collect()
        .map(r => (r.getAs[Long]("pos"), r.getInt(0))).sortBy(_._1)
      got.toList == pos.map(p => (p, want(p.toInt))).toList
    })
  }

  test("deterministic Bernoulli sample: subset, stable, frac=1 keeps everything") {
    check("bernoulli", Prop.forAll(smallInts) { xs0 =>
      val xs = xs0.zipWithIndex.map { case (v, i) => v * 100 + i }
      val df = MDFrame(frame("id" -> xs))
      val s1 = collectCol[Int](df.sampleDeterministic(0.4, "id").ds.orderBy("id"), "id")
      val s2 = collectCol[Int](df.sampleDeterministic(0.4, "id").ds.orderBy("id"), "id")
      val all = collectCol[Int](df.sampleDeterministic(1.0, "id").ds.orderBy("id"), "id")
      s1 == s2 && s1.forall(xs.contains) && all == xs.sorted
    })
  }

  test("bucketized range join == naive theta join (any bucket width)") {
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1)
    val gen = Gen.zip(
      Gen.listOfN(8, Gen.chooseNum(0L, 60L)),
      Gen.listOfN(4, Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0L, 15L))),
      Gen.chooseNum(1L, 20L))
    assert(SCTest.check(few, Prop.forAll(gen) { case (ps, ivs, width) =>
      val points = frame("p" -> ps.map(_.toInt)).selectExpr("CAST(p AS LONG) AS p")
      val intervals = frame(
        "lo" -> ivs.map(_._1.toInt), "len" -> ivs.map(_._2.toInt))
        .selectExpr("CAST(lo AS LONG) AS lo", "CAST(lo + len AS LONG) AS hi")
      val got = graft.ops.RangeJoin
        .pointInInterval(points, "p", intervals, "lo", "hi", width)
        .select("p", "lo", "hi").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = (for {
        p <- ps; (lo, len) <- ivs if p >= lo && p <= lo + len
      } yield (p, lo, lo + len)).sorted
      got == want
    }).passed, "property failed: range-join")
  }

  test("withGlobalRanks == reference rank/dense_rank over the sorted list") {
    // key-only input (the Ranking no-rider contract): rank() is a pure
    // function of the key, so the (v, rnk, drnk) multiset pins the
    // semantics as tightly as an id-keyed map would
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1)
    assert(SCTest.check(few, Prop.forAll(smallInts) { xs =>
      val df = frame("v" -> xs)
      val got = graft.ops.Ranking
        .withGlobalRanks(df, Seq("v" -> true), "rnk", "drnk")
        .collect().map(r => (r.getAs[Int]("v"),
          r.getAs[Long]("rnk").toInt, r.getAs[Long]("drnk").toInt))
        .sorted.toList
      val want = xs.map { v =>
        val rnk = 1 + xs.count(_ < v)
        val drnk = 1 + xs.filter(_ < v).distinct.size
        (v, rnk, drnk)
      }.sorted
      got == want
    }).passed, "property failed: global-ranks")
  }

  test("Ranking helpers REFUSE rider columns (the range-exchange reuse " +
      "precondition is enforced, not hoped for)") {
    val df = frame("v" -> Seq(1, 2), "id" -> Seq(0, 1), "extra" -> Seq(9, 9))
    val e1 = intercept[IllegalArgumentException](
      graft.ops.Ranking.withGlobalRanks(df, Seq("v" -> true, "id" -> true)))
    assert(e1.getMessage.contains("rider"))
    val e2 = intercept[IllegalArgumentException](
      graft.ops.Ranking.withGroupRanks(df, "v", Seq(("id", true))))
    assert(e2.getMessage.contains("rider"))
    val e3 = intercept[IllegalArgumentException](
      graft.ops.Ranking.withGroupPrefixSums(
        frame("g" -> Seq(1), "id" -> Seq(0), "v" -> Seq(1), "x" -> Seq(2)),
        "g", Seq(("id", true)), "v"))
    assert(e3.getMessage.contains("rider"))
  }

  test("withGroupPrefixSums == reference per-group running sums, any layout") {
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5).withWorkers(1)
    assert(SCTest.check(few, Prop.forAll(smallInts) { xs =>
      // group = value mod 3 → several groups, duplicate keys across them
      val df = frame("g" -> xs.map(v => math.floorMod(v, 3)),
        "id" -> xs.indices.toList, "v" -> xs.map(v => math.abs(v) + 1))
      val got = graft.ops.Ranking
        .withGroupPrefixSums(df, "g", Seq(("id", true)), "v", "i", "c")
        .collect().map(r => (r.getAs[Int]("id"),
          r.getAs[Long]("i"), r.getAs[Long]("c"))).sortBy(_._1).toList
      val want = xs.indices.groupBy(i => math.floorMod(xs(i), 3)).toList
        .flatMap { case (_, ids) =>
          val sorted = ids.sorted
          sorted.zipWithIndex.map { case (id, k) =>
            (id, (k + 1).toLong,
              sorted.take(k + 1).map(j => math.abs(xs(j)) + 1L).sum)
          }
        }.sortBy(_._1)
      got == want
    }).passed, "property failed: group-prefix-sums")
  }

  test("lineQualityCuration == reference line gates on random token streams") {
    val few = SCTest.Parameters.default.withMinSuccessfulTests(6).withWorkers(1)
    // tokens drawn from a tiny alphabet with 1-char members so every gate
    // (length, repetition, short-token mass) fires with real probability
    val tokGen = Gen.oneOf("a", "b", "spam", "ham", "word", "x")
    val textGen = Gen.chooseNum(1, 23)
      .flatMap(n => Gen.listOfN(n, tokGen)).map(_.mkString(" "))
    assert(SCTest.check(few, Prop.forAll(Gen.listOfN(4, textGen)) { texts =>
      val docs = frame("doc_id" -> texts.indices.map(_.toLong: Any),
        "text" -> texts)
      val got = graft.ops.TextAnalysis.lineQualityCuration(docs)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val want = texts.zipWithIndex.flatMap { case (t, i) =>
        val lines = t.split(" ").filter(_.nonEmpty).grouped(5).toSeq
        val kept = lines.filter { lw =>
          lw.length >= 3 && 5 * lw.distinct.length >= 4 * lw.length &&
            2 * lw.count(_.length == 1) < lw.length
        }
        if (kept.size * 4 >= lines.size * 3)
          Some(i.toLong -> ((lines.size.toLong, kept.size.toLong,
            kept.map(_.mkString(" ")).mkString(" "))))
        else None
      }.toMap
      got == want
    }).passed, "property failed: line-quality")
  }

  test("clusterPairs: connected docs share a label = their component minimum") {
    // iterative Spark jobs per case — keep the case count small
    val few = SCTest.Parameters.default.withMinSuccessfulTests(3).withWorkers(1)
    assert(SCTest.check(few, Prop.forAll(
      Gen.listOfN(6, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))) { es =>
      val pairs = es.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      pairs.isEmpty || {
        val df = frame("id_a" -> pairs.map(_._1), "id_b" -> pairs.map(_._2))
        // rounds = edge count bounds any component diameter → exact
        val got = graft.ops.Dedup.clusterPairs(df, rounds = 6).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference union-find on the driver
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = { val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r } }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
        val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val comp = nodes.groupBy(find).map { case (_, ns) => ns.toSet -> ns.min }
        comp.forall { case (ns, mn) => ns.forall(n => got(n) == mn) }
      }
    }).passed, "property failed: clusters")
  }

  test("clusterPairs: after r rounds every label = the minimum id within r hops") {
    // a shuffled-id path longer than any tested round count, plus random
    // chords: labels have NOT converged, so each round's exact reach shows
    val few = SCTest.Parameters.default.withMinSuccessfulTests(2).withWorkers(1)
    val graphs = for {
      ids <- Gen.pick(8, 0L to 19L).map(_.toList)
      keys <- Gen.listOfN(8, Gen.chooseNum(0, 1 << 20))
      order = ids.zip(keys).sortBy(_._2).map(_._1)
      chords <- Gen.listOfN(2, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
    } yield (order.zip(order.tail) ++ chords).filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    assert(SCTest.check(few, Prop.forAll(graphs) { pairs =>
      val df = frame("id_a" -> pairs.map(_._1), "id_b" -> pairs.map(_._2))
      val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
        .map { case (v, es) => v -> es.map(_._2) }
      // reference: breadth-first search on the driver
      def reach(v: Long, hops: Int): Set[Long] =
        (1 to hops).foldLeft((Set(v), Set(v))) { case ((seen, front), _) =>
          val next = front.flatMap(adj).diff(seen)
          (seen ++ next, next)
        }._1
      (1 to 3).forall { r =>
        val got = graft.ops.Dedup.clusterPairs(df, rounds = r).collect()
          .map(row => row.getLong(0) -> row.getLong(1)).toMap
        got.keySet == adj.keySet &&
          adj.keySet.forall(v => got(v) == reach(v, r).min)
      }
    }).passed, "property failed: per-round labels")
  }

  test("redact is idempotent (placeholders never re-match a pattern)") {
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "mail a@b.co and c.d+x@e-f.org now",
      "go to https://x.y/z?id=1234567 or http://q.r",
      "ids 123456 9999999999 nested http://a.b/c@d.ee 42",
      "clean text with no sensitive content at all")
    val df = frame("doc_id" -> texts.indices.map(_.toLong), "text" -> texts)
    val once = graft.ops.TextAnalysis.redact(df)
      .select(col("doc_id"), col("redacted").as("text"))
    val twice = graft.ops.TextAnalysis.redact(once)
    val rows = twice.orderBy("doc_id").collect()
    // second pass finds nothing and changes nothing
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L),
      rows.mkString("; "))
    assert(rows.map(_.getAs[String]("redacted")).toSeq ==
      once.orderBy("doc_id").collect().map(_.getAs[String]("text")).toSeq)
  }

  test("repetition == naive per-doc 2-gram counting") {
    check("repetition", Prop.forAll(Gen.listOfN(6,
        Gen.chooseNum(0, 8).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab"))))) { docs =>
      val df = frame(
        "doc_id" -> docs.indices.map(_.toLong),
        "text" -> docs.map(_.mkString(" ")))
      val got = graft.ops.TextAnalysis.repetition(df).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      docs.zipWithIndex.forall { case (toks, i) =>
        // split(" ") of "" yields one empty token — mirror that
        val ts = docs(i).mkString(" ").split(" ", -1).toSeq
        if (ts.size < 2) !got.contains(i.toLong)
        else {
          val grams = ts.sliding(2).map(_.mkString(" ")).toSeq
          val counts = grams.groupBy(identity).map(_._2.size)
          got(i.toLong) == ((counts.max.toLong, grams.size.toLong))
        }
      }
    })
  }

  /** Random event frames for the behavioral-analytics invariants. */
  private val eventGen: Gen[List[(Long, String, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    rows <- Gen.listOfN(n, for {
      u <- Gen.chooseNum(1L, 5L)
      t <- Gen.oneOf("a", "b", "c")
      ts <- Gen.chooseNum(0L, 2000L)
    } yield (u, t, ts))
  } yield rows

  private def eventFrame(rows: List[(Long, String, Long)]) = frame(
    "user_id" -> rows.map(_._1),
    "event_type" -> rows.map(_._2),
    "ts_ns" -> rows.map(_._3 * 1000000000L),
    "event_id" -> rows.indices.map(_.toLong))

  test("funnel counts are non-increasing; step 1 == distinct first-step " +
      "users; horizon never increases any stage") {
    check("funnel-mono", Prop.forAll(eventGen) { rows =>
      val ev = eventFrame(rows)
      val steps = Seq("a", "b", "c")
      val ns = graft.ops.EventAnalytics.funnel(ev, steps)
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      val nsH = graft.ops.EventAnalytics.funnelWithin(ev, steps, 500L)
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      val ns1 = graft.ops.EventAnalytics.funnelOnePass(ev, steps)
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      val ns1H = graft.ops.EventAnalytics.funnelOnePass(ev, steps, Some(500L))
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      val firstUsers = rows.filter(_._2 == "a").map(_._1).distinct.size.toLong
      ns.zip(ns.tail).forall { case (a, b) => a >= b } &&
        ns.head == firstUsers &&
        nsH.zip(ns).forall { case (h, u) => h <= u } &&
        nsH.head == ns.head &&
        ns1 == ns && ns1H == nsH // one-pass fold == chained-min, both forms
    })
  }

  test("transitionMatrix: per-user pair conservation and row-stochastic p") {
    check("transitions", Prop.forAll(eventGen) { rows =>
      val m = graft.ops.EventAnalytics.transitionMatrix(eventFrame(rows))
        .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
      val nPairs = rows.groupBy(_._1).values.map(g => (g.size - 1).toLong).sum
      m.map(_._2).sum == nPairs &&
        m.groupBy(_._1).values.forall { g =>
          math.abs(g.map(_._3).sum - 1.0) < 1e-4 // rounded p per from-type
        }
    })
  }

  test("retentionCohorts: offset-0 cells are the cohort sizes; actives " +
      "never exceed them; user-cell conservation") {
    check("retention", Prop.forAll(eventGen) { rows =>
      val out = graft.ops.EventAnalytics
        .retentionCohorts(eventFrame(rows), periodSec = 100L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      out.filter(_._2 == 0L).forall(c => c._3 == c._4) &&
        out.forall(c => c._3 <= c._4) &&
        out.filter(_._2 == 0L).map(_._3).sum ==
          rows.map(_._1).distinct.size.toLong
    })
  }

  test("covariance is symmetric with non-negative diagonal on random " +
      "vectors; merged moments equal monolithic on any split") {
    val vecGen = for {
      n <- Gen.chooseNum(2, 10)
      d <- Gen.chooseNum(1, 4)
      vs <- Gen.listOfN(n, Gen.listOfN(d, Gen.chooseNum(-100, 100)))
    } yield vs.map(_.map(_ / 10.0))
    check("cov", Prop.forAll(vecGen) { vs =>
      import spark.implicits._
      val emb = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val cov = graft.ops.Pca.covariance(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val halves = Seq(0, 1).map(k => graft.ops.Pca.moments(
        emb.filter(col("vec_id") % 2 === k)))
      val merged = graft.ops.Pca.covarianceFromMoments(
        graft.ops.Pca.mergeMoments(halves)).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      cov.forall { case ((i, j), v) => cov((j, i)) == v } &&
        cov.forall { case ((i, j), v) => i != j || v >= 0.0 } &&
        merged == cov
    })
  }

  test("ewmaDaily: windowDays=1 degenerates to cnt/2; ewma bounded by " +
      "window total; per-type counts conserved") {
    check("ewma", Prop.forAll(eventGen) { rows =>
      val ev = eventFrame(rows)
      val w1 = graft.ops.EventAnalytics.ewmaDaily(ev, windowDays = 1)
        .collect()
      val w5 = graft.ops.EventAnalytics.ewmaDaily(ev, windowDays = 5)
        .collect()
      w1.forall(r => r.getDouble(3) == r.getLong(2).toDouble / 2.0) &&
        w5.forall(r => r.getDouble(3) > 0.0) &&
        w5.map(_.getLong(2)).sum == rows.size.toLong
    })
  }

  test("topPaths: total path count = sum over users of max(0, n_i - 2); " +
      "segmented funnel partitions the plain funnel") {
    check("paths", Prop.forAll(eventGen) { rows =>
      val ev = eventFrame(rows)
      val total = graft.ops.EventAnalytics.topPaths(ev, k = 1000)
        .collect().map(_.getLong(3)).sum
      val expect = rows.groupBy(_._1).values
        .map(g => math.max(0, g.size - 2).toLong).sum
      val steps = Seq("a", "b")
      val seg = graft.ops.EventAnalytics
        .funnelByVariant(ev, steps, nVariants = 2, salt = "p")
        .collect().groupBy(_.getLong(1))
        .map { case (s, rs) => s -> rs.map(_.getLong(3)).sum }
      val whole = graft.ops.EventAnalytics.funnel(ev, steps)
        .collect().map(r => r.getLong(0) -> r.getLong(2))
        .filter(_._2 > 0).toMap
      total == expect && seg == whole
    })
  }

  test("sessionSummary: event conservation and session-count sanity " +
      "against the sessionizer") {
    check("sessions", Prop.forAll(eventGen) { rows =>
      val ev = eventFrame(rows)
      val summary = graft.ops.EventWindows.sessionSummary(ev, 300L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      val raw = rows.groupBy(_._1).map { case (u, g) => u -> g.size.toLong }
      summary.view.mapValues(_._2).toMap == raw &&
        summary.forall { case (_, (nSess, nEv)) => nSess >= 1 && nSess <= nEv }
    })
  }

  test("kaplanMeier: survival in [0,1] and non-increasing; user mass " +
      "conserved; full at-risk pool at the first time") {
    // eventGen's ts are re-read as DAYS (x86400e9) so lifetimes and the
    // censor boundary actually vary; censorDays=100 mixes churned and
    // censored outcomes across the 0..2000-day span
    def kmFrame(rows: List[(Long, String, Long)]) = frame(
      "user_id" -> rows.map(_._1),
      "ts_ns" -> rows.map(_._3 * 86400L * 1000000000L))
    check("km", Prop.forAll(eventGen) { rows =>
      val out = graft.ops.Survival.kaplanMeier(kmFrame(rows), 100L)
        .orderBy(col("t_days")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4)))
      val nUsers = rows.map(_._1).distinct.size.toLong
      val surv = out.map(_._5)
      out.map(r => r._3 + r._4).sum == nUsers &&
        out.head._2 == nUsers &&
        surv.forall(s => s >= 0.0 && s <= 1.0) &&
        surv.zip(surv.drop(1)).forall { case (a, b) => b <= a }
    })
  }

  test("triangleStats == brute-force census on random small graphs") {
    val edgeGen: Gen[List[(Long, Long)]] = Gen.chooseNum(1, 15).flatMap(n =>
      Gen.listOfN(n, for {
        a <- Gen.chooseNum(1L, 7L); b <- Gen.chooseNum(1L, 7L) if a != b
      } yield (math.min(a, b), math.max(a, b)))).map(_.distinct)
    check("triangles", Prop.forAll(edgeGen) { es0 =>
      val es = es0.distinct // gen yields >= 1 edge; distinct keeps >= 1
      val r = graft.ops.Graphs.triangleStats(frame(
        "part_a" -> es.map(_._1), "part_b" -> es.map(_._2))).collect()(0)
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val set = es.toSet
      val tri = nodes.combinations(3).count { c =>
        val Seq(x, y, z) = c.sorted
        set((x, y)) && set((x, z)) && set((y, z))
      }
      val deg = nodes.map(n => es.count(e => e._1 == n || e._2 == n))
      val wedges = deg.map(d => d.toLong * (d - 1) / 2).sum
      r.getLong(0) == nodes.size.toLong && r.getLong(1) == es.size.toLong &&
        r.getLong(2) == wedges && r.getLong(3) == tri.toLong
    })
  }

  test("ksTest: d in [0,1], symmetric in the two samples, 0 on equal " +
      "samples") {
    val valsGen = Gen.chooseNum(1, 15).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 9).map(_.toDouble)))
    check("ks", Prop.forAll(valsGen, valsGen) { (a, b) =>
      def run(x: Seq[Double], y: Seq[Double]) = graft.ops.Stats.ksTest(
        frame("g" -> (x.map(_ => "A") ++ y.map(_ => "B")),
          "v" -> (x ++ y)), "g", "v", "A", "B").collect()(0).getDouble(4)
      val d = run(a, b)
      d >= 0.0 && d <= 1.0 && d == run(b, a) && run(a, a) == 0.0
    })
  }

  test("chiSquare: non-negative, symmetric under column swap, dof from " +
      "the marginals") {
    val pairGen = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.oneOf("x", "y", "z"); b <- Gen.oneOf("u", "v")
    } yield (a, b)))
    check("chi2", Prop.forAll(pairGen) { ps =>
      val df = frame("a" -> ps.map(_._1), "b" -> ps.map(_._2))
      val r1 = graft.ops.Stats.chiSquare(df, "a", "b").collect()(0)
      val r2 = graft.ops.Stats.chiSquare(df, "b", "a").collect()(0)
      r1.getDouble(4) >= 0.0 && r1.getDouble(4) == r2.getDouble(4) &&
        r1.getLong(3) == (r1.getLong(1) - 1) * (r1.getLong(2) - 1)
    })
  }

  test("scd2History: intervals chain per key, exactly one current row, " +
      "no consecutive equal values") {
    check("scd2", Prop.forAll(eventGen) { rows =>
      val out = graft.ops.EventAnalytics.scd2History(
        eventFrame(rows), "user_id", "event_type", "ts_ns", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) Long.MaxValue else r.getLong(3),
          r.getBoolean(4)))
        .groupBy(_._1)
      out.values.forall { ivs0 =>
        val ivs = ivs0.sortBy(_._3)
        ivs.count(_._5) == 1 && ivs.last._5 &&
          ivs.zip(ivs.drop(1)).forall { case (p, n) =>
            p._4 == n._3 && p._2 != n._2
          }
      }
    })
  }

  test("keySkewAudit: gini in [0,1), exact on uniform and two-level " +
      "frequency mixes") {
    val keysGen = Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 6L)))
    check("gini", Prop.forAll(keysGen) { ks =>
      val r = graft.ops.Skew.keySkewAudit(frame("k" -> ks), "k").collect()(0)
      val freq = ks.groupBy(identity).values.map(_.size.toLong).toSeq
      val sorted = freq.sorted
      val kk = sorted.size.toLong
      val nn = sorted.sum
      val s = sorted.zipWithIndex.map { case (f, i) => (i + 1) * f }.sum
      val gini = (2.0 * s - (kk + 1) * nn) / (kk.toDouble * nn)
      r.getLong(1) == nn && r.getLong(2) == kk &&
        r.getDouble(6) >= 0.0 && r.getDouble(6) < 1.0 &&
        r.getDouble(6) == BigDecimal(gini)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    })
  }

  private def levRef(a: String, b: String): Int = {
    val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
        m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    m(a.length)(b.length)
  }

  test("fuzzyJoin == all-pairs brute force on random low-alphabet " +
      "strings (the prefix-filter losslessness claim, stress-tested)") {
    val strGen = Gen.chooseNum(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val listGen = Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, strGen))
    check("fuzzy-brute", Prop.forAll(listGen) { ss =>
      val ids = ss.indices.map(i => (i + 1).toLong)
      val df = frame("id" -> ids, "nm" -> ss)
      val got = graft.ops.Dedup.fuzzyJoin(df, "id", "nm", q = 2,
          maxDist = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // contract: strings with <= q*d distinct grams are excluded
      // (below that, ed<=d pairs can share zero grams — "aba"/"aca")
      def ok(s: String) = s.length >= 2 && s.sliding(2).toSet.size > 2
      val rows = ids.zip(ss)
      val brute = (for {
        (i1, s1) <- rows; (i2, s2) <- rows
        if i1 < i2 && ok(s1) && ok(s2)
        d = levRef(s1, s2) if d <= 1
      } yield (i1, i2, d.toLong)).toSet
      got == brute
    })
  }

  test("skyline2d == brute-force dominance filter on random points") {
    val ptsGen = Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, for {
      q <- Gen.chooseNum(1L, 6L); p <- Gen.chooseNum(1L, 9L)
    } yield (q, p)))
    check("skyline-brute", Prop.forAll(ptsGen) { pts =>
      val df = frame("q" -> pts.map(_._1), "p" -> pts.map(_._2))
      val got = graft.ops.Selection.skyline2d(df, col("q"), col("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val brute = pts.distinct.filterNot { case (q0, p0) =>
        pts.exists { case (q1, p1) =>
          q1 >= q0 && p1 <= p0 && (q1 > q0 || p1 < p0) }
      }.map { case (q0, p0) =>
        (q0, p0, pts.count(_ == ((q0, p0))).toLong) }.toSet
      got == brute
    })
  }

  test("exactKth == sorted-list kth on random values and random k") {
    val g = for {
      xs <- Gen.chooseNum(1, 25).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
      k <- Gen.chooseNum(1, xs.length)
    } yield (xs, k)
    check("kth-brute", Prop.forAll(g) { case (xs, k) =>
      val r = graft.ops.Selection.exactKth(frame("v" -> xs), col("v"),
        _ => k.toLong, buckets = 4).collect()(0)
      r.getLong(2) == xs.sorted.apply(k - 1)
    })
  }

  private def dailyFrame(counts: List[Int], t: String = "A") = {
    val ts = counts.zipWithIndex.flatMap { case (c, d) =>
      (1L to c.toLong).map(i => d * 86400L * 1000000000L + i) }
    frame("user_id" -> Seq.fill(ts.length)(1L),
      "event_type" -> Seq.fill(ts.length)(t), "ts_ns" -> ts,
      "event_id" -> (1L to ts.length.toLong))
  }

  private val countsGen: Gen[List[Int]] =
    Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1, 9)))

  test("acfDaily: |r_k| <= 1; r matches the exact-integer reference") {
    check("acf", Prop.forAll(countsGen) { ys0 =>
      val ys = ys0.map(_.toLong)
      val out = graft.ops.EventAnalytics
        .acfDaily(dailyFrame(ys0), maxLag = 3).collect()
      val n = ys.length.toLong
      val s = ys.sum; val q = ys.map(y => y * y).sum
      val den = n * n * q - n * s * s
      out.forall { r =>
        val k = r.getLong(1).toInt
        val win = ys.indices.dropRight(k)
        val a = win.map(t => ys(t) * ys(t + k)).sum
        val bx = win.map(ys).sum
        val cy = win.map(t => ys(t + k)).sum
        val m = win.length.toLong
        val num = n * n * a - n * s * (bx + cy) + m * s * s
        if (den == 0) r.isNullAt(3)
        else {
          val v = r.getDouble(3)
          v == num.toDouble / den.toDouble && math.abs(v) <= 1.0 + 1e-9
        }
      }
    })
  }

  test("cusumDaily: non-negative excursions, alarms bounded, exact " +
      "moment params") {
    check("cusum", Prop.forAll(countsGen) { ys =>
      val r = graft.ops.EventAnalytics.cusumDaily(dailyFrame(ys))
        .collect()(0)
      val n = ys.length
      val s = ys.map(_.toLong).sum.toDouble
      val q = ys.map(y => y.toLong * y).sum.toDouble
      r.getDouble(2) == s / n &&
        r.getDouble(3) == math.sqrt(math.max(0.0, (q - s * s / n) / n)) &&
        r.getDouble(4) >= 0.0 && r.getDouble(5) >= 0.0 &&
        r.getDouble(6) >= r.getDouble(4) - 1e-12 &&
        r.getLong(8) >= 0L && r.getLong(8) <= n.toLong
    })
  }

  test("theilSen: median within pairwise-slope range; exact on linear " +
      "series") {
    check("theilsen", Prop.forAll(countsGen) { ys =>
      val out = graft.ops.EventAnalytics.theilSen(dailyFrame(ys))
        .collect()(0)
      val slopes = for {
        i <- ys.indices; j <- ys.indices if j > i
      } yield (ys(j) - ys(i)).toDouble / (j - i).toDouble
      out.getLong(2) == slopes.length.toLong &&
        out.getDouble(3) >= slopes.min && out.getDouble(3) <= slopes.max
    })
    // strictly linear: y = 2 + 1*t -> slope exactly 1
    val lin = graft.ops.EventAnalytics
      .theilSen(dailyFrame(List(2, 3, 4, 5, 6))).collect()(0)
    assert(lin.getDouble(3) === 1.0)
  }

  test("varianceRatio == exact-integer reference on random series") {
    check("vr", Prop.forAll(countsGen) { ys0 =>
      val ys = ys0.map(_.toLong)
      val out = graft.ops.EventAnalytics
        .varianceRatio(dailyFrame(ys0), qs = Seq(2, 3)).collect()
      val n = ys.length.toLong
      val s = ys.sum; val qq = ys.map(y => y * y).sum
      val dbase = n * qq - s * s
      out.forall { r =>
        val q = r.getLong(1)
        val blocks = ys.grouped(q.toInt).filter(_.length == q).toList
        val z = blocks.map(_.sum)
        val m = z.length.toLong
        val sz = z.sum; val qz = z.map(x => x * x).sum
        val num = n * n * (m * qz - sz * sz)
        val den = q * m * m * dbase
        r.getLong(3) == m &&
          (if (den == 0) r.isNullAt(4)
           else r.getDouble(4) == num.toDouble / den.toDouble)
      }
    })
  }

  test("holtDaily == JVM reference fold; interArrival mass conservation") {
    check("holt", Prop.forAll(countsGen) { ys =>
      val r = graft.ops.EventAnalytics.holtDaily(dailyFrame(ys))
        .collect()(0)
      var l = ys.head.toDouble; var b = 0.0
      for (y <- ys.tail.map(_.toDouble)) {
        val nl = 0.5 * y + 0.5 * (l + b)
        b = 0.5 * (nl - l) + 0.5 * b; l = nl
      }
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      r.getLong(1) == ys.length.toLong && r.getDouble(2) == r6(l) &&
        r.getDouble(3) == r6(b) && r.getDouble(4) == r6(l + b)
    })
    check("interarrival-mass", Prop.forAll(countsGen) { ys =>
      val out = graft.ops.EventAnalytics.interArrival(dailyFrame(ys))
        .collect()
      val total = ys.map(_.toLong).sum - 1 // one user, n-1 gaps
      out.map(_.getLong(2)).sum == total &&
        math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-9
    })
  }

  private def r6(x: Double) = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val pairsGen: Gen[List[(Int, Int)]] =
    Gen.chooseNum(3, 14).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(-4, 4), Gen.chooseNum(-4, 4))))

  test("spearman == doubled-midrank Pearson JVM reference on random " +
      "tied frames") {
    check("spearman", Prop.forAll(pairsGen) { ps =>
      val df = frame("x" -> ps.map(_._1.toLong), "y" -> ps.map(_._2.toLong))
      val r = graft.ops.Stats.spearman(df, col("x"), col("y")).collect()(0)
      def dmOf(vs: List[Int]): Map[Int, Long] = {
        val cnt = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        vs.distinct.sorted.map { v =>
          val before = vs.count(_ < v).toLong
          v -> (2 * before + cnt(v) + 1)
        }.toMap
      }
      val dx = dmOf(ps.map(_._1)); val dy = dmOf(ps.map(_._2))
      val n = ps.length.toLong
      val rx = ps.map(p => BigInt(dx(p._1)))
      val ry = ps.map(p => BigInt(dy(p._2)))
      val sx = rx.sum; val sy = ry.sum
      val sxx = rx.map(v => v * v).sum; val syy = ry.map(v => v * v).sum
      val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
      val num = (n * sxy - sx * sy).toDouble
      val ddx = (n * sxx - sx * sx).toDouble
      val ddy = (n * syy - sy * sy).toDouble
      r.getLong(0) == n &&
        (if (ddx > 0 && ddy > 0)
          r.getDouble(1) == r6(num / (math.sqrt(ddx) * math.sqrt(ddy)))
        else r.isNullAt(1))
    })
  }

  test("mannKendall == brute-force S/tau-b/z on random series") {
    check("mann-kendall", Prop.forAll(countsGen) { ys =>
      val df = frame("s" -> Seq.fill(ys.size)("a"),
        "d" -> (1L to ys.size).toSeq, "y" -> ys.map(_.toLong))
      val r = graft.ops.Stats.mannKendall(df, "s", "d", "y").collect()(0)
      val n = ys.length
      val s = (for { i <- 0 until n; j <- i + 1 until n }
        yield math.signum(ys(j) - ys(i))).sum.toLong
      val bigN = BigInt(n) * (n - 1)
      val tt = ys.groupBy(identity).values
        .map(g => BigInt(g.size) * (g.size - 1)).sum
      val tv = ys.groupBy(identity).values
        .map(g => BigInt(g.size) * (g.size - 1) * (2 * g.size + 5)).sum
      val bigM = bigN - tt
      val varS = (bigN * (2 * n + 5) - tv).toDouble / 18.0
      r.getLong(2) == s &&
        (if (n >= 2 && bigM.toDouble > 0)
          r.getDouble(3) == r6(2.0 * s / math.sqrt((bigN * bigM).toDouble))
        else r.isNullAt(3)) &&
        (if (n >= 2 && varS > 0)
          r.getDouble(4) == r6((s - math.signum(s.toDouble)) /
            math.sqrt(varS))
        else r.isNullAt(4))
    })
  }

  test("wasserstein1 == brute-force ECDF integral on random cohorts") {
    val twoLists = Gen.zip(
      Gen.chooseNum(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-6, 6))),
      Gen.chooseNum(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-6, 6))))
    check("wasserstein", Prop.forAll(twoLists) { case (as, bs) =>
      val df = frame(
        "g" -> (as.map(_ => "A") ++ bs.map(_ => "B")),
        "v" -> (as ++ bs).map(_.toLong))
      val r = graft.ops.Stats.wasserstein1(df, "g", col("v"), "A", "B")
        .collect()(0)
      val na = as.length.toLong; val nb = bs.length.toLong
      val vs = (as ++ bs).distinct.sorted
      var num = BigInt(0)
      for (Seq(p, v) <- vs.sliding(2) if vs.length >= 2) {
        val cpa = as.count(_ <= p).toLong; val cpb = bs.count(_ <= p).toLong
        num += (BigInt(cpa) * nb - BigInt(cpb) * na).abs * (v - p)
      }
      r.getLong(2) == na && r.getLong(3) == nb &&
        r.getDouble(4) == r6(num.toDouble / (na.toDouble * nb.toDouble))
    })
  }

  test("weightedMedian == sorted-expansion reference on random weights") {
    val wGen = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(-8, 8), Gen.chooseNum(1, 5))))
    check("weighted-median", Prop.forAll(wGen) { vw =>
      val df = frame("v" -> vw.map(_._1.toLong), "w" -> vw.map(_._2.toLong))
      val r = graft.ops.Selection.weightedMedian(df, col("v"), col("w"),
        buckets = 4).collect()(0)
      val expanded = vw.flatMap { case (v, w) => Seq.fill(w)(v) }.sorted
      val k = (expanded.length + 1) / 2
      r.getLong(0) == expanded.length.toLong && r.getLong(1) == k.toLong &&
        r.getLong(2) == expanded(k - 1).toLong
    })
  }

  test("decisionStump == brute-force argmin over all thresholds") {
    val lGen = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0, 6), Gen.oneOf(true, false))))
      .suchThat(l => l.map(_._1).distinct.size >= 2)
    check("stump", Prop.forAll(lGen) { vl =>
      val df = frame("v" -> vl.map(_._1.toLong), "y" -> vl.map(_._2))
      val r = graft.ops.Stats.decisionStump(df, col("v"), col("y"))
        .collect()(0)
      val n = vl.length.toLong; val tp = vl.count(_._2).toLong
      def aT(c: Long, p: Long): BigInt =
        BigInt(c) * c - BigInt(p) * p - BigInt(c - p) * (c - p)
      val cands = vl.map(_._1).distinct.sorted.init.map { t =>
        val cl = vl.count(_._1 <= t).toLong
        val pl = vl.count(x => x._1 <= t && x._2).toLong
        val w = (aT(cl, pl) * (n - cl) + aT(n - cl, tp - pl) * cl).toDouble /
          (BigInt(cl) * (n - cl)).toDouble
        (w, t.toLong, cl, pl)
      }
      val best = cands.minBy(c => (c._1, c._2))
      val g0 = aT(n, tp).toDouble / n.toDouble
      r.getLong(2) == best._2 && r.getDouble(3) == r6(best._1) &&
        r.getDouble(4) == r6(g0 - best._1) &&
        r.getLong(5) == best._3 && r.getLong(6) == best._4
    })
  }

  test("holtWintersDaily == JVM reference fold on random gappy series") {
    val hwGen = Gen.chooseNum(8, 18).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(0, 6))).map { l =>
      (math.max(1, l.head) +: l.tail.init) :+ math.max(1, l.last) }
    check("holt-winters", Prop.forAll(hwGen) { ys0 =>
      val ys = ys0
      // dailyFrame skips 0-count days; the op zero-fills the grid back
      val df = dailyFrame(ys)
      val out = graft.ops.EventAnalytics.holtWintersDaily(df, period = 7)
        .collect()
      if (ys.length < 8) out.isEmpty
      else {
        val r = out(0)
        val init = ys.take(7)
        val l0 = init.sum.toDouble / 7.0
        var l = l0; var b = 0.0
        val s = init.map(_.toDouble - l0).toArray
        for ((y, idx) <- ys.drop(7).zipWithIndex) {
          val slot = (idx + 7) % 7
          val sv = s(slot)
          val nl = 0.5 * (y.toDouble - sv) + 0.5 * (l + b)
          val nb = 0.5 * (nl - l) + 0.5 * b
          s(slot) = 0.5 * (y.toDouble - nl) + 0.5 * sv
          l = nl; b = nb
        }
        val sn = s(ys.length % 7)
        r.getLong(1) == ys.length.toLong && r.getDouble(2) == r6(l) &&
          r.getDouble(3) == r6(b) && r.getDouble(4) == r6(sn) &&
          r.getDouble(5) == r6(l + b + sn)
      }
    })
  }

  test("kruskalWallis is invariant under any strictly monotone value " +
      "transform (rank-based) and under group relabeling") {
    val gen = for {
      n <- Gen.chooseNum(4, 20)
      vs <- Gen.listOfN(n, Gen.chooseNum(1L, 8L))
      gs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield (vs, gs)
    check("kw-invariance", Prop.forAll(gen) { case (vs, gs) =>
      // need >= 2 distinct groups for a meaningful statistic
      gs.distinct.size < 2 || {
        val d = frame("g" -> gs, "v" -> vs)
        val base = graft.ops.Stats.kruskalWallis(d, col("g"), col("v"))
          .collect()(0)
        // strictly monotone: v -> 10v + 3 (rank order preserved)
        val mono = frame("g" -> gs, "v" -> vs.map(v => 10L * v + 3L))
        val m = graft.ops.Stats.kruskalWallis(mono, col("g"), col("v"))
          .collect()(0)
        // relabel groups (a<->c) — the statistic is label-free
        val rel = frame("g" -> gs.map {
          case "a" => "c"; case "c" => "a"; case x => x
        }, "v" -> vs)
        val r = graft.ops.Stats.kruskalWallis(rel, col("g"), col("v"))
          .collect()(0)
        base.getDouble(2) == m.getDouble(2) &&
          base.getDouble(2) == r.getDouble(2)
      }
    })
  }

  test("ppsSample inclusion is invariant under uniform weight scaling " +
      "(pure-ratio design) and the HT estimate of a constant-weight " +
      "corpus is exact") {
    val gen = for {
      n <- Gen.chooseNum(5, 25)
      ws <- Gen.listOfN(n, Gen.chooseNum(1L, 50L))
    } yield ws
    check("pps-scale-invariance", Prop.forAll(gen) { ws =>
      val ids = (1L to ws.length.toLong).toList
      val d1 = frame("id" -> ids, "w" -> ws)
      val d7 = frame("id" -> ids, "w" -> ws.map(_ * 7L))
      val a = graft.ops.Splits.ppsSample(d1, "id", "w", n = 5L, salt = "p")
        .collect()(0)
      val b = graft.ops.Splits.ppsSample(d7, "id", "w", n = 5L, salt = "p")
        .collect()(0)
      // same units sampled (counts equal); totals scale by 7
      a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2) &&
        b.getLong(3) == 7L * a.getLong(3)
    })
    // constant weights: every unit has pi = n/N exactly, HT = m*N/n
    val const = frame("id" -> (1L to 30L).toList,
      "w" -> List.fill(30)(4L))
    val r = graft.ops.Splits.ppsSample(const, "id", "w", n = 6L,
      salt = "p").collect()(0)
    val m = r.getLong(2) - r.getLong(1)
    assert(r.getDouble(4) === BigDecimal(m.toDouble * 120.0 / 6.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("zipfFit: duplicating the corpus doubles every frequency — slope " +
      "and r2 unchanged, intercept shifts by +ln 2 (to 5 dp)") {
    val texts = Seq("a a a a b b c", "d d a b")
    val one = graft.ops.TextAnalysis.zipfFit(frame("text" -> texts))
      .collect()(0)
    val two = graft.ops.TextAnalysis.zipfFit(
      frame("text" -> (texts ++ texts))).collect()(0)
    assert(one.getLong(0) === two.getLong(0))
    assert(one.getDouble(1) === two.getDouble(1), "slope invariant")
    assert(one.getDouble(3) === two.getDouble(3), "r2 invariant")
    assert(math.abs(
      two.getDouble(2) - one.getDouble(2) - math.log(2.0)) < 1e-5,
      s"intercept shift ${two.getDouble(2) - one.getDouble(2)}")
  }

  test("jsDivergence stays within [0, ln 2] and doubling both corpora " +
      "leaves it unchanged (distribution-level statistic)") {
    val gen = for {
      n <- Gen.chooseNum(1, 6)
      t1 <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
      t2 <- Gen.listOfN(n, Gen.oneOf("c", "d", "e", "f"))
    } yield (t1.mkString(" "), t2.mkString(" "))
    check("js-bounds", Prop.forAll(gen) { case (t1, t2) =>
      val d = frame("lang" -> Seq("g1", "g2"), "text" -> Seq(t1, t2))
      val js = graft.ops.TextAnalysis.jsDivergence(d).collect()(0)
        .getDouble(3)
      val dd = frame("lang" -> Seq("g1", "g2", "g1", "g2"),
        "text" -> Seq(t1, t2, t1, t2))
      val js2 = graft.ops.TextAnalysis.jsDivergence(dd).collect()(0)
        .getDouble(3)
      js >= 0.0 && js <= 0.693148 && js == js2
    })
  }

  test("trained-classifier scorers: join-based == map-only bitwise on " +
      "random corpora and random TRUNCATED weight tables") {
    // both scorers (trained table, full and truncated, and the stand-in
    // ramp) against the pure-Scala reference on arbitrary token streams;
    // a truncated table must score its absent buckets as 0
    val gen = for {
      n <- Gen.chooseNum(1, 6)
      texts <- Gen.listOfN(n, Gen.frequency(
        // NULL text included: the scorers must emit NO row for it
        1 -> Gen.const(null: String),
        5 -> Gen.chooseNum(1, 12).flatMap(m =>
          Gen.listOfN(m, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff",
            "gg", "zz9", "q1", "##")).map(_.mkString(" ")))))
      keepBucket <- Gen.chooseNum(0, 7)
    } yield (texts, keepBucket)
    import ClassifierReference.{bucket, rampWeight}
    check("scorer-reference", Prop.forAll(gen) { case (texts, keepBucket) =>
      val docs = frame(
        "doc_id" -> texts.indices.map(_.toLong: Any).toList,
        "lang" -> texts.indices.map(i =>
          if (i % 2 == 0) "en" else "de").toList,
        "text" -> texts)
      val w = graft.ops.TextAnalysis.trainHashedWeights(docs,
        col("lang") === "en", dims = 8)
      val table = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").collect().map(_.toSeq).toSeq
      def ref(weight: String => Long) = ClassifierReference.rows(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, weight)
      def trained(t: Map[Long, Long]) =
        (tok: String) => t.getOrElse(bucket(tok, 8), 0L)
      val full = rows(graft.ops.TextAnalysis
        .classifierScoreWithWeights(docs, w, dims = 8)) == ref(trained(table))
      val cut = rows(graft.ops.TextAnalysis.classifierScoreWithWeights(docs,
          w.filter(col("bucket") === keepBucket), dims = 8)) ==
        ref(trained(table.filter(_._1 == keepBucket)))
      val standIn = rows(graft.ops.TextAnalysis
        .classifierScore(docs, dims = 8)) ==
        ref(tok => rampWeight(bucket(tok, 8)))
      full && cut && standIn
    })
  }
}
