package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

/** The x244 contract: trained hashed-feature weights are a REAL
  * persistable artifact — write them to parquet, read them back, score
  * through the loaded table, and the result is bit-identical to scoring
  * through the in-memory trained frame. Plus shape parity with the x130
  * stand-in scorer (same output columns, same keep rule semantics).
  */
class ClassifierSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("trainHashedWeights -> parquet -> classifierScoreWithWeights " +
      "round-trips bit-identically; weight table is dims-bounded and " +
      "micro-quantized into [-1e6, 1e6]") {
    val docs = Tables.documents(spark, dir)
    val w = TextAnalysis.trainHashedWeights(docs, col("lang") === "en",
      dims = 32)
    val rows = w.collect()
    assert(rows.length <= 32 && rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getLong(1)) <= 1000000L),
      "weights must be micro-quantized centered rates")
    // both vote directions must exist on this corpus or the score sum
    // below proves nothing
    assert(rows.exists(_.getLong(1) > 0) && rows.exists(_.getLong(1) < 0))

    val tmp = java.nio.file.Files.createTempDirectory("graft_w").toString
    try {
      w.write.mode("overwrite").parquet(tmp)
      val loaded = spark.read.parquet(tmp)
      val direct = TextAnalysis.classifierScoreWithWeights(docs, w, dims = 32)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaParquet = TextAnalysis
        .classifierScoreWithWeights(docs, loaded, dims = 32)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(direct === viaParquet,
        "scoring via parquet-loaded weights must be bit-identical")
      assert(direct.nonEmpty)
      // and bit-identical to the pure-Scala reference scorer over the
      // trained table
      val table = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = ClassifierReference.rows(
        docs.select("doc_id", "text").orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq,
        tok => table.getOrElse(ClassifierReference.bucket(tok, 32), 0L))
      assert(direct === ref, "scorer diverges from the Scala reference")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
  }

  test("classifierScoreWithWeights has the x130 output shape and its " +
      "keep rule: keep == (score >= 0); unseen buckets score 0 via the " +
      "left join") {
    val docs = Tables.documents(spark, dir)
    val w = TextAnalysis.trainHashedWeights(docs, col("lang") === "en",
      dims = 32)
    val scored = TextAnalysis.classifierScoreWithWeights(docs, w, dims = 32)
    assert(scored.columns.toSeq ===
      Seq("doc_id", "n_tokens", "score", "prob", "keep"))
    val r = scored.collect()
    // keep reads the RAW integer sum's sign (the x130 convention); the
    // score is that sum r6-rounded per token, so a tiny negative sum can
    // round to score == 0.0 while keep is false. Gate the two unambiguous
    // sides and leave the score == 0 boundary unconstrained.
    assert(r.forall(x => x.getDouble(2) <= 0.0 || x.getBoolean(4)),
      "positive score must keep")
    assert(r.forall(x => x.getDouble(2) >= 0.0 || !x.getBoolean(4)),
      "negative score must drop")
    // a doc whose tokens all hash to buckets ABSENT from a truncated
    // weight table scores exactly 0 and keeps (the graceful-degradation
    // contract for train/serve vocabulary shift)
    val someBucketless = TextAnalysis.classifierScoreWithWeights(
      docs, w.filter(col("bucket") < 0), dims = 32).collect()
    assert(someBucketless.forall(x =>
      x.getDouble(2) === 0.0 && x.getBoolean(4)))
  }

  test("pipeline model gate (planted): trained classifier drops exactly " +
      "the negative-class docs, funnel attributes them as n_model, ledger " +
      "partition proof extends through the gate") {
    import graft.ops.Pipeline
    // planted separation: class-A docs are dominated by one marker token
    // and labeled positive, class-B by another and labeled negative —
    // the marker bucket's trained rate is ~1 (resp. ~0) vs the 0.5 base,
    // so every A doc sums positive and every B doc negative regardless
    // of where the one-off filler tokens hash. 5/10 distinct tokens per
    // doc keeps quality = 0.5 > 0.3 (the gate under test is the MODEL).
    val aIds = (1L to 6L)
    val bIds = (11L to 16L)
    def aText(i: Long) = s"good good good good good good ua$i pa$i qa$i ra$i"
    def bText(i: Long) = s"bad bad bad bad bad bad ub$i pb$i qb$i rb$i"
    val docs = frame(
      "doc_id" -> (aIds ++ bIds).map(x => x: Any),
      "source" -> (aIds.map(_ => "sa") ++ bIds.map(_ => "sb")),
      "lbl" -> (aIds.map(_ => true) ++ bIds.map(_ => false)).map(x => x: Any),
      "text" -> (aIds.map(aText) ++ bIds.map(bText)))
    val evalSet = frame("doc_id" -> Seq[Any](99L),
      "text" -> Seq("held out benchmark sentence sharing absolutely nothing"))
    val w = TextAnalysis.trainHashedWeights(docs, col("lbl"), dims = 32)

    // (1) the gate stage is exactly the classifier's keep set = class A
    val stages = Pipeline.curateStages(docs, evalSet,
      classifierWeights = Some(w), classifierDims = 32).toMap
    val gateIds = stages("model_kept").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gateIds == aIds.toSet, s"gate kept $gateIds")
    val keepIds = TextAnalysis.classifierScoreWithWeights(docs, w, dims = 32)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gateIds == keepIds, "gate must equal the scorer's keep set")

    // (2) funnel: n_model column present and correct per source; the
    //     no-gate funnel does NOT grow the column
    val f = Pipeline.curationFunnel(docs, evalSet,
        classifierWeights = Some(w), classifierDims = 32)
      .orderBy("source").collect()
    assert(f.map(_.getString(0)).toSeq == Seq("sa", "sb"))
    val fa = f(0); val fb = f(1)
    assert(fa.getLong(1) == 6L && fa.getLong(2) == 6L, s"sa row: $fa")
    assert(fb.getLong(1) == 6L && fb.getLong(2) == 0L, s"sb row: $fb")
    assert(!Pipeline.curationFunnel(docs, evalSet).columns.contains("n_model"))

    // (3) ledger: every class-B doc dropped with reason 'model', no
    //     keeper; ledger ∪ survivors still partitions the input exactly
    val ledger = Pipeline.curationLedger(docs, evalSet,
        classifierWeights = Some(w), classifierDims = 32).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    val modelDrops = ledger.filter(_._2 == "model")
    assert(modelDrops.map(_._1).toSet == bIds.toSet, s"$modelDrops")
    assert(modelDrops.forall(_._3 == -1L), "model drops carry no keeper")
    val survivors = Pipeline.curate(docs, evalSet,
        classifierWeights = Some(w), classifierDims = 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = ledger.map(_._1).toSet
    assert((dropped & survivors).isEmpty &&
      (dropped ++ survivors) == (aIds ++ bIds).toSet,
      s"not a partition: dropped=$dropped survivors=$survivors")

    // (3b) status view: class-B docs read 'model', nothing else does,
    //      and the no-gate status never emits the reason
    val status = Pipeline.curationStatus(docs, evalSet,
        classifierWeights = Some(w), classifierDims = 32)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bIds.forall(status(_) == "model"), s"$status")
    assert(aIds.forall(status(_) != "model"), s"$status")
    assert(!Pipeline.curationStatus(docs, evalSet).collect()
      .exists(_.getString(1) == "model"))

    // (4) the INCREMENTAL path gates too: appendCurated with the same
    //     weights accepts only class-A newcomers against a disjoint
    //     corpus (the daily-crawl twin of the curateStages gate)
    val corpus = frame(
      "doc_id" -> Seq[Any](100L),
      "text" -> Seq("an established corpus document entirely unrelated here"))
    val accepted = Pipeline.appendCurated(corpus, docs, evalSet,
        classifierWeights = Some(w), classifierDims = 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == aIds.toSet, s"append accepted $accepted")
  }

  test("calibrated model gate (x253): the isotonic fit over the TRAINED " +
      "scorer's bins is non-decreasing, and classifierKeepBin keeps " +
      "exactly the docs whose prob bin clears the fitted threshold") {
    // sf0.01: the smallest SF where some fitted bin clears 0.5 (the
    // sf0.001 slice is all-below-threshold, which would gate nothing)
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val w = TextAnalysis.trainHashedWeights(docs, col("lang") === "en",
      dims = 32)
    val fit = TextAnalysis.isotonicFitBins(
        TextAnalysis.trainedScoreCalibration(corpus, w,
          col("lang") === "en", dims = 32, bins = 10))
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(4)))
    assert(fit.nonEmpty)
    assert(fit.sliding(2).forall(p =>
        p.length < 2 || p(0)._2 <= p(1)._2),
      s"isotonic fit must be non-decreasing: ${fit.toSeq}")
    val kb = fit.filter(_._2 >= 0.5).map(_._1).min
    graft.ops.StageCache.clear()
    val gated = graft.ops.Pipeline.curateStages(corpus,
        docs.filter(col("doc_id") % 97 === 0),
        classifierWeights = Some(w), classifierDims = 32,
        classifierKeepBin = Some(kb)).toMap.apply("model_kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = TextAnalysis.classifierScoreWithWeights(corpus, w, dims = 32)
      .filter(least(floor(col("prob") * 10), lit(9L)).cast("long") >= kb)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated == expect,
      s"gate diverges: extra=${gated -- expect} missing=${expect -- gated}")
    assert(gated.nonEmpty && gated.size < corpus.count(),
      "fixture must gate a strict subset")
  }
}
