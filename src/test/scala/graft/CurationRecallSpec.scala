package graft

import graft.ops.{Checkpoints, Dedup, Pipeline}
import org.apache.spark.sql.functions._

/** Round-14 gates:
  *
  *   1. The banding RECALL gate behind the pipeline's default LSH shape
  *      (8 bands × 2 rows): measured against exact all-pairs shingle-set
  *      Jaccard ground truth on a planted corpus, the default candidate
  *      generator must catch the large majority of true >= 0.5-Jaccard
  *      pairs — and strictly more than the old 2 × 4 default, whose
  *      ~12% catch rate at the threshold was the round-13 verdict's one
  *      `weak` finding. Deterministic: fixed corpus (sf0.001), fixed
  *      minhash constants, exact truth.
  *   2. The reliable-checkpoint fail-fast gate (round-13 incident
  *      class): a session that declares the correctness posture
  *      (graft.checkpoints.requireReliable) must get an exception, not
  *      a silent localCheckpoint fallback, when no checkpoint dir is
  *      set.
  *   3. A concurrent jaccard-family probe: the x64 banding-precision
  *      query (the one-off round-13 incident site) re-run concurrently
  *      from many threads must agree with its solo result — the
  *      in-suite regression probe for inconsistent reads of
  *      materialized dedup state under contention; x61's append path
  *      gets the same probe.
  */
class CurationRecallSpec extends SparkSuite {

  /** The x243 planting: one prefix variant per every-5th doc, token
    * fraction picked by doc_id % 4 (0.9 / 0.7 / 0.5 / 0.3). */
  private def planted = {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text"))
    val toPlant = base.filter(col("doc_id") % 5 === 1)
      .select(col("doc_id"), split(col("text"), " ").as("a"),
        (col("doc_id") % 4).as("_i"))
    val f = when(col("_i") === 0, 0.9).when(col("_i") === 1, 0.7)
      .when(col("_i") === 2, 0.5).otherwise(0.3)
    val variants = toPlant.select(
      (col("doc_id") + (col("_i") + 1) * lit(100000000L)).as("doc_id"),
      concat_ws(" ", slice(col("a"), lit(1),
        greatest(lit(1), ceil(size(col("a")) * f).cast("int"))))
        .as("text"))
    base.unionByName(variants)
  }

  /** Exact all-pairs SHINGLE-set Jaccard >= minJ ground truth (test-only
    * brute force). Shingle space is what the minhash signatures sketch,
    * so banding recall is defined against it: the catch probability for
    * a pair at shingle-Jaccard s is 1 − (1 − s^rows)^bands. (Token-set
    * Jaccard is the wrong truth here: this synthetic corpus draws from a
    * small shared vocabulary, so most UNRELATED doc pairs clear 0.5 on
    * token sets while sharing no 5-gram — and the pipeline's own
    * deletion gate prices exactly the band-colliding candidates.) */
  private def truePairs(docs: org.apache.spark.sql.DataFrame,
      minJ: Double) = {
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(Dedup.shingles(col("text")))).as("tok"))
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    toks.select(col("doc_id").as("id_a"), col("tok"))
      .join(toks.select(col("doc_id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sza")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("szb")), "id_b")
      .filter(col("inter").cast("double")
        / (col("sza") + col("szb") - col("inter")).cast("double") >= minJ)
      .select(col("id_a"), col("id_b"))
  }

  test("banding recall gate: the default 8x2 candidate generator catches " +
      ">= 90% of ALL true J>=0.5 pairs on the planted corpus, and " +
      "strictly more than the old 2x4 shape") {
    val docs = planted.cache()
    val truth = truePairs(docs, 0.5).cache()
    try {
      val nTrue = truth.count()
      assert(nTrue >= 30L, s"fixture too small to gate on: $nTrue pairs")
      def recallOf(bands: Int, rpb: Int): Double = {
        val cand = Dedup.lshCandidatePairs(docs, bands, rpb)
          .select(col("id_a"), col("id_b"))
        val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi").count()
        hit.toDouble / nTrue
      }
      val newRecall = recallOf(Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
      val oldRecall = recallOf(2, 4)
      info(f"true pairs=$nTrue%d  recall(8x2)=$newRecall%.3f  recall(2x4)=$oldRecall%.3f")
      assert(newRecall >= 0.90,
        f"default banding recall $newRecall%.3f below the 0.90 gate")
      assert(newRecall > oldRecall,
        f"8x2 ($newRecall%.3f) must beat 2x4 ($oldRecall%.3f)")
    } finally {
      truth.unpersist()
      docs.unpersist()
    }
  }

  test("Checkpoints.materialize fails FAST (no localCheckpoint fallback) " +
      "when the session demands reliable checkpoints but no dir is set") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite precondition: shared test session has no checkpoint dir")
    val df = frame("x" -> Seq(1, 2, 3))
    spark.conf.set(Checkpoints.RequireReliableKey, "true")
    try {
      val e = intercept[IllegalStateException] { Checkpoints.materialize(df) }
      assert(e.getMessage.contains("RELIABLE"))
    } finally spark.conf.unset(Checkpoints.RequireReliableKey)
    // flag off -> the dev-mode localCheckpoint fallback still works
    assert(Checkpoints.materialize(df).count() === 3L)
  }

  /** Runs query `name` solo, then from 8 threads at once: every
    * concurrent run must agree with the solo result. */
  private def concurrentProbe(name: String): Unit = {
    val dir = "/root/testdata/sf0.001"
    val build = SparkEntry.queries(name)
    val solo = build(spark, dir).collect().map(_.toSeq).toSeq
    assert(solo.nonEmpty)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val results = Await.result(
      Future.sequence((1 to 8).map(_ => Future {
        build(spark, dir).collect().map(_.toSeq).toSeq
      })), 10.minutes)
    results.zipWithIndex.foreach { case (r, i) =>
      assert(r === solo, s"concurrent run $i diverged from solo $name")
    }
  }

  test("concurrent jaccard-family probe: x64 run from 8 threads at once " +
      "agrees with its solo result (round-13 incident regression)") {
    concurrentProbe("x64_banding_precision")
  }

  test("Checkpoints.scratch: equal frames get their own cache entries, " +
      "so one caller's unpersist leaves the other's in place") {
    val df = frame("x" -> Seq(1, 2, 3))
    val a = Checkpoints.scratch(df)
    val b = Checkpoints.scratch(df)
    try {
      a.unpersist(blocking = true)
      assert(b.storageLevel ===
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assert(b.drop(Checkpoints.ScratchCol).collect().map(_.getInt(0))
        .sorted.toSeq === Seq(1, 2, 3))
    } finally { a.unpersist(); b.unpersist() }
  }

  test("Checkpoints.scratch: a second call over an equal frame compiles " +
      "no new code (the per-call tag stays out of generated code)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val df = spark.range(100).select((col("id") * 2).as("y"))
    def oneCall(): Unit = {
      val s = Checkpoints.scratch(df)
      try s.count() finally s.unpersist(blocking = true)
    }
    oneCall()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    oneCall()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled)
  }

  /** Runs `body` while the caller holds its own cache of `mine`, a frame
    * equal to one that `body` caches as scratch state, and asserts that
    * the caller's cache survives. */
  private def keepsCallersCache(mine: org.apache.spark.sql.DataFrame)(
      body: => Unit): Unit = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    mine.persist(level).count()
    try {
      body
      assert(mine.storageLevel === level,
        "the caller's cached frame was unpersisted by the callee")
    } finally mine.unpersist()
  }

  private val scratchDocs = Seq("a b c d e", "f g", "h i j k l m n", "a b")

  test("writeTokenShards leaves a caller's cached assignment frame cached") {
    val docs = frame("doc_id" -> Seq(1L, 2L, 3L, 4L), "text" -> scratchDocs)
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    keepsCallersCache(graft.ops.Packing.tokenShardAssignment(docs, 4)) {
      graft.ops.Packing.writeTokenShards(docs, out, 4)
    }
  }

  test("learnMerges leaves a caller's cached word table cached") {
    val docs = frame("text" -> scratchDocs)
    keepsCallersCache(graft.ops.Bpe.wordTable(docs)) {
      graft.ops.Bpe.learnMerges(docs, 2)
    }
  }

  test("clusterPairs leaves a caller's cached edge list cached") {
    val pairs = frame("id_a" -> Seq(1L, 2L, 5L), "id_b" -> Seq(2L, 3L, 6L))
    // the closed neighbourhood clusterPairs propagates over: both edge
    // directions plus the self-loops
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    keepsCallersCache(
        edges.union(edges.select(col("src"), col("src").as("dst")))) {
      Dedup.clusterPairs(pairs, 2)
    }
  }

  test("concurrent append probe: x61 run from 8 threads at once agrees " +
      "with its solo result (appendCurated's scratch persist)") {
    concurrentProbe("x61_corpus_append")
  }

  /** Round-16 gate: SEMANTIC-stage recall at the pipeline's own
    * embedMinCosine (x251's controlled-fixture twin). 24 base docs with
    * near-orthogonal md5-sign embeddings (pairwise |cos| ~ 1/8; the "orig:"
    * seed is verified collision-free — no native >= 0.4 pair confounds
    * the tiers); each plants one variant
    * at an EXACT cosine c = 0.95 / 0.8 / 0.6 (above the 0.4 gate → must
    * fall to the semantic stage) or 0.2 (below → must survive). Variant
    * text is token-disjoint, so only the embedding stage can catch it.
    * embedCells = 1 isolates the cosine gate from quantizer boundary
    * effects (x251 measures those at corpus scale, bitwise).
    */
  private val semDim = 64

  private def signVec(seed: String): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(semDim) { d =>
      val hex = md.digest(s"$seed:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1.0 else -1.0
    }
  }

  /** The x251 planting, computed in the JVM: e' = c·ê + s·ô with ô the
    * Gram-Schmidt residual of a per-doc md5 direction against ê. */
  private def plantVec(id: Long, e: Array[Double],
      c: Double): Array[Double] = {
    val nrm = math.sqrt(e.map(x => x * x).sum)
    val eh = e.map(_ / nrm)
    val r = signVec(id.toString)
    val d = r.zip(eh).map { case (a, b) => a * b }.sum
    val w = r.zip(eh).map { case (a, b) => a - d * b }
    val wn = math.sqrt(w.map(x => x * x).sum)
    val s = math.sqrt(1.0 - c * c)
    eh.zip(w).map { case (ei, wi) => c * ei + s * (wi / wn) }
  }

  /** 24 near-orthogonal base docs + one planted variant each at an
    * EXACT cosine tier (0.95/0.8/0.6/0.2 cyclically). Returns
    * (docs, emb, variants = (vid, text, vec, tier)). */
  private def semanticFixture = {
    val n = 24
    val base = (1 to n).map { i =>
      (i.toLong, (1 to 12).map(t => s"w${i}t$t").mkString(" "),
        signVec(s"orig:$i"))
    }
    val tiers = Seq(0.95, 0.8, 0.6, 0.2)
    val variants = base.map { case (id, _, e) =>
      val c = tiers(((id - 1) % 4).toInt)
      (id + 1000L, (1 to 12).map(t => s"v${id}t$t").mkString(" "),
        plantVec(id, e, c), c)
    }
    // construction sanity: every planted pair sits at EXACTLY its tier
    variants.foreach { case (vid, _, ev, c) =>
      val e = base((vid - 1001L).toInt)._3
      val cos = e.zip(ev).map { case (a, b) => a * b }.sum /
        (math.sqrt(e.map(x => x * x).sum) * math.sqrt(ev.map(x => x * x).sum))
      assert(math.abs(cos - c) < 1e-9, s"variant $vid cosine $cos != $c")
    }
    import spark.implicits._
    val docs = (base.map(b => (b._1, b._2)) ++
      variants.map(v => (v._1, v._2))).toDF("doc_id", "text")
    val emb = (base.map(b => (b._1, b._3.toSeq)) ++
      variants.map(v => (v._1, v._3.toSeq))).toDF("doc_id", "embedding")
    (docs, emb, variants, base.map(_._1))
  }

  test("semantic recall gate: planted cosine tiers above embedMinCosine " +
      "are deleted by the semantic stage, the below-gate tier survives") {
    val (docs, emb, variants, baseIds) = semanticFixture
    import spark.implicits._
    val evalSet = Seq((900000L, "zz1 zz2 zz3 zz4 zz5 zz6"))
      .toDF("doc_id", "text")
    graft.ops.StageCache.clear()
    val kept = Pipeline.curateStages(docs, evalSet,
        embeddings = Some(emb), embedMinCosine = 0.4, embedCells = 1,
        embedIters = 1).toMap.apply("semantic_kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    variants.foreach { case (vid, _, _, c) =>
      if (c >= 0.4)
        assert(!kept(vid),
          s"variant $vid at cosine $c must fall to the semantic gate")
      else
        assert(kept(vid),
          s"variant $vid at cosine $c sits below the gate and must survive")
    }
    baseIds.foreach { id =>
      assert(kept(id), s"original $id must stay the min-id keeper")
    }
  }

  /** Round-17 gate (round-16 verdict Next #2): the banded generator at
    * the TUNING-RULE shape (16 bands × 8 planes — hold mean bucket size
    * a few vectors, raise bands for recall; OR-curve 1−(1−p⁸)¹⁶ ≈
    * 0.9999 at cosine 0.95) must catch EVERY 0.95-tier variant, keep
    * every below-gate 0.2-tier variant (precision is exact — the cosine
    * verify gates every deletion), and dominate the experiment-scale
    * 4×8 shape tier by tier. Deterministic: md5 planes, exact planted
    * cosines — the banded-OR trade measured as a spec, not prose. */
  test("banded semantic recall at the tuned 16x8 shape: all 0.95-tier " +
      "variants deleted, 0.2 tier survives, and every tier dominates 4x8") {
    val (docs, emb, variants, baseIds) = semanticFixture
    import spark.implicits._
    val evalSet = Seq((900000L, "zz1 zz2 zz3 zz4 zz5 zz6"))
      .toDF("doc_id", "text")
    def keptAt(bands: Int): Set[Long] = {
      graft.ops.StageCache.clear()
      Pipeline.curateStages(docs, evalSet,
          embeddings = Some(emb), embedMinCosine = 0.4,
          embedBands = bands, embedPlanesPerBand = 8, embedDim = semDim)
        .toMap.apply("semantic_kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val kept4 = keptAt(4)
    val kept16 = keptAt(16)
    def deletedPerTier(kept: Set[Long]): Map[Double, Int] =
      variants.groupBy(_._4).map { case (c, vs) =>
        c -> vs.count(v => !kept(v._1)) }
    val d4 = deletedPerTier(kept4)
    val d16 = deletedPerTier(kept16)
    variants.filter(_._4 == 0.95).foreach { case (vid, _, _, _) =>
      assert(!kept16(vid),
        s"0.95-tier variant $vid must be caught at the tuned 16x8 shape")
    }
    variants.filter(_._4 == 0.2).foreach { case (vid, _, _, _) =>
      assert(kept16(vid) && kept4(vid),
        s"0.2-tier variant $vid sits below the gate and must survive")
    }
    for (c <- Seq(0.95, 0.8, 0.6))
      assert(d16(c) >= d4(c),
        s"tuned 16x8 must dominate 4x8 at tier $c: ${d16(c)} < ${d4(c)}")
    (baseIds ++ Seq.empty).foreach { id =>
      assert(kept16(id) && kept4(id),
        s"original $id must stay the min-id keeper in both shapes")
    }
  }
  test("autoBandShape reproduces both committed tuned shapes from their " +
      "survivor counts and scales r with n (round-17 verdict Next #6)") {
    // the two committed evidence points ARE the rule's outputs:
    // sf0.01 planted corpus (543 survivors) -> x256's 16x8; sf10 probe
    // corpus (~200k vectors) -> x257's 8x16 (232 s vs mis-tuned 804 s)
    assert(ops.Pipeline.autoBandShape(543) == (16, 8))
    assert(ops.Pipeline.autoBandShape(200000) == (8, 16))
    // r is the smallest with n/2^r <= 4 — exact at powers of two (the
    // integer form has no floating-point ceil edge)
    assert(ops.Pipeline.autoBandShape(4 * 256) == (16, 8))     // n/2^8 = 4
    assert(ops.Pipeline.autoBandShape(4 * 256 + 1) == (15, 9)) // just over
    // degenerate corpora stay sane: r floors at 1, b at the budget
    assert(ops.Pipeline.autoBandShape(0) == (128, 1))
    assert(ops.Pipeline.autoBandShape(1) == (128, 1))
    // r is capped at 62 (the long bucket-key width)
    assert(ops.Pipeline.autoBandShape(Long.MaxValue)._2 == 62)
  }
}
