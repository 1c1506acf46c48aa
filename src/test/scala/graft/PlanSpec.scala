package graft

/** Plan-hygiene regression guard over the ENTIRE query surface: the scale
  * anti-patterns the round-2 verdict hunted for by hand (nested-loop joins
  * against unbounded sides, cartesian products, unpushed scans) are
  * asserted mechanically for every SparkEntry query, so a regression shows
  * up as a red spec instead of a 100 TB incident.
  */
class PlanSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  /** Queries where a BroadcastNestedLoopJoin is the DESIGN, not an
    * accident — each broadcasts a provably-BOUNDED side, independent of
    * corpus scale:
    *  - x10 broadcasts the fixed query-vector set (brute-force kNN
    *    baseline; IVF is the scale path),
    *  - q43/q49/x22/x39 crossJoin a broadcast ONE-ROW global-aggregate
    *    frame (scalar-subquery shape),
    *  - x18/x173/x174 crossJoin the bounded query probe set against the
    *    broadcast k-centroid / m·k-codebook frame (O(k·d)).
    * The centroid ASSIGNMENT family (x17/x28/x44/x60/x81/x84/x195/
    * x249/x252…) left this list in round 17: assignment is a map-only
    * literal argmax now — those plans contain NO join at all, and the
    * dedicated assignment-subplan test below pins that shape.
    * Anything NOT in this list that plans a nested loop is a regression.
    */
  private val bnljByDesign = Set(
    "x10_knn_bruteforce", "q43_above_avg_parts", "q49_idle_customers",
    "x22_tfidf", "x39_unigram_logprob",
    "x18_ivf_topk", // probe list: query set x broadcast k-centroid frame (bounded)
    "x57_length_buckets", // broadcast ONE-ROW count (scalar-subquery shape)
    "x62_bigram_logprob", // broadcast ONE-ROW vocabulary size
    "x66_quantized_recall", // x10's broadcast-queries shape, quantized twin
    "x72_temperature_weights", // two ONE-ROW totals broadcast (x57 pattern)
    "x74_temperature_mix", // x72's scalar broadcasts inside the weight join
    "x79_dsir_weights", // two ONE-ROW LM totals broadcast (x57 pattern)
    "x80_vocab_coverage", // broadcast ONE-ROW corpus total onto k rows
    "x83_ccnet_buckets", // x39's ONE-ROW corpus total inside the scorer
    "x95_kmv_distinct", // broadcast ONE-ROW corpus n_exact onto the merged row (x57 pattern)
    "x103_vocab_drift", // broadcast ONE-ROW snapshot totals onto the term table (x57 pattern)
    "x125_source_entropy", // broadcast ONE-ROW corpus grand total onto the term table (x57 pattern)
    "x128_attribution", // broadcast ONE-ROW conversions total onto <= |types|+1 rows (x57 pattern)
    "x131_ab_test", // broadcast ONE-ROW control arm onto <= nVariants rows (x57 pattern)
    "x132_basket_pairs", // broadcast ONE-ROW order count onto the pair table (x57 pattern)
    "x133_zorder_layout", // broadcast ONE-ROW min/max bounds frame (x57 pattern)
    "x135_bm25_topk", // broadcast ONE-ROW N/avgdl corpus stats (x57 pattern)
    "x139_rfm", // broadcast ONE-ROW max-day + quintile thresholds (x57 pattern)
    "x140_fk_audit", // per-leg ONE-ROW totals x orphans crossJoin (x57 pattern)
    "x152_revenue_pareto", // broadcast ONE-ROW decile cuts + total (x57 pattern)
    "x153_survival", // broadcast ONE-ROW max-day + the span-bounded factor list (x57 pattern)
    "x156_triangles", // broadcast ONE-ROW triangle count onto the one-row degree rollup
    "x158_benford", // broadcast ONE-ROW digit total onto <= 9 rows (x57 pattern)
    "x161_timedecay_attribution", // broadcast ONE-ROW credit total onto <= |types| rows (x57 pattern)
    "x163_hll_distinct", // two ONE-ROW frames (register rollup x exact count)
    "x164_ks_test", // ONE-ROW totals onto the cum table + ONE-ROW sup (x57 pattern)
    "x165_chi2_independence", // bounded |a| x |b| categorical grid from broadcast marginals
    "x173_pq_recall", // k-centroid broadcasts + broadcast m*k-row LUT x bounded query probe set
    "x174_ivfpq_topk", // coarse + per-block centroid broadcasts, broadcast probe/LUT frames (bounded)
    "x177_psi_drift", // broadcast ONE-ROW cut array + ONE-ROW totals (x57 pattern)
    "x178_position_attribution", // broadcast ONE-ROW credit total onto <= |types| rows (x57 pattern)
    "x180_logrank", // broadcast ONE-ROW max-day/totals + a TWO-ROW cohort grid frame (x153 pattern)
    "x188_mutual_info", // broadcast ONE-ROW corpus total onto the bounded cell grid (x57 pattern)
    "x189_brr_ci", // broadcast ONE-ROW grand totals onto <= B replicate rows (x57 pattern)
    "x191_variance_ratio", // broadcast |qs|-ROW q list onto the span-bounded grid (x57 pattern)
    "x196_conversion_lag", // broadcast ONE-ROW converters total onto <= ~40 bucket rows (x57 pattern)
    "x201_cramers_v", // chiSquare's bounded |a|x|b| grid from broadcast marginals (x165 pattern)
    "x202_wasserstein", // broadcast ONE-ROW totals + ONE-ROW term sum (x164's ksTest pattern)
    "x203_ams_f2", // broadcast ONE-ROW exact-moment frame onto <= 64 replicate rows (x57 pattern)
    "x206_decision_stump", // broadcast ONE-ROW totals onto the candidate table (x57 pattern)
    "x207_ppmi_pairs", // broadcast ONE-ROW pair total onto the pair table (x132 pattern)
    "x208_kmv_join_est", // one-row estimate/exact frames crossJoined (x57 pattern, all bounded)
    "x210_hits", // broadcast ONE-ROW max-normalizer onto the O(nodes) MATERIALIZED raw-sum frame (x57 pattern; round 19 made the final normalize lazy so the crossJoin is visible in the returned plan)
    "x211_cuped", // broadcast ONE-ROW pooled-moment frame onto <= |variants| rows (x57 pattern)
    "x213_brier", // broadcast ONE-ROW totals onto <= bins rows (x57 pattern)
    "x220_diff_in_diff", // broadcast ONE-ROW split-day bounds frame (x57 pattern)
    "x224_woe_iv", // broadcast ONE-ROW n/class-total/iv frames onto <= bins rows (x57 pattern)
    "x225_quantile_norm", // broadcast ONE-ROW reference-count frame onto the rank table (x57 pattern)
    "x228_srm", // broadcast ONE-ROW total + ONE-ROW chi2 frames onto <= nVariants rows (x57 pattern)
    "x229_poisson_bootstrap", // ONE-ROW point estimate x ONE-ROW replicate epilogue (x57 pattern)
    "x230_kruskal_wallis", // broadcast ONE-ROW n/ties totals onto <= |groups| rows (x57 pattern)
    "x231_good_turing", // broadcast ONE-ROW corpus totals onto the <= maxR-row grid (x57 pattern)
    "x233_js_divergence", // bounded |groups|^2 pair grid from broadcast totals (x165 grid pattern)
    "x236_retrieval_metrics", // x10 broadcast-queries brute pass + x18 centroid broadcasts (bounded audit)
    "x237_rbo", // same bounded x10/x18 audit shapes as x236
    "x238_pps_sample", // broadcast ONE-ROW total-weight frame onto the unit table (x57 pattern)
    "x239_sampled_quantiles", // bounded |pcts|-row grid range-joined onto prefix tables (x23 pattern)
    "x240_group_sequential", // broadcast ONE-ROW user-count frame onto the ranked users (x57 pattern)
    "x241_wasserstein_matrix", // broadcast ONE-ROW group totals onto the value table (x202 pattern)
    "x209_jl_recall", // broadcasts the fixed 10-query projected set (x10's brute-force audit shape)
    "x245_dsir_selection", // dsirTopK: ONE-ROW LM totals crossJoined onto <= buckets rows (x79's x57 pattern)
    "x246_dsir_mixture", // dsirWeights: same ONE-ROW LM totals epilogue as x245
    "x248_dsir_gumbel_sample") // dsirWeights: same ONE-ROW LM totals epilogue as x245

  /** Queries where a GLOBAL (empty-partition-spec) window over a
    * NON-aggregated subtree is the design — each input is provably
    * bounded for a reason structure alone can't see. The same
    * discipline as [[bnljByDesign]]: anything NOT here whose global
    * window lacks an aggregate/limit underneath is a regression (a
    * global window over the corpus is a single-task funnel at 100 TB).
    */
  private val globalWindowByDesign = Map.empty[String, String]
  // EMPTY as of round 18, and should stay that way: every global window
  // the suite plans today sits over an aggregated subtree (O(sources)/
  // O(bins)/O(cells) rollups — the unimax waterfilling, skyline
  // prefix-min shapes). Add an entry ONLY with a written reason why the
  // window's input is bounded independent of corpus scale.

  test("no CartesianProduct in any query plan; BroadcastNestedLoopJoin only " +
      "where a bounded side is broadcast by design; GLOBAL windows only " +
      "over aggregated/limited subtrees or by documented design") {
    import org.apache.spark.sql.catalyst.plans.logical
    // a global window is mechanically fine when its input was already
    // collapsed by an aggregation (O(groups) rows: bins/sources/cells),
    // truncated by a limit, or is a literal local relation — the
    // corpus-scale regression shape is a global window STRAIGHT over a
    // scan/join/projection. STRUCTURAL recursion, not subtree-exists
    // (round-18 ADVICE): a Join is bounded only if BOTH sides are
    // (semi/anti: the LEFT side — output ⊆ left), a unary node
    // inherits from its child, and a raw leaf (scan, checkpoint RDD,
    // range) is unbounded — so a corpus-scale scan joined to an
    // aggregated side can no longer slip past on the aggregate alone
    def boundedBelow(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.Aggregate => true
      case _: logical.GlobalLimit => true
      case _: logical.LocalRelation => true
      case _: logical.OneRowRelation => true
      case j: logical.Join => j.joinType match {
        case org.apache.spark.sql.catalyst.plans.LeftSemi |
             org.apache.spark.sql.catalyst.plans.LeftAnti =>
          boundedBelow(j.left)
        case _ => boundedBelow(j.left) && boundedBelow(j.right)
      }
      case u: logical.UnaryNode => boundedBelow(u.child)
      case _: logical.LeafNode => false
      case other =>
        other.children.nonEmpty && other.children.forall(boundedBelow)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val qe = fn(spark, dir).queryExecution
      val plan = qe.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljByDesign(name)
      val unboundedGlobalWindow = qe.optimizedPlan.collectFirst {
        case w: logical.Window
            if w.partitionSpec.isEmpty && !boundedBelow(w.child) => w
      }.nonEmpty && !globalWindowByDesign.contains(name)
      if (cartesian || bnlj || unboundedGlobalWindow)
        Some(s"$name: ${if (cartesian) "CartesianProduct " else ""}" +
          s"${if (bnlj) "BNLJ " else ""}" +
          s"${if (unboundedGlobalWindow) "unbounded-global-Window" else ""}")
      else None
    }
    assert(offenders.isEmpty, s"scale-unsafe plans in: $offenders")
  }

  test("decomposed prefix-sum/rank queries execute with a ReusedExchange: " +
      "both _bucket consumers must see ONE materialized range partitioning") {
    // Ranking.withGlobalRanks and Packing.packSequences tag rows with
    // spark_partition_id() after repartitionByRange, then join per-bucket
    // offsets back on that id. Catalyst prunes the window out of the
    // offsets subtree, leaving two canonically-identical range exchanges —
    // correctness REQUIRES Spark's exchange reuse to collapse them, since
    // two independent RangePartitioner instances may sample different
    // boundaries (seeded by rdd.id) and assign rows to different buckets.
    // This guard fails if a config/refactor ever breaks that collapse.
    // x56/x57 build on the same decomposition (packSequences buckets /
    // withGlobalRanks) — their bucket ids inherit the same invariant
    for (name <- Seq("q29_rank_dense", "x49_pack_sequences",
        "x56_bin_pack_nosplit", "x57_length_buckets",
        "x83_ccnet_buckets", // withGroupRanks: same _bucket contract
        "x219_sprt", // withGroupPrefixSums arrival scan
        "x224_woe_iv", // value-table prefix sums (post-±30k-rank-bug fix)
        "x246_dsir_mixture")) { // global budget cut: constant-group prefix sums
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // materialize THIS df so its AdaptiveSparkPlan finalizes
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"$name plan not finalized")
      assert(plan.contains("ReusedExchange"),
        s"$name executed without exchange reuse — bucket ids may diverge:\n" +
          plan.take(3000))
    }
  }

  test("LSH candidate-pair dataflow plans equi hash joins only — the " +
      "pre-checkpoint plan has no CartesianProduct/BNLJ (round-5 verdict #1)") {
    // lshCandidatePairs checkpoints eagerly, so the x03/x30/x35 plans the
    // suite-wide audit sees start at a checkpoint scan — this test audits
    // the IDENTICAL dataflow in its lazy form, so a cartesian/nested-loop
    // regression inside the pair join turns the suite red again.
    // ExtensionSpec pins lazy == eager result equality, which is what
    // makes this plan authoritative for the shipped eager form.
    val docs = Tables.documents(spark, dir)
    val plan = graft.ops.Dedup.lshCandidatePairsLazy(docs, bands = 2, rowsPerBand = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "LSH pair join regressed to a scale-unsafe join:\n" + plan.take(3000))
    // and it really is the equi-join dataflow: a hash join on the stacked
    // (band_id, band_key) must be present
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      "expected an equi hash/sort-merge join on band keys:\n" + plan.take(3000))
  }

  test("curation backbone is materialized: the final pipeline stage plans " +
      "ZERO scans of the corpus input (round-6 verdict #1)") {
    // Before the fix, `clean`'s plan inlined `deduped` twice (contamination
    // + the final anti-join), each inlining `exact`'s full quality/dedup
    // subtree from parquet — ~5 corpus-scale scans per curateAndShard call.
    // With exact/deduped checkpointed AND the contaminated-id set
    // materialized (stage-cache round), the final stage must plan ZERO
    // parquet scans: both anti-join sides are checkpoints (ExistingRDD).
    val docs = Tables.documents(spark, dir)
    val stages = graft.ops.Pipeline.curateStages(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 97 === 0))
    val plan = stages.last._2.queryExecution.executedPlan.toString
    val parquetScans =
      "FileScan parquet".r.findAllIn(plan).size +
        "BatchScan parquet".r.findAllIn(plan).size
    assert(parquetScans == 0,
      s"expected zero parquet scans in the final stage, found $parquetScans:\n" +
        plan.take(3000))
    assert(plan.contains("ExistingRDD"),
      "corpus side should read the materialized checkpoint:\n" + plan.take(3000))
  }

  test("centroid assignment is MAP-ONLY: no Window, Exchange, or Join in " +
      "the assignment subplan (round-16 verdict's n×k-shuffle weak)") {
    // the old form crossJoined every vector with the broadcast centroids
    // and ran row_number() over Window.partitionBy(id) — an n×k-row
    // exchange under the ENTIRE trained-quantizer family. The argmax is
    // now one codegen'd greatest(struct(sim, -cent_id)) over centroid
    // literals: the executed assignment plan must be a bare projection
    // over the scan — any Window/Exchange/Join here is the regression.
    val emb = Tables.embeddings(spark, dir)
    val assigned = graft.functions.Similarity
      .ivfAssignKmeans(emb, nCells = 4, iters = 1)
    val plan = assigned.queryExecution.executedPlan.toString
    for (bad <- Seq("Window", "Exchange", "Join"))
      assert(!plan.contains(bad),
        s"assignment subplan plans a $bad:\n" + plan.take(3000))
    // same contract for the first-N (untrained) quantizer entry
    val ivfPlan = graft.functions.Similarity.ivfAssign(emb, nCells = 4)
      .queryExecution.executedPlan.toString
    for (bad <- Seq("Window", "Exchange", "Join"))
      assert(!ivfPlan.contains(bad),
        s"ivfAssign subplan plans a $bad:\n" + ivfPlan.take(3000))
  }

  test("embedding covariance is ONE map-side-combined aggregation: a " +
      "single exchange, no join, no second embeddings scan (x118)") {
    // the d² outer-product cells come from a map-only flatten/explode of
    // each row — a self-join formulation would shuffle the embedding
    // table; this guard fails if the op ever regresses to one
    val plan = graft.ops.Pca.covariance(Tables.embeddings(spark, dir))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      "covariance should shuffle exactly once (the d²-group agg):\n" +
        plan.take(3000))
    assert(!plan.contains("Join"), "covariance must not plan a join:\n" +
      plan.take(3000))
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one embeddings scan, found $scans")
  }

  test("funnel materializes each stage state: the returned plan scans the " +
      "events table ZERO times — the lazy chain would scan k(k+1)/2 " +
      "times (x114)") {
    val plan = graft.ops.EventAnalytics.funnel(Tables.events(spark, dir),
        Seq("signup", "view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"expected zero event scans in the returned funnel plan, found " +
        s"$scans:\n" + plan.take(3000))
  }

  test("rollingActives materializes the per-day distinct: the final plan " +
      "scans the events table ZERO times (x117)") {
    // dau and the trailing-slot explode consume the same (day, user)
    // distinct but acquire different pushed-down filters, so exchange
    // reuse can't collapse them — without the materialize boundary the
    // events scan+distinct-shuffle would run twice
    val plan = graft.ops.EventAnalytics
      .rollingActives(Tables.events(spark, dir))
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"expected zero event scans after the materialize, found $scans:\n" +
        plan.take(3000))
  }

  test("ingest gates (verified text, semantic embedding) plan hash " +
      "anti-joins — residual conditions must not degrade the join to a " +
      "nested loop") {
    val docs = Tables.documents(spark, dir)
    val bandDocs = graft.ops.Dedup.corpusBandDocs(docs, 2, 4)
    // the batch core (what a batch call runs) and the streaming chain core
    for (textPlan <- Seq(
        graft.ops.Dedup.bandKeyReject(docs, bandDocs, minJaccard = Some(0.5)),
        graft.ops.Dedup.nearDupRejectChain(docs, bandDocs, 2, 4, "text",
          Some(0.5))).map(_.queryExecution.executedPlan.toString))
      assert(!textPlan.contains("CartesianProduct") &&
        !textPlan.contains("BroadcastNestedLoopJoin"),
        "verified text gate lost its equi key:\n" + textPlan.take(2000))
    val embs = Tables.embeddings(spark, dir)
    val dim = embs.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    val embPlan = graft.functions.Similarity.embeddingNearDupReject(embs,
        graft.functions.Similarity.corpusEmbeddingBuckets(embs, 4, dim),
        4, dim, 0.95)
      .queryExecution.executedPlan.toString
    assert(!embPlan.contains("CartesianProduct") &&
      !embPlan.contains("BroadcastNestedLoopJoin"),
      "semantic gate lost its bucket equi key:\n" + embPlan.take(2000))
  }

  test("band-key corpus states build from the map-only kernel: no join " +
      "in corpusBandKeys' or corpusBandDocs' plan") {
    val docs = Tables.documents(spark, dir)
    for ((name, state) <- Seq(
        "corpusBandKeys" -> graft.ops.Dedup.corpusBandKeys(docs, 2, 4),
        "corpusBandDocs" -> graft.ops.Dedup.corpusBandDocs(docs, 2, 4))) {
      val plan = state.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name plans a join:\n" + plan.take(3000))
    }
  }

  test("filter pushdown and column pruning reach the parquet scan (q02 shape)") {
    import org.apache.spark.sql.execution.FormattedMode
    val plan = SparkEntry.queries("q02_project_filter")(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("PushedFilters: ["), plan.take(3000))
    assert(!plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1").trim.isEmpty,
      "q02 scan pushed no filters:\n" + plan.take(3000))
    // projection pruning: the lineitem scan must not read all 11 columns
    val readSchema = plan.replaceAll("(?s).*ReadSchema: struct<([^>]*)>.*", "$1")
    assert(readSchema.split(",").length < 11,
      s"q02 reads unpruned schema: $readSchema")
  }

  test("map-only claims hold mechanically: x97's ONLY exchange is the " +
      "output ordering; x104 plans exactly one aggregation exchange") {
    // lineQualityCuration documents ZERO shuffle (gates + re-assembly in
    // higher-order functions, keep-predicate pushed into the scan). The
    // x97 query adds one orderBy for the oracle's deterministic dump —
    // so the whole plan must contain EXACTLY ONE Exchange (the range
    // partitioning for that sort) and no aggregate/join at all.
    val p97 = SparkEntry.queries("x97_line_quality")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges97 = "(?m)^.*Exchange".r.findAllIn(p97).size
    assert(exchanges97 == 1, s"x97 must shuffle only for the output sort " +
      s"(found $exchanges97 exchanges):\n" + p97.take(3000))
    assert(!p97.contains("Join"), "x97 must plan no join:\n" + p97.take(2000))
    // embeddingAudit: map + ONE map-side-combinable agg → its plan is a
    // single hash-aggregate exchange plus the output sort
    val p104 = SparkEntry.queries("x104_embedding_audit")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges104 = "(?m)^.*Exchange".r.findAllIn(p104).size
    assert(exchanges104 <= 2, s"x104 must plan one agg exchange + the " +
      s"output sort (found $exchanges104):\n" + p104.take(3000))
    assert(!p104.contains("Join"), "x104 must plan no join:\n" + p104.take(2000))
    // classifierScore: the whole feature/score pipeline is per-row
    // higher-order functions — x97's contract: only the output sort
    val p130 = SparkEntry.queries("x130_classifier_score")(spark, dir)
      .queryExecution.executedPlan.toString
    val exchanges130 = "(?m)^.*Exchange".r.findAllIn(p130).size
    assert(exchanges130 == 1, s"x130 must shuffle only for the output sort " +
      s"(found $exchanges130 exchanges):\n" + p130.take(3000))
    assert(!p130.contains("Join") && !p130.contains("HashAggregate"),
      "x130 must plan no join/aggregate:\n" + p130.take(2000))
  }

  test("x93 ngramNovelty plans TWO exchanges and no join; x96 " +
      "sourceOverlapMatrix's corpus stage plans ONE exchange, no join, " +
      "and a map-side partial collect_set (round-19 rewrites, round-20 " +
      "verdict Next #3 pins)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    // x93 operator: array_distinct is map-side, the doc frequency is a
    // window riding the digest exchange, the per-doc rollup is the only
    // other exchange — 2 exchanges, zero joins (the old form exchanged
    // the same rows twice more through a groupBy + SMJ join-back)
    val nov = graft.ops.TextAnalysis.ngramNovelty(docs, shingleN = 8)
    val pNov = nov.queryExecution.executedPlan.toString
    val exNov = "(?m)^.*Exchange".r.findAllIn(pNov).size
    assert(exNov == 2, s"ngramNovelty must plan exactly 2 exchanges " +
      s"(found $exNov):\n" + pNov.take(3000))
    assert(!pNov.contains("Join"),
      "ngramNovelty must plan no join:\n" + pNov.take(2000))
    // the full x93 query adds only the output-order range exchange
    val p93 = SparkEntry.queries("x93_ngram_novelty")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("(?m)^.*Exchange".r.findAllIn(p93).size == 3 &&
      !p93.contains("Join"),
      "x93 = ngramNovelty + one output sort, no join:\n" + p93.take(3000))
    // x96 corpus stage: ONE digest exchange, no join, and the
    // collect_set must partial-aggregate BELOW the exchange (a hot
    // boilerplate shingle arrives at its reducer as <= #map-tasks set
    // fragments, never #occurrences)
    val sets = graft.ops.Dedup.sourceSetsLazy(docs, 5, "source", "text")
    val pSets = sets.queryExecution.executedPlan.toString
    assert("(?m)^.*Exchange".r.findAllIn(pSets).size == 1,
      "x96 sets stage must plan exactly one exchange:\n" + pSets.take(3000))
    assert(!pSets.contains("Join"),
      "x96 sets stage must plan no join:\n" + pSets.take(2000))
    assert("partial_collect_set|ObjectHashAggregate".r
        .findFirstIn(pSets).isDefined,
      "x96 sets stage must partial-aggregate map-side:\n" + pSets.take(3000))
    // and the final x96 frame reads the checkpointed sets — no more
    // corpus scans, no sort-merge join (sizes ride back as broadcasts)
    val p96 = SparkEntry.queries("x96_source_overlap")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p96.contains("FileScan parquet") &&
        !p96.contains("SortMergeJoin"),
      "x96 final frame must read checkpoint blocks only, broadcast " +
        "its size joins:\n" + p96.take(3000))
  }

  test("pipeline quality gate is MAP-ONLY: the filter form plans zero " +
      "Exchange/Join and gates the bitwise-identical survivor set as " +
      "the quality() projection join (round-19 optimization)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    // the filter the backbone now plans: one scan, predicate on the scan
    val filtered = docs.filter(
      graft.ops.TextAnalysis.qualityExpr(col("text")) > 0.3)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      "quality gate must stay a bare filtered scan:\n" + plan.take(2000))
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      "quality gate must plan exactly one corpus scan:\n" + plan.take(2000))
    // parity with the join form the backbone used before round 19:
    // quality() projects the SAME expression, so the survivor id sets
    // must be bitwise equal — this is what makes the rewrite a pure
    // plan change rather than a semantic one
    val joined = docs.join(
      graft.ops.TextAnalysis.quality(docs)
        .select(col("doc_id"), col("quality"))
        .filter(col("quality") > 0.3).select("doc_id"),
      "doc_id")
    assert(filtered.select("doc_id").exceptAll(joined.select("doc_id")).isEmpty
        && joined.select("doc_id").exceptAll(filtered.select("doc_id")).isEmpty,
      "filter-form and join-form survivor sets must be identical")
  }

  test("curation text kernels plan as native codegen'd expressions: no " +
      "higher-order function, lambda or CodegenFallback in the quality " +
      "gate, the stacked band keys, the contamination shingles or the " +
      "line gate") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val frames = Seq(
      "backbone quality gate" -> docs.filter(
        graft.ops.TextAnalysis.qualityExpr(col("text")) > 0.3),
      "stacked band keys" ->
        graft.ops.Dedup.lshCandidatePairsLazy(docs, bands = 2, rowsPerBand = 4),
      "contamination shingles" -> graft.ops.Dedup.contamination(
        docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0)),
      "line gate" -> graft.ops.TextAnalysis.lineQualityCuration(docs))
    for ((name, df) <- frames) {
      val plan = df.queryExecution.optimizedPlan
      val interpreted = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: HigherOrderFunction => e
        case e: LambdaFunction => e
        case e: CodegenFallback => e
      }))
      assert(interpreted.isEmpty,
        s"$name plans interpreted expressions: " +
          interpreted.map(_.prettyName).distinct.mkString(", ") + "\n" +
          plan.toString.take(3000))
    }
  }
}
