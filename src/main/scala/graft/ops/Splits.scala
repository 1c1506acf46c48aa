package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Stats.d38

/** Deterministic dataset splitting — the train/val/test assignment every
  * training pipeline needs. A row's split comes from md5(salt:id) reduced
  * to a uniform 48-bit integer compared against cumulative fraction
  * thresholds: pure codegen'd projection (no shuffle, no RNG state),
  * reproducible across runs/engines/cluster sizes, and STABLE UNDER
  * APPENDS — adding documents never reassigns existing ones (the property
  * random splits lose). Changing `salt` draws a fresh independent split.
  */
object Splits {

  /** Cumulative 48-bit thresholds for the given (name, fraction) list —
    * computed once in Scala so Spark and an external replayer (the DuckDB
    * oracle, another engine) embed identical literals. */
  def thresholds(fracs: Seq[(String, Double)]): Seq[(String, Long)] = {
    require(fracs.nonEmpty && math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    val cum = fracs.map(_._2).scanLeft(0.0)(_ + _).tail
    fracs.map(_._1).zip(cum.map(c => math.floor(c * 281474976710656.0).toLong)) // 2^48
  }

  /** The 48-bit hash SQL (engine-portable text) for an id column. */
  def hashSql(idCol: String, salt: String): String =
    TextAnalysis.hexToIntSql(s"md5(concat('$salt:', $idCol))", 12)

  /** Add a `split` column assigning each row to a named split. */
  def assignSplit(df: DataFrame, idCol: String,
      fracs: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    val u = expr(hashSql(idCol, salt))
    val ts = thresholds(fracs)
    val c = ts.init.foldRight(lit(ts.last._1): Column) { case ((name, t), els) =>
      when(u < t, name).otherwise(els)
    }
    df.withColumn("split", c)
  }

  /** Deterministic stratified sample: exactly `n` rows per stratum,
    * chosen by md5-hash order (reproducible, append-stable within a
    * stratum's first n hash positions). One partitioned window — strata
    * parallelize; no global funnel. */
  def stratifiedSampleN(df: DataFrame, strataCol: String, idCol: String,
      n: Int, salt: String = "strat"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(expr(hashSql(idCol, salt)), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .drop("_rn")
  }

  /** The same assignment as ANSI CASE text, for oracle replay. */
  def assignSplitSql(idCol: String, fracs: Seq[(String, Double)],
      salt: String = "split"): String = {
    val u = hashSql(idCol, salt)
    val ts = thresholds(fracs)
    val whens = ts.init.map { case (n, t) => s"WHEN $u < $t THEN '$n'" }.mkString(" ")
    s"CASE $whens ELSE '${ts.last._1}' END"
  }

  /** Split-leakage audit: given near-duplicate `pairs` (id_a, id_b) —
    * normally the Jaccard-VERIFIED LSH pairs, so a banding false
    * positive can't raise a false alarm — count the pairs whose
    * endpoints land in DIFFERENT splits under this assignment. A
    * non-zero row here means eval answers leak into training data; the
    * canonical fix is cluster-level splitting (assign by the near-dup
    * cluster keeper's id, not the member's).
    *
    * Scale: split assignment is a pure projection over ids; the audit
    * is two hash joins keyed by document id against the (small) pair
    * list, and a map-side-combinable count — no corpus-scale shuffle
    * beyond what producing `pairs` already paid.
    */
  def splitLeakage(docs: DataFrame, pairs: DataFrame, idCol: String,
      fracs: Seq[(String, Double)], salt: String = "split"): DataFrame =
    leakage(assignSplit(docs.select(col(idCol)), idCol, fracs, salt),
      pairs, idCol)

  /** The audit core behind [[splitLeakage]], over ANY (idCol, split)
    * assignment — id-based, cluster-aware, or externally produced. */
  def leakage(assignments: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val a = assignments.select(col(idCol).as("id_a"), col("split").as("_sa"))
    val b = assignments.select(col(idCol).as("id_b"), col("split").as("_sb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .filter(col("_sa") =!= col("_sb"))
      .select(least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_leaked_pairs"))
  }

  /** Cluster-aware split assignment — the canonical FIX for what
    * [[splitLeakage]] detects: every member of a near-dup cluster hashes
    * the CLUSTER label (its min member id), so near-duplicates land in
    * the same split by construction; documents outside any cluster hash
    * their own id, bit-identical to [[assignSplit]]. Pass clusters built
    * over the RAW LSH candidate pairs (Dedup.clusterPairs): for split
    * placement you want recall, not precision — a banding false positive
    * merely co-locates two extra docs (harmless), while a missed true
    * pair is leakage. Zero-leakage over any pair subset of the
    * clustering's input is structural: both endpoints of a candidate
    * pair carry the same label.
    *
    * Scale: one left join of the corpus against the (distilled) cluster
    * table by id, then the same pure-projection assignment.
    */
  def assignSplitByCluster(docs: DataFrame, clusters: DataFrame,
      idCol: String, fracs: Seq[(String, Double)],
      salt: String = "split"): DataFrame = {
    val keyed = docs
      .join(clusters.select(col(idCol), col("cluster").as("_cl")),
        Seq(idCol), "left")
      .withColumn("_skey", coalesce(col("_cl"), col(idCol)))
    assignSplit(keyed, "_skey", fracs, salt).drop("_cl", "_skey")
  }

  /** Stratified k-fold assignment audit: within each stratum, order
    * rows by a salted md5 of the id (deterministic, engine-portable
    * permutation — the [[assignSplit]] convention) and deal them
    * round-robin, fold = (pos − 1) mod k. Round-robin off an exact
    * per-stratum rank guarantees fold sizes within ONE row of each
    * other in EVERY stratum — the property hash-mod assignment
    * (assignSplit) deliberately trades away for O(1) statelessness, and
    * the one cross-validation needs (a fold short on a rare stratum
    * biases that fold's validation score). Output per (stratum, fold):
    * n_rows plus the stratum's max−min fold-size spread (≤ 1 by
    * construction — the audit PROVES the dealing, not just trusts it).
    *
    * Determinism: ranks ride [[graft.ops.Ranking.withGroupRanks]] on a
    * (stratum, hash, id) projection (no-rider contract); fold and
    * counts are pure integer arithmetic.
    *
    * Scale: one map-side hash projection, the decomposed per-group
    * rank, one (strata × k)-cardinality aggregate.
    */
  def kFoldAudit(df: DataFrame, strataCol: String, idCol: String,
      k: Int, salt: String = "cv"): DataFrame = {
    require(k >= 2 && k <= 1000, s"need k in [2,1000], got $k")
    val keyed = df.select(col(strataCol).as("_st"),
        md5(concat(lit(s"cv:$salt:"), col(idCol))).as("_h"),
        col(idCol).as("_id"))
    val ranked = Ranking.withGroupRanks(keyed, "_st",
      Seq("_h" -> true, "_id" -> true), rankCol = "_pos")
    val cells = ranked
      .select(col("_st"), pmod(col("_pos") - 1, lit(k.toLong)).as("fold"))
      .groupBy(col("_st"), col("fold")).agg(count(lit(1)).as("n_rows"))
    val spread = cells.groupBy(col("_st"))
      .agg((max(col("n_rows")) - min(col("n_rows"))).as("spread"))
    cells.join(spread, Seq("_st"))
      .select(col("_st").as("stratum"), col("fold"), col("n_rows"),
        col("spread"))
  }

  /** Deterministic cross-stratum negative sampling for contrastive
    * training: for each anchor, up to `k` candidates from a DIFFERENT
    * stratum (language, source…), drawn by salted md5 over the
    * (anchor, candidate) pair — so the draw is reproducible across
    * runs and engines, and re-running with a new salt redraws. The
    * candidate pool is the hash bucket `md5(candidate) mod buckets`
    * matching the anchor's probe bucket — every anchor sees a fixed
    * 1/buckets slice of the corpus, the standard sampled-negatives
    * posture (random negatives need randomness, not coverage).
    *
    * Determinism: bucket routing, pair scoring, and the per-anchor
    * top-k are all md5-derived integers; the top-k runs through the
    * salted two-phase [[graft.ops.Ranking.topKPerGroup]] with a total
    * (score, candidate) order.
    *
    * Scale: anchors and candidates equi-join on the bucket id —
    * the pair table is |anchors|·|corpus|/buckets ≈
    * n²/(anchorMod·buckets) rows BEFORE the top-k, tuned by `buckets`
    * and the anchor sampling `anchorMod` (anchors = ids ≡ 0 mod
    * anchorMod); no corpus self-join, no BNLJ. The default
    * anchorMod=16 keeps the blast radius sampled — `anchorMod = 1`
    * (every row an anchor) makes the pair table O(n²/buckets) and is
    * deliberately refused at corpus scale: pass a larger `buckets`
    * and accept the volume explicitly by sizing both knobs so that
    * n²/(anchorMod·buckets) fits your cluster. A hot stratum never
    * funnels one task: the top-k is salted.
    */
  def negativePairs(df: DataFrame, strataCol: String, idCol: String,
      k: Int = 3, buckets: Int = 8, salt: String = "neg",
      anchorMod: Int = 16): DataFrame = {
    require(k >= 1 && buckets >= 1 && anchorMod >= 1,
      s"need k, buckets, anchorMod >= 1, got $k, $buckets, $anchorMod")
    require(anchorMod > 1 || buckets >= 64,
      s"anchorMod=1 makes every row an anchor: the bucket join emits " +
        s"O(n^2/buckets) pair rows. Sample anchors (anchorMod > 1) or " +
        s"opt in explicitly with buckets >= 64 (got buckets=$buckets)")
    val hex8 = (c: String) => TextAnalysis.hexToIntSql(c, 8)
    val cands = df.select(col(idCol).as("cand_id"),
        col(strataCol).as("cand_stratum"))
      .withColumn("_cd", md5(concat(lit(s"nb:$salt:"), col("cand_id"))))
      .withColumn("_b", expr(s"pmod(${hex8("_cd")}, ${buckets}L)"))
      .drop("_cd")
    val anchors = df.select(col(idCol).as("anchor_id"),
        col(strataCol).as("anchor_stratum"))
      .filter(pmod(col("anchor_id"), lit(anchorMod.toLong)) === 0)
      .withColumn("_ad", md5(concat(lit(s"nb:$salt:"), col("anchor_id"))))
      .withColumn("_b", expr(s"pmod(${hex8("_ad")}, ${buckets}L)"))
      .drop("_ad")
    val pairs = anchors.join(cands, Seq("_b"))
      .filter(col("anchor_stratum") =!= col("cand_stratum"))
      .withColumn("_pd",
        md5(concat(lit(s"np:$salt:"), col("anchor_id"), lit(":"),
          col("cand_id"))))
      .withColumn("_score", expr(hex8("_pd")))
      .drop("_b", "_pd")
    Ranking.topKPerGroup(pairs, "anchor_id", k,
        Seq(col("_score").asc, col("cand_id").asc),
        col("cand_id"), salts = 8, rankName = "neg_rank")
      .select(col("anchor_id"), col("anchor_stratum"), col("cand_id"),
        col("cand_stratum"), col("neg_rank"))
  }

  /** πps Poisson sampling + Horvitz–Thompson audit — importance
    * sampling proportional to size (token count, bytes…), the standard
    * way to subsample a corpus without biasing scale-sensitive
    * statistics. Unit i enters with probability π_i = min(1, n·w_i/W):
    * certainty units (n·w_i ≥ W) always enter; others enter iff
    * u_i·W < n·w_i·2³² — an EXACT integer comparison over the md5
    * uniform, no float probabilities. The audit row reports the HT
    * estimate of the total weight from the sample
    * (Σ certainty w + m·W/n, since each non-certainty unit carries
    * weight w_i/π_i = W/n) against the true W. ONE row:
    * `(n_units, n_certainty, n_sampled, total_w, ht_estimate,
    * rel_err)` (round 6).
    *
    * Determinism: inclusion is pure integer arithmetic on exact
    * DECIMAL(38,0) products; the HT epilogue is a fixed double op
    * sequence over exact integers, mirrored in the oracle. Poisson
    * sampling draws independently per unit — no coordination, no
    * global pass, STABLE UNDER APPENDS like every split here.
    *
    * Scale: one total-weight reduce (one-row broadcast), one map-side
    * inclusion pass, one count reduce. The corpus is scanned twice
    * (total, then sample) — materialize upstream if the scan is hot.
    */
  def ppsSample(df: DataFrame, idCol: String, weightCol: String,
      n: Long, salt: String = "pps"): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val u = df.select(col(idCol).as("_id"),
        col(weightCol).cast("long").as("_w"))
      .filter(col("_w") > 0)
      .withColumn("_d", md5(concat(lit(s"pps:$salt:"), col("_id"))))
      .withColumn("_u", expr(TextAnalysis.hexToIntSql("_d", 8)))
      .drop("_d")
    val tot = broadcast(u.agg(count(lit(1)).as("_n_units"),
      coalesce(sum(d38(col("_w"))), lit(0L).cast("decimal(38,0)"))
        .as("_wtot")))
    val marked = u.crossJoin(tot)
      .withColumn("_cert", d38(col("_w")) * n >= col("_wtot"))
      .withColumn("_in", col("_cert") ||
        d38(col("_u")) * col("_wtot") < d38(col("_w")) * n * 4294967296L)
    val agg = marked.agg(
      max(col("_n_units")).as("n_units"),
      sum(when(col("_cert"), 1L).otherwise(0L)).as("n_certainty"),
      sum(when(col("_in"), 1L).otherwise(0L)).as("n_sampled"),
      max(col("_wtot")).as("_tw"),
      sum(when(col("_cert"), d38(col("_w")))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("_sc"),
      sum(when(col("_in") && !col("_cert"), 1L).otherwise(0L)).as("_m"))
    val wD = col("_tw").cast("double"); val nD = lit(n.toDouble)
    val ht = col("_sc").cast("double") + col("_m").cast("double") * wD / nD
    agg.select(col("n_units"), col("n_certainty"), col("n_sampled"),
      col("_tw").cast("long").as("total_w"),
      round(ht, 6).as("ht_estimate"),
      when(wD > 0.0, round((ht - wD) / wD, 6)).as("rel_err"))
  }
}
