package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketches — the mergeable
  * cardinality estimator a corpus-monitoring pipeline keeps per shard /
  * per source (Bar-Yossef et al. 2002, "Counting distinct elements in a
  * data stream"). Unlike HLL the whole construction is exact integer +
  * one IEEE division: the sketch IS the k smallest 32-bit token-hash
  * values, so the estimate is bit-reproducible in any engine — which is
  * what lets the DuckDB oracle check it bitwise.
  *
  * Merge property (the reason sketches exist at 100 TB): the k smallest
  * of a UNION equal the k smallest of the union of per-part k-min sets —
  * so per-source sketches combine into the corpus sketch without
  * re-scanning text. kmvReport's `__all__` row is computed FROM the
  * per-source sketches; the oracle computes it directly from the corpus
  * — a hash match proves mergeability end-to-end (x91's contract, for
  * cardinality instead of similarity).
  *
  * Estimator: with m = |sketch|, if m < k the sketch is exhaustive and
  * the estimate is m (exact); else est = (k-1) · 2^32 / h_(k) where
  * h_(k) is the k-th smallest hash — one division of exact longs,
  * rounded to 6 (the x39 convention).
  */
object Sketches {

  private val HashSpace = 4294967296.0 // 2^32; tokenHash yields [0, 2^32)

  /** Per-group KMV sketch over the DISTINCT token set of `textCol`:
    * (group, hv, rnk) — the k smallest distinct hash values per group.
    * Token occurrences reduce to DISTINCT (group, tok) BEFORE hashing,
    * so md5 runs once per distinct token (not once per occurrence, and
    * never inlined 8× through hexToIntSql's digest re-reference — the
    * digest is a materialized column). Two-phase salted top-k
    * (Ranking.topKPerGroup) so no group funnels through one task; the
    * hash itself salts phase 1 (uniform by construction). */
  def kmvSketch(docs: DataFrame, k: Int, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val hashes = docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("tok"))
      .distinct()
      .select(col(groupCol), md5(col("tok")).as("_d"))
      .select(col(groupCol), expr(TextAnalysis.hexToIntSql("_d", 8)).as("hv"))
      // two tokens can share an 8-hex md5 prefix: the sketch is a SET of
      // hash values, so re-distinct on the (small, integer) hv rows
      .distinct()
    Ranking.topKPerGroup(hashes, groupCol, k, Seq(col("hv").asc),
      saltCol = col("hv"), salts = 16)
  }

  /** Estimate from a sketch: (group, n_sketch, kth_hash, kmv_estimate). */
  private def estimate(sketch: DataFrame, groupCol: String, k: Int): DataFrame =
    sketch.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_sketch"), max(col("hv")).as("kth_hash"))
      .select(col(groupCol), col("n_sketch"), col("kth_hash"),
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble * HashSpace) / col("kth_hash").cast("double"), 6))
          .as("kmv_estimate"))

  /** Per-source cardinality report + the merged `__all__` row, with the
    * exact distinct-token count alongside for error inspection. The
    * merged sketch is built FROM the per-source sketches (re-ranked over
    * k·sources rows — no second corpus pass); its exact count is the
    * only whole-corpus aggregation. */
  def kmvReport(docs: DataFrame, k: Int, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("tok"))
    // MATERIALIZED, not persist()ed (round-20 cache-hygiene fix): the
    // sketch feeds two consumers, but a persist here was never
    // unpersisted — the lazy result kept referencing it, so every call
    // left a registered cache entry for the session's lifetime (the
    // round-5 lifecycle discipline violated; visible whenever the
    // suite-order exposed ExtensionSpec's cacheIsEmpty invariant). The
    // sketch is O(k·groups) short rows — an eager checkpoint is
    // cheaper than the corpus-scale recompute either way.
    val sketch = Checkpoints.materialize(kmvSketch(docs, k, groupCol, textCol))

    val perSource = estimate(sketch, groupCol, k)
      .join(toks.groupBy(col(groupCol))
        .agg(countDistinct(col("tok")).as("n_exact")), Seq(groupCol))

    // merged: k smallest distinct hvs across every per-source sketch —
    // O(k · sources) rows, driver-free re-rank
    val mergedSketch = sketch.select(col("hv")).distinct()
      .withColumn("_g", lit("__all__"))
    val w = Window.partitionBy(col("_g")).orderBy(col("hv").asc)
    val mergedTop = mergedSketch
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    val merged = estimate(mergedTop.withColumnRenamed("_g", groupCol), groupCol, k)
      .crossJoin(toks.agg(countDistinct(col("tok")).as("n_exact")))

    perSource.unionByName(merged)
      .select(col(groupCol), col("n_sketch"), col("kth_hash"),
        col("kmv_estimate"), col("n_exact"))
  }

  /** Snapshot-to-snapshot distinct-token cardinality diff WITHOUT a
    * union re-scan: the union estimate is built by merging the two
    * snapshots' k-min sketches (the KMV merge property), so an
    * incremental pipeline can answer "how many new tokens did this crawl
    * add?" from per-snapshot sketches alone. The exact distinct counts
    * ride along for error inspection (the one whole-corpus aggregation,
    * same audit posture as [[kmvReport]]).
    *
    * One wide row: sketch estimates for old / new / union, the derived
    * added/removed estimates (union−old is mass only the new snapshot
    * contributes, union−new the mass only the old one did), and the
    * three exact counts.
    */
  def kmvSnapshotDiff(oldDocs: DataFrame, newDocs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    val tagged = oldDocs.select(lit("old").as("_snap"), col(textCol))
      .unionByName(newDocs.select(lit("new").as("_snap"), col(textCol)))
    // materialized for the same cache-hygiene reason as kmvReport's
    val sketch = Checkpoints.materialize(kmvSketch(tagged, k, "_snap", textCol))
    val perSnap = estimate(sketch, "_snap", k)
    // union sketch: k smallest distinct hvs across BOTH k-min sets —
    // O(2k) rows, no text re-read
    val w = Window.partitionBy(col("_snap")).orderBy(col("hv").asc)
    val mergedTop = sketch.select(col("hv")).distinct()
      .withColumn("_snap", lit("union"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    val est = perSnap.unionByName(estimate(mergedTop, "_snap", k))
    val toks = tagged
      .select(col("_snap"), explode(split(col(textCol), " ")).as("tok"))
    val exact = toks.groupBy(col("_snap"))
      .agg(countDistinct(col("tok")).as("n_exact"))
      .unionByName(toks.select(lit("union").as("_snap"), col("tok"))
        .groupBy(col("_snap")).agg(countDistinct(col("tok")).as("n_exact")))
    def pick(snap: String, c: String) =
      max(when(col("_snap") === snap, col(c)))
    est.join(exact, Seq("_snap"))
      .groupBy()
      .agg(pick("old", "kmv_estimate").as("est_old"),
        pick("new", "kmv_estimate").as("est_new"),
        pick("union", "kmv_estimate").as("est_union"),
        pick("old", "n_exact").as("exact_old"),
        pick("new", "n_exact").as("exact_new"),
        pick("union", "n_exact").as("exact_union"))
      .select(col("est_old"), col("est_new"), col("est_union"),
        round(col("est_union") - col("est_old"), 6).as("est_added"),
        round(col("est_union") - col("est_new"), 6).as("est_removed"),
        col("exact_old"), col("exact_new"), col("exact_union"))
  }

  /** The map-side cell stage alone: one (d, bucket) row per token
    * occurrence per depth — shared by the batch sketch aggregate and
    * the streaming monitor's stateful cells. */
  def cmsCells(docs: DataFrame, depth: Int, width: Int,
      textCol: String = "text"): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CMS shape $depth x $width")
    // digests materialized once per (token, depth) BEFORE the hex fold
    // references them 8x — the tokenHashSql bulk-column rule
    val withD = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .select((0 until depth).map(d =>
        md5(concat(lit(s"cms:$d:"), col("tok"))).as(s"_d$d")): _*)
    val cells = (0 until depth).map { d =>
      struct(lit(d).as("d"),
        expr(s"(${TextAnalysis.hexToIntSql(s"_d$d", 8)} % $width)")
          .as("bucket"))
    }
    withD.select(explode(array(cells: _*)).as("c"))
      .select(col("c.d").as("d"), col("c.bucket").as("bucket"))
  }

  /** Count-min sketch over the token stream: `depth` independent
    * md5-salted hash rows × `width` buckets, each cell the count of
    * tokens hashing into it. The sketch is MERGEABLE (cell-wise add
    * across partitions, shards, or stream micro-batches) and bounded:
    * depth×width longs regardless of corpus size — the 100 TB
    * frequency-estimation path when the exact (group, token) aggregate
    * is too wide.
    *
    * Built as ONE aggregate: every token occurrence explodes into
    * `depth` (d, bucket) cells map-side (digest materialized once per
    * row per depth), the groupBy combines map-side into ≤ depth×width
    * rows. Returns (d, bucket, cnt).
    */
  def cmsSketch(docs: DataFrame, depth: Int = 4, width: Int = 1024,
      textCol: String = "text"): DataFrame =
    cmsCells(docs, depth, width, textCol)
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** CMS heavy-hitter audit: estimate the counts of the `topK` true
    * heaviest tokens from the sketch and report estimate vs exact — the
    * overestimate (always ≥ 0; CMS never undercounts) is the
    * collision-error the width bound buys. Output (token, exact, est,
    * overestimate), ordered (exact DESC, token) — deterministic cut.
    *
    * Scale: exact counts are the one corpus-scale aggregate (needed for
    * the audit only — production queries the sketch alone); the probe
    * join touches topK×depth cells against the depth×width sketch.
    */
  def cmsHeavyHitters(docs: DataFrame, topK: Int = 10, depth: Int = 4,
      width: Int = 1024, textCol: String = "text"): DataFrame = {
    val sketch = cmsSketch(docs, depth, width, textCol)
    val exact = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok")).limit(topK)
    val probes = exact.select(col("tok"), col("exact"),
        explode(array((0 until depth).map(d => struct(lit(d).as("d"),
          expr(s"(${TextAnalysis.hexToIntSql(s"md5(concat('cms:$d:', tok))", 8)}" +
            s" % $width)").as("bucket"))): _*)).as("c"))
      .select(col("tok"), col("exact"), col("c.d"), col("c.bucket"))
    probes.join(broadcast(sketch), Seq("d", "bucket"))
      .groupBy(col("tok"), col("exact"))
      .agg(min(col("cnt")).as("est"))
      .select(col("tok").as("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overestimate"))
      .orderBy(col("exact").desc, col("token"))
  }

  /** HyperLogLog distinct-token estimate (Flajolet et al. 2007), built
    * so every step is EXACT integer arithmetic until one final division
    * — the property that lets the DuckDB oracle replay it bitwise, which
    * float 2^-M harmonic sums would forbid:
    *
    *  - 32-bit token hash (the KMV hash convention); top `p` bits pick
    *    the register, rho = leading-zero rank of the remaining w = 32−p
    *    bits via `length(bin(rest))` (both engines format integers to
    *    minimal binary — no libm log2);
    *  - the harmonic denominator Σ 2^−M_j is kept as the exact BIGINT
    *    Σ 2^(E−M_j), E = w+1 (common denominator 2^E; ≤ m·2^E = 2^33 <
    *    2^63), empty registers contributing 2^E each — an
    *    order-independent integer sum;
    *  - estimate = alpha_m · m² · 2^E / Σ — identical literal-derived
    *    IEEE ops on both engines — with the standard SMALL-RANGE
    *    correction: when zero registers remain and the raw estimate is
    *    <= 2.5m, linear counting m·ln(m/V) applies (ln is libm — the
    *    branch is rounded to 6, the x22 tf-idf convention). p >= 7 so
    *    the single alpha formula applies.
    *
    * ONE row: `p, m, n_obs, n_exact, estimate, rel_err`. Registers merge
    * by MAX — the sketch unions across shards without re-scanning text
    * (the KMV posture). Scale: distinct-token reduce, m-row register
    * aggregate, one-row math; the exact count rides along for the audit
    * only.
    */
  def hllReport(docs: DataFrame, p: Int = 10,
      textCol: String = "text"): DataFrame = {
    require(p >= 7 && p <= 16, s"need 7 <= p <= 16, got $p")
    val m = 1 << p
    val w = 32 - p
    val e = w + 1
    val toks = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .distinct()
    val regs = toks.select(md5(col("tok")).as("_d"))
      .select(expr(TextAnalysis.hexToIntSql("_d", 8)).as("hv"))
      .select(expr(s"hv div ${1L << w}").as("bucket"),
        expr(s"hv % ${1L << w}").as("rest"))
      .select(col("bucket"),
        when(col("rest") === 0, lit(e))
          .otherwise(lit(e) - length(bin(col("rest")))).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m_j"))
    val obs = regs.agg(count(lit(1)).as("n_obs"),
      expr(s"sum(shiftleft(CAST(1 AS BIGINT), $e - m_j))").as("_sobs"))
    val exact = broadcast(toks.agg(count(lit(1)).as("n_exact")))
    val num = (col("_sobs") +
      (lit(m.toLong) - col("n_obs")) * lit(1L << e)).cast("double")
    // identical literal-derived arithmetic on both engines: the alpha
    // expression and the m²·2^E factor are spelled the same way in the
    // oracle SQL, left-associated
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / m) *
      m * m * (1L << e).toDouble / num
    val zeros = lit(m.toLong) - col("n_obs")
    val est = when(zeros > 0 && raw <= 2.5 * m,
      round(lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")), 6))
      .otherwise(round(raw, 6))
    obs.crossJoin(exact)
      .select(lit(p).as("p"), lit(m.toLong).as("m"), col("n_obs"),
        col("n_exact"), est.as("estimate"),
        when(col("n_exact") =!= 0,
          round((est - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 6)).as("rel_err"))
  }

  /** KMV join-cardinality estimate: how many DISTINCT keys of `a`
    * match `b` — the FK-match planner statistic — WITHOUT a join,
    * from two k-min sketches and their merge:
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)` (inclusion-exclusion; the
    * union sketch is the k smallest of the two k-min SETS, the kmv
    * merge property). ONE row: `(k, n_a_exact, n_b_exact,
    * n_inter_exact, est_a, est_b, est_union, est_inter, rel_err)` —
    * exact sides ride along for error inspection (the kmvReport
    * convention; at scale they are the expensive audit, the sketches
    * are the product).
    *
    * Determinism: hashes are exact integers (md5 prefix), each
    * estimate ONE IEEE division (the kmvSketch formula, m<k exact
    * branch included), est_inter a clamp of three such values —
    * bitwise on any engine. Scale: per side, one distinct reduce +
    * a TakeOrdered k-min (per-partition top-k, no global sort); the
    * union re-ranks 2k rows.
    */
  def kmvJoinEstimate(dfA: DataFrame, keyA: org.apache.spark.sql.Column,
      dfB: DataFrame, keyB: org.apache.spark.sql.Column,
      k: Int = 256, salt: String = "kmvj"): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    def hashes(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      df.select(key.cast("string").as("_k"))
        .filter(col("_k").isNotNull).distinct()
        .select(md5(concat(lit(s"$salt:"), col("_k"))).as("_d"))
        .select(expr(TextAnalysis.hexToIntSql("_d", 8)).as("hv"))
        .distinct()
    def kmin(h: DataFrame): DataFrame = h.orderBy(col("hv")).limit(k)
    def est(sk: DataFrame, name: String): DataFrame =
      sk.agg(count(lit(1)).as("_m"), max(col("hv")).as("_kth"))
        .select(when(col("_m") < k, col("_m").cast("double"))
          .otherwise(round(lit((k - 1).toDouble * HashSpace) /
            col("_kth").cast("double"), 6)).as(name))
    val ha = hashes(dfA, keyA)
    val hb = hashes(dfB, keyB)
    val ka = kmin(ha)
    val kb = kmin(hb)
    val ku = kmin(ka.union(kb).distinct())
    val exactA = dfA.select(keyA.cast("string").as("_k"))
      .filter(col("_k").isNotNull).distinct()
    val exactB = dfB.select(keyB.cast("string").as("_k"))
      .filter(col("_k").isNotNull).distinct()
    val exacts = exactA.agg(count(lit(1)).as("n_a_exact"))
      .crossJoin(broadcast(exactB.agg(count(lit(1)).as("n_b_exact"))))
      .crossJoin(broadcast(exactA.join(exactB, Seq("_k"), "left_semi")
        .agg(count(lit(1)).as("n_inter_exact"))))
    val one = exacts
      .crossJoin(broadcast(est(ka, "est_a")))
      .crossJoin(broadcast(est(kb, "est_b")))
      .crossJoin(broadcast(est(ku, "est_union")))
    val inter = greatest(lit(0.0),
      col("est_a") + col("est_b") - col("est_union"))
    one.select(lit(k.toLong).as("k"), col("n_a_exact"),
      col("n_b_exact"), col("n_inter_exact"), col("est_a"),
      col("est_b"), col("est_union"), round(inter, 6).as("est_inter"),
      when(col("n_inter_exact") =!= 0,
        round((inter - col("n_inter_exact").cast("double")) /
          col("n_inter_exact").cast("double"), 6)).as("rel_err"))
  }

  /** AMS F₂ sketch (Alon-Matias-Szegedy 1996): estimate the second
    * frequency moment Σ_k c_k² — the SELF-JOIN SIZE of a key column,
    * the planner statistic behind "how big does this join get" — from
    * b random-sign counters instead of a per-key groupBy. ONE row:
    * `(n_rows, n_keys, f2_exact, f2_est, rel_err)` (exact rides along
    * for error inspection, the kmv/hll convention).
    *
    * Counter j is Σ_rows s_j(key) with s_j(key) = ±1 from bit j of
    * md5(salt:key) — equal to `n_rows − 2·|{rows: bit_j set}|`, so the
    * construction reuses the BRR bit-explode verbatim and each
    * estimate c_j² is an exact integer. Group means (b/groups
    * per group) divide by a power of two and the final median of
    * `groups` means averages the two middle values — BOTH divisions
    * dyadic, so f2_est is exact-integer-derived and bitwise
    * reproducible on any engine.
    *
    * Merge property: counters are SUMS over rows — per-shard sketches
    * add cell-wise (the CMS posture). Scale: one md5 per row, a b-way
    * explode-filter into ONE map-side-combined (j) reduce (b bounds
    * the pass, default 64), an O(b) epilogue; the exact side is one
    * per-key reduce.
    */
  def amsF2(df: DataFrame, keyCol: org.apache.spark.sql.Column,
      b: Int = 64, groups: Int = 4, salt: String = "ams"): DataFrame = {
    require(b >= 2 && b <= 64 && (b & (b - 1)) == 0,
      s"need b a power of two in [2, 64], got $b")
    require(groups >= 2 && b % groups == 0 && groups % 2 == 0,
      s"need even groups dividing b, got $groups of $b")
    val perGroup = b / groups
    val rows = df.select(keyCol.cast("string").as("_k"))
      .filter(col("_k").isNotNull)
      .withColumn("_h", md5(concat(lit(s"$salt:"), col("_k"))))
    val exact = rows.groupBy(col("_k")).agg(count(lit(1)).as("_c"))
      .agg(count(lit(1)).as("n_keys"), sum(col("_c")).as("n_rows"),
        sum(col("_c") * col("_c")).as("f2_exact"))
    // bit r of the digest depends only on the NIBBLE at position
    // r div 4 — so the corpus-scale pass counts (position, nibble)
    // occurrences (a b/4-way explode into a ≤ 16·16-group map-side
    // reduce, 4× less explode volume than testing each of the b bits
    // per row) and every bit counter is derived from the 256-row
    // summary in the epilogue
    val nibblePos = b / 4 // bits b..63 would need more hex positions
    val nibbleCounts = rows
      .select(posexplode(expr(s"transform(sequence(1, $nibblePos), " +
        "i -> instr('0123456789abcdef', substr(_h, i, 1)) - 1)"))
        .as(Seq("_p", "_v")))
      .groupBy(col("_p"), col("_v")).agg(count(lit(1)).as("_c"))
    // zero-fill absent replicates (a bit nobody set still has counter n)
    val allReps = df.sparkSession.range(b).select(col("id").as("_r"))
      .join(nibbleCounts.withColumnRenamed("_p", "_rp"),
        expr("_rp = _r div 4 and ((_v >> (_r % 4)) & 1) = 1"), "left")
      .groupBy(col("_r"))
      .agg(coalesce(sum(col("_c")), lit(0L)).as("_c1"))
    val est = allReps.crossJoin(broadcast(exact))
      .select(col("_r"), col("n_keys"), col("n_rows"), col("f2_exact"),
        (col("n_rows") - lit(2L) * col("_c1")).as("_ctr"))
      .groupBy((col("_r") / lit(perGroup)).cast("long").as("_g"),
        col("n_keys"), col("n_rows"), col("f2_exact"))
      .agg((sum(col("_ctr") * col("_ctr")).cast("double") /
        lit(perGroup.toDouble)).as("_mean"))
      .groupBy(col("n_keys"), col("n_rows"), col("f2_exact"))
      .agg(sort_array(collect_list(col("_mean"))).as("_means"))
    est.select(col("n_rows"), col("n_keys"), col("f2_exact"),
      ((element_at(col("_means"), groups / 2) +
        element_at(col("_means"), groups / 2 + 1)) / lit(2.0))
        .as("f2_est"),
      when(col("f2_exact") =!= 0,
        round(((element_at(col("_means"), groups / 2) +
          element_at(col("_means"), groups / 2 + 1)) / lit(2.0) -
          col("f2_exact").cast("double")) /
          col("f2_exact").cast("double"), 6)).as("rel_err"))
  }

  /** Hashed-rate-sample quantile estimator + rank-error audit — the
    * 100 TB SCALE PATH for quantiles: exact decomposed-rank quantiles
    * (x23/x192) pay a full |distinct| prefix pass; at corpus scale the
    * standard move is a deterministic 1/rate hash sample (include a
    * row iff its md5 uniform < ⌊2³²/rate⌋ — reproducible, mergeable,
    * append-stable), quantiles read from the sample, and THIS audit
    * quantifies the rank error against the exact answer. One row per
    * requested percentile: `(pct, n, m, est, exact, abs_err,
    * rank_err)` — rank_err = |rank_full(est) − ⌈pct·n/100⌉| / n
    * (round 6), the sample-quantile displacement in rank space.
    *
    * Determinism: inclusion is an integer threshold compare; both
    * rank selections are exact (decomposed prefix sums on the shared
    * value table, target rank ⌈pct·n/100⌉ in pure integer arithmetic);
    * rank_err is one double division.
    *
    * Scale: ONE (value) reduce builds a value table carrying both the
    * full and the sampled counts; two decomposed prefix passes on
    * |distinct| rows; a ≤|pcts|-row epilogue from one-row broadcasts.
    */
  def sampledQuantileAudit(df: DataFrame,
      valueCol: org.apache.spark.sql.Column, idCol: org.apache.spark.sql.Column,
      rate: Int = 16, pcts: Seq[Int] = Seq(50, 90, 99),
      salt: String = "sq"): DataFrame = {
    require(rate >= 2 && rate <= (1 << 20),
      s"need rate in [2,2^20], got $rate")
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1,100], got $pcts")
    val threshold = (1L << 32) / rate
    val base = df.select(valueCol.cast("long").as("_v"),
        md5(concat(lit(s"sq:$salt:"), idCol)).as("_d"))
      .filter(col("_v").isNotNull)
      .withColumn("_u", expr(TextAnalysis.hexToIntSql("_d", 8)))
    val vals = Checkpoints.materialize(
      base.groupBy(col("_v")).agg(count(lit(1)).as("_cf"),
        sum(when(col("_u") < threshold, 1L).otherwise(0L)).as("_cs"))
        .select(lit(0L).as("_one"), col("_v"), col("_cf"), col("_cs")))
    val preF = Ranking.withGroupPrefixSums(
      vals.select(col("_one"), col("_v"), col("_cf")), "_one",
      Seq("_v" -> true), "_cf", rankCol = "_if", prefixCol = "_cumf")
    val preS = Ranking.withGroupPrefixSums(
      vals.filter(col("_cs") > 0)
        .select(col("_one"), col("_v"), col("_cs")), "_one",
      Seq("_v" -> true), "_cs", rankCol = "_is", prefixCol = "_cums")
    val tot = broadcast(vals.agg(
      coalesce(sum(col("_cf")), lit(0L)).as("_n"),
      coalesce(sum(col("_cs")), lit(0L)).as("_m")))
    val grid = df.sparkSession
      .createDataFrame(pcts.map(Tuple1(_))).toDF("pct")
      .select(col("pct").cast("long").as("pct")).crossJoin(tot)
      .withColumn("_tf", expr("(pct * _n + 99) div 100"))
      .withColumn("_ts", expr("greatest((pct * _m + 99) div 100, 1)"))
    val exact = grid.join(preF.select(col("_v"), col("_cumf")),
        col("_cumf") >= col("_tf"))
      .groupBy(col("pct")).agg(min(col("_v")).as("exact"))
    val est = grid.join(preS.select(col("_v").as("_sv"), col("_cums")),
        col("_cums") >= col("_ts"))
      .groupBy(col("pct")).agg(min(col("_sv")).as("est"))
    // rank of est in the FULL distribution: cumulative count at est
    val estRank = est.join(preF.select(col("_v"), col("_cumf")),
        est("est") === col("_v"))
      .select(col("pct"), col("est"), col("_cumf").as("_rkest"))
    grid.select(col("pct"), col("_n").as("n"), col("_m").as("m"),
        col("_tf"))
      .join(estRank, Seq("pct")).join(exact, Seq("pct"))
      .select(col("pct"), col("n"), col("m"), col("est"), col("exact"),
        abs(col("est") - col("exact")).as("abs_err"),
        round(abs(col("_rkest") - col("_tf")).cast("double")
          / col("n").cast("double"), 6).as("rank_err"))
  }
}
