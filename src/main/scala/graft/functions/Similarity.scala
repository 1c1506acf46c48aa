package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity over `ArrayType` embedding columns.
  *
  * Similarity arithmetic is codegen'd expressions (VectorExpressions and
  * `zip_with`/`aggregate`), so whole-stage codegen spans it (SURVEY.md
  * north-star: similarity search). The two kernels over a driver-side
  * index — nearest-centroid argmax ([[nearestCell]]) and sign-LSH band
  * keys ([[broadcastBandKeys]]) — are deterministic Scala UDFs over one
  * broadcast instead, so the plan does not grow with k or the plane
  * count.
  *
  * Scale design:
  *   - brute-force top-k broadcasts the (small) query set against the
  *     candidate corpus — a map-only pass over 100 TB, no shuffle until the
  *     final per-query top-k (TakeOrdered-style window on k·|queries| rows);
  *   - the LSH path buckets vectors by deterministic random-hyperplane
  *     signs, so candidate generation is an equi-join on bucket id — the
  *     cross product never materializes.
  */
object Similarity {

  /** Sequential left fold dot product via composable higher-order
    * functions — the reference implementation the native expression is
    * checked against (identical fold order → identical bits).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / sqrt(norm2(a) * norm2(b))

  /** Hot-path forms: fused single-pass codegen expressions
    * (VectorExpressions) with the same sequential arithmetic.
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotNative(a, b)

  def cosine(a: Column, b: Column): Column = VectorExpressions.cosineNative(a, b)

  /** Deterministic ±1 hyperplane signs: plane p, dimension d → sign from the
    * first hex digit of md5("p:d") (public well-known construction: random
    * hyperplane LSH, Charikar 2002; md5 stands in for a seeded RNG so the
    * same planes are reproducible in any engine).
    */
  def planeSigns(nPlanes: Int, dim: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1 else -1
    }
  }

  /** Sign-LSH bucket id (0 until 2^nPlanes) for an embedding column:
    * the one-band case of [[broadcastBandKeys]] (bit i set when the dot
    * with plane i of [[planeSigns]] is positive; null embedding → 0).
    * Int-typed bucket: nPlanes is capped at 31 (wider bucketing goes
    * through [[stackedEmbeddingBandKeys]], whose long keys shift up to
    * 62 planes per band). */
  def lshBucket(emb: Column, nPlanes: Int, dim: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 31,
      s"lshBucket shifts Int bucket bits: need 1 <= nPlanes <= 31, " +
        s"got $nPlanes (use stackedEmbeddingBandKeys for wider keys)")
    element_at(broadcastBandKeys(emb, 1, nPlanes, dim), 1).cast("int")
  }

  /** Exact brute-force cosine top-k: for each row of `queries`, the k
    * nearest rows of `candidates` (excluding self when ids collide).
    * `queries` is broadcast; the join is a map-side nested loop over the
    * candidate partitions.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(embCol).cast("array<double>").as("q_emb")))
    val c = candidates.select(
      col(idCol).as("neighbor_id"), col(embCol).cast("array<double>").as("c_emb"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // salted two-phase top-k: even the brute-force baseline must not
    // funnel a whole corpus scan through one per-query window task
    graft.ops.Ranking.topKPerGroup(scored, "query_id", k,
        Seq(col("sim").desc, col("neighbor_id").asc),
        saltCol = col("neighbor_id"), salts = 16)
      .select(col("query_id"), col("rnk").cast("int").as("rk"),
        col("neighbor_id"), col("sim"))
  }

  /** Centroid rows pulled to the driver — O(k·d) BY DESIGN (the MLlib
    * pattern: centroids live on the driver between corpus passes).
    * Expects `(cent_id, ce)` columns; sorted by cent_id so every
    * consumer iterates the same deterministic order.
    */
  private[graft] def collectCentroids(cents: DataFrame): Seq[(Long, Seq[Double])] =
    cents.select(col("cent_id").cast("long"), col("ce").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** The nearest-centroid argmax [[nearestCell]] and
    * [[withNearestCellSim]] run per row: max round-6 cosine with the
    * SMALLEST cent_id on ties, i.e. exactly the `(sim DESC, cent_id
    * ASC)` window top-1. The cosine is [[VectorExpressions.CosineSim]]'s
    * single-pass fold over the common prefix, the rounding Catalyst
    * Round(…, 6)'s (NaN/Infinity unrounded, else BigDecimal.valueOf +
    * HALF_UP), and the order java.lang.Double.compare's, in which NaN
    * is largest (an all-zero vector's NaN sims all tie, so the smallest
    * cent_id wins). Returns (best cent_id, its round-6 sim). */
  private[graft] def bestCellKernel(arr: Array[Double], cids: Array[Long],
      m: Array[Array[Double]]): (Long, Double) = {
    var bestSim = 0.0
    var bestCid = 0L
    var first = true
    var i = 0
    while (i < m.length) {
      val c = m(i)
      val n = math.min(arr.length, c.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < n) {
        val x = arr(j); val y = c(j)
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      val raw = dot / math.sqrt(na * nb)
      val sim =
        if (java.lang.Double.isNaN(raw) || java.lang.Double.isInfinite(raw)) raw
        else java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val cmp = java.lang.Double.compare(sim, bestSim)
      if (first || cmp > 0 || (cmp == 0 && cids(i) < bestCid)) {
        bestSim = sim; bestCid = cids(i); first = false
      }
      i += 1
    }
    (bestCid, bestSim)
  }

  /** Centroids as [[bestCellKernel]] reads them, shipped once per
    * executor as one Spark broadcast instead of being inlined into the
    * plan, so the plan and its generated code stay the same at any k. */
  private def broadcastCentroids(cents: Seq[(Long, Seq[Double])]) = {
    require(cents.nonEmpty, "nearest-centroid argmax needs >= 1 centroid")
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
      (cents.map(_._1).toArray, cents.map(_._2.toArray).toArray))
  }

  /** MAP-ONLY nearest-centroid cell id: one deterministic Scala UDF call
    * per row runs [[bestCellKernel]] over the broadcast centroids, so
    * every cell-only consumer (assignment, the Lloyd loop, PQ codes, IVF
    * probes) is a bare projection: no join, no window, no exchange, no
    * n×k rows anywhere. Null embedding → null cell. */
  private[graft] def nearestCell(e: Column,
      cents: Seq[(Long, Seq[Double])]): Column = {
    val b = broadcastCentroids(cents)
    val f = udf((v: Seq[Double]) => {
      if (v == null) null.asInstanceOf[java.lang.Long]
      else {
        val (cids, m) = b.value
        java.lang.Long.valueOf(bestCellKernel(v.toArray, cids, m)._1)
      }
    })
    f(e)
  }

  /** `vecs` + a `cell` column (nearest centroid), map-only — the shape
    * every quantizer consumer wants: no assignment frame, no join back.
    * Empty centroid set ⇒ empty output with the right schema (the old
    * crossJoin semantics). */
  private def withNearestCell(vecs: DataFrame, e: Column,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    if (cents.isEmpty)
      vecs.withColumn("cell", lit(null).cast("long")).limit(0)
    else vecs.withColumn("cell", nearestCell(e, cents))

  /** `vecs` + `cell` AND `sim` (round-6 cosine to the OWN centroid) in
    * one map-only pass: one UDF call per row returns both from
    * [[bestCellKernel]] (null embedding → null cell and sim). The struct
    * is staged as a multiply-referenced alias so CollapseProject keeps
    * it computed once (the quantizeInt8 staging lesson). */
  private[graft] def withNearestCellSim(vecs: DataFrame, e: Column,
      cents: Seq[(Long, Seq[Double])]): DataFrame =
    if (cents.isEmpty)
      vecs.withColumn("cell", lit(null).cast("long"))
        .withColumn("sim", lit(null).cast("double")).limit(0)
    else {
      val b = broadcastCentroids(cents)
      val f = udf((v: Seq[Double]) => {
        if (v == null) null.asInstanceOf[(java.lang.Long, java.lang.Double)]
        else {
          val (cids, m) = b.value
          val (cell, sim) = bestCellKernel(v.toArray, cids, m)
          (java.lang.Long.valueOf(cell), java.lang.Double.valueOf(sim))
        }
      })
      vecs.withColumn("_b", f(e))
        .withColumn("cell", col("_b").getField("_1"))
        .withColumn("sim", col("_b").getField("_2"))
        .drop("_b")
    }

  /** IVF coarse quantizer: centroids are the first `nCells` vectors by id
    * — a deterministic, oracle-reproducible stand-in for trained k-means
    * centroids (swap in real centroids at scale; the plumbing is
    * identical). Returns (idCol, cell).
    *
    * Scale: centroids collect to the driver (O(k·d)); assignment is a
    * map-only argmax — zero shuffle (see [[nearestCell]]).
    */
  def ivfAssign(df: DataFrame, nCells: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = df.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).cast("long").as("cent_id"),
        col(embCol).cast("array<double>").as("ce"))
    assignToCentroids(df, cents, idCol, embCol)
  }

  /** Assign every vector to its nearest centroid (by cosine, deterministic
    * tie on cent_id — the `(sim DESC, cent_id ASC)` contract). Centroids
    * collect to the driver (O(k·d), the MLlib pattern) and the argmax is
    * ONE map-only [[nearestCell]] call per row — no crossJoin, no
    * window, no exchange anywhere in the assignment subplan (round-16
    * verdict Next #1; PlanSpec pins the shape). */
  def assignToCentroids(df: DataFrame, cents: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cs = collectCentroids(cents)
    if (cs.isEmpty)
      df.select(col(idCol), lit(null).cast("long").as("cell")).limit(0)
    else df.select(col(idCol),
      nearestCell(col(embCol).cast("array<double>"), cs).as("cell"))
  }

  /** Lloyd's k-means over the embedding column — real trained centroids
    * for the IVF quantizer (replaces the first-N stand-in).
    *
    * Determinism/oracle design: init = first `nCells` vectors by id;
    * assignment = cosine rounded to 6 places with cent_id tie-break; the
    * centroid update sums FIXED-POINT components (floor(x·10^6) as BIGINT
    * — exact, order-independent addition in any engine) and divides back
    * in one double expression. Every iteration is therefore bit-identical
    * in Spark and DuckDB, so even the trained quantizer is oracle-checked.
    *
    * Scale: each iteration is ONE job — a map-only fused
    * (argmax assignment + fixed-point quantize) pass into a single
    * per-cell elementwise array-sum aggregation
    * ([[Aggregators.sumLongArrays]]: map-side combine leaves k·d longs
    * per task at the exchange, never n·d component rows). Centroids
    * live on the driver between passes (O(k·d) — the MLlib pattern),
    * so no lineage accumulates across iterations. Empty cells keep
    * their previous centroid via a driver lookup.
    */
  def kmeansCentroids(df: DataFrame, nCells: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    kmeansCentroidSeq(df, nCells, iters, idCol, embCol).toDF("cent_id", "ce")
  }

  /** The Lloyd loop with centroids living DRIVER-SIDE between passes —
    * O(k·d) by design, exactly what Spark MLlib's KMeans does. ONE job
    * per iteration (the (cell, pos) sum aggregation, whose map side
    * fuses the nearest-centroid argmax and the component explode); the
    * empty-cell keep-previous rule is a driver Map lookup, not a join.
    * Internal consumers take this Seq directly so the whole trained
    * family adds zero extra jobs beyond init + iters.
    */
  private[graft] def kmeansCentroidSeq(df: DataFrame, nCells: Int,
      iters: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): Seq[(Long, Seq[Double])] = {
    val vecs = df.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("e"))
    var cs = collectCentroids(vecs.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").cast("long").as("cent_id"), col("e").as("ce")))
    var it = 0
    while (it < iters && cs.nonEmpty) {
      // ONE exchange per iteration: quantize each vector to fixed-point
      // longs map-side and sum them ELEMENTWISE per cell
      // (Aggregators.sumLongArrays — exact, order-independent long
      // addition, k·d-long buffers). The previous shape posexploded the
      // corpus to n·d (cell, pos, comp) rows through a (cell, pos) agg
      // plus a second collect_list exchange — 64× the rows and twice
      // the barriers for the same bits.
      // A null/short/overlong embedding FAILS the iteration loudly (the
      // x104 audit convention) instead of silently deflating a centroid:
      // such a row would land in a cell and increment n while
      // sumLongArrays skips its missing components (the old posexplode
      // form excluded it from both sum and count). assert_true returns
      // null on pass, so the `when` wrapper keeps the check per-row
      // inside the same codegen'd projection — zero extra jobs.
      val d = cs.head._2.size
      val dimOk = assert_true(size(col("e")) === d,
        lit(s"kmeansCentroids: embedding with size != $d (or NULL) in " +
          "the training pass — clean or filter the corpus first " +
          "(graft.ops.Multimodal/TextAnalysis audits locate such rows)"))
      val fresh = vecs
        .select(when(dimOk.isNull, nearestCell(col("e"), cs)).as("cell"),
          transform(col("e"), x => floor(x * 1000000.0).cast("long"))
            .as("q"))
        .groupBy(col("cell"))
        .agg(Aggregators.sumLongArrays(col("q")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(2)
          // same IEEE ops as the old per-(cell,pos) expression:
          // long -> double, / 1e6, / n
          r.getLong(0) -> r.getSeq[Long](1)
            .map(v => v.toDouble / 1000000.0 / n.toDouble)
        }.toMap
      // empty cells keep their previous centroid (the old left-join
      // coalesce, as a driver lookup); order stays cent_id-sorted
      cs = cs.map { case (cid, ce) => (cid, fresh.getOrElse(cid, ce)) }
      it += 1
    }
    cs
  }

  /** IVF assignment against k-means-trained centroids — map-only over
    * the driver-side trained Seq (no centroid frame, no extra jobs). */
  def ivfAssignKmeans(df: DataFrame, nCells: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cs = kmeansCentroidSeq(df, nCells, iters, idCol, embCol)
    if (cs.isEmpty)
      df.select(col(idCol).as("vec_id"), lit(null).cast("long").as("cell"))
        .limit(0)
    else df.select(col(idCol).as("vec_id"),
      nearestCell(col(embCol).cast("array<double>"), cs).as("cell"))
  }

  /** Simplified (centroid-based) silhouette — the clustering-quality
    * gate for the k-means cells: per vector, a = cosine distance to
    * its OWN centroid and b = distance to the nearest OTHER centroid,
    * so with sims s1 ≥ s2 the score is `(s1 − s2)/(1 − s2)` ∈ [0, 1]
    * here (a ≤ b by construction of the assignment; classic silhouette
    * would be (b−a)/max(a,b) on the full pairwise form, O(n²) — the
    * centroid form is the standard linear-time proxy). Rows per cell:
    * `(cell, n_vecs, n_scored, mean_silhouette)`; a vector whose
    * second-best centroid has sim 1 (duplicate centroids) is unscored.
    *
    * Determinism: sims are the round-6 assignment convention; the
    * per-vector score is rounded to 12 and DECIMAL-summed (x103), the
    * mean one division. Scale: the per-vector top-2 is MAP-ONLY — the
    * k centroid sims are staged once as an array (a multiply-referenced
    * alias CollapseProject keeps), the argmax is `greatest` over one
    * `struct(sim, -cent_id)` per slot, and the runner-up is `greatest`
    * over the OTHER centroids' slots (null = own slot, skipped) — so
    * nothing n×k ever reaches an exchange; the only shuffle is the
    * per-cell mean.
    */
  def silhouette(df: DataFrame, nCells: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val vecs = df.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("e"))
    val cs = kmeansCentroidSeq(df, nCells, iters, idCol, embCol)
    if (cs.isEmpty)
      return vecs.select(lit(null).cast("long").as("cell"),
        lit(0L).as("n_vecs"), lit(0L).as("n_scored"),
        lit(null).cast("double").as("mean_silhouette")).limit(0)
    val staged = vecs.select(col("vec_id"),
      array(cs.map { case (_, ce) =>
        round(cosine(col("e"), typedLit(ce)), 6) }: _*).as("_sims"))
    val bestS = {
      val ss = cs.zipWithIndex.map { case ((cid, _), i) =>
        struct(element_at(col("_sims"), i + 1).as("sim"),
          lit(-cid).as("_nc")) }
      if (ss.size == 1) ss.head else greatest(ss: _*)
    }
    // runner-up sim = the window's rn=2: max over the non-argmax slots
    // (a tie at the top sim still surfaces as _s2 = _s1, exactly the
    // (sim DESC, cent_id ASC) row_number semantics); null when k == 1
    val s2 =
      if (cs.size <= 1) lit(null).cast("double")
      else greatest(cs.zipWithIndex.map { case ((cid, _), i) =>
        when(lit(-cid) =!= col("_m1").getField("_nc"),
          element_at(col("_sims"), i + 1)) }: _*)
    val top2 = staged.withColumn("_m1", bestS)
      .select(col("vec_id"),
        (-col("_m1").getField("_nc")).as("cell"),
        col("_m1").getField("sim").as("_s1"),
        s2.as("_s2"))
    val sil = when(lit(1.0) - col("_s2") > 0.0,
      (col("_s1") - col("_s2")) / (lit(1.0) - col("_s2")))
    top2.withColumn("_sil", sil)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), count(col("_sil")).as("n_scored"),
        (sum(round(col("_sil"), 12).cast("decimal(28,12)")).cast("double")
          / count(col("_sil")).cast("double")).as("mean_silhouette"))
  }

  /** IVF top-k: each query probes its `nprobe` nearest cells and ranks
    * only the candidates inside them — the inverted-file scale path
    * (candidates per query ≈ nprobe·n/nCells instead of n).
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int, nprobe: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // the first-N centroid stand-in, collected once (O(k·d)) and reused
    // for BOTH the probe ranking (as a tiny local frame) and the
    // candidate cell column (map-only literal argmax — no assignment
    // frame, no join back on the id)
    val cs = collectCentroids(candidates.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).cast("long").as("cent_id"),
        col(embCol).cast("array<double>").as("ce")))
    val cand = withNearestCell(
      candidates.select(col(idCol).as("neighbor_id"),
        col(embCol).cast("array<double>").as("c_emb")),
      col("c_emb"), cs)

    val q = queries.select(col(idCol).as("query_id"), col(embCol).cast("array<double>").as("q_emb"))
    val cents = broadcast(cs.toDF("cent_id", "ce"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cent_id").asc)
    val probes = broadcast(q.crossJoin(cents)
      .withColumn("csim", round(cosine(col("q_emb"), col("ce")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cent_id").as("cell")))

    val scored = probes.join(cand, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // salted two-phase top-k (round-16 verdict Next #7): a hot query
    // probing a mega-cell no longer funnels its whole candidate set
    // through one window task
    graft.ops.Ranking.topKPerGroup(scored, "query_id", k,
        Seq(col("sim").desc, col("neighbor_id").asc),
        saltCol = col("neighbor_id"), salts = 16)
      .select(col("query_id"), col("rnk").cast("long").as("rk"),
        col("neighbor_id"), col("sim"))
  }

  /** Semantic near-dup pairs through the TRAINED quantizer: vectors that
    * land in the same k-means cell and cosine-match above `minCosine`.
    * The IVF twin of [[lshNearDupPairs]] — same output contract, different
    * bucketing: cells adapt to the data distribution (trained centroids)
    * where LSH planes are data-oblivious.
    *
    * PRODUCTION SCALING RULE (round-4/5 verdicts, now code): the
    * within-cell self-join is quadratic in the hottest cell, so
    * `saltBuckets > 1` SALTS it — the left side gets a deterministic
    * content salt (xxhash64 of the id, never partition state), the right
    * side is replicated once per salt, and the join key becomes
    * (cell, salt). Each unordered pair is still produced exactly once
    * (at the left element's salt), so the result is IDENTICAL to the
    * unsalted join — x44 oracle-checks the salted form — while a hot
    * cell's reduce work spreads over `saltBuckets` tasks, each scanning
    * ~|cell|/saltBuckets left rows against the replicated right side.
    * Raising nCells (finer quantizer) remains the complementary lever;
    * both leave the dataflow shape unchanged.
    */
  def cellNearDupPairs(df: DataFrame, nCells: Int, iters: Int,
      minCosine: Double, idCol: String = "vec_id",
      embCol: String = "embedding", saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    val cs = kmeansCentroidSeq(df, nCells, iters, idCol, embCol)
    // map-only cell column — no assignment frame, no join back on
    // vec_id: the candidate join on (cell[, salt]) is the first shuffle
    val b = withNearestCell(
      df.select(col(idCol).as("vec_id"),
        col(embCol).cast("array<double>").as("e")),
      col("e"), cs)
    val l0 = b.select(col("cell"), col("vec_id").as("id_a"), col("e").as("e_a"))
    val r0 = b.select(col("cell"), col("vec_id").as("id_b"), col("e").as("e_b"))
    val (l, r, keys) =
      if (saltBuckets <= 1) (l0, r0, Seq("cell"))
      else (
        l0.withColumn("_salt",
          pmod(xxhash64(col("id_a")), lit(saltBuckets.toLong))),
        r0.withColumn("_salt",
          explode(sequence(lit(0L), lit((saltBuckets - 1).toLong)))),
        Seq("cell", "_salt"))
    l.join(r, keys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SEMANTIC benchmark decontamination: corpus vectors whose embedding
    * cosine-matches ANY eval-set vector at or above `minCosine` — the
    * embedding-space complement of the n-gram overlap gate
    * ([[graft.ops.Dedup.contamination]], x47): paraphrased or reformatted
    * eval material shares few exact shingles but still lands next to the
    * eval vector in embedding space. Both sets are assigned to the SAME
    * k-means quantizer, TRAINED ON THE CORPUS ONLY (the eval set must not
    * shape the cells — it is the probe, not the data), and only same-cell
    * cross-set pairs are cosine-checked. Output: one row per contaminated
    * corpus vector with its best eval match (max sim, ties to the
    * smallest eval id).
    *
    * Scale shape: the eval side is small BY CONSTRUCTION (a benchmark),
    * so its (cell, embedding) assignment is broadcast — the corpus-side
    * pass is map-only (no corpus shuffle, no skew funnel: corpus rows
    * are checked where they sit against the ~|eval|/nCells vectors of
    * their cell). The best-match argmax is a map-side-combinable
    * max(struct) aggregate over only the ABOVE-THRESHOLD pairs, not a
    * window over the corpus. The published recipe: embedding-similarity
    * decontamination as used alongside n-gram checks in modern LLM data
    * curation (the semantic analogue of Brown et al. 2020's 13-gram
    * eval-overlap filter).
    */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
      nCells: Int, iters: Int, minCosine: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("e"))
    val ev = evalSet.select(col(idCol).as("eval_id"),
      col(embCol).cast("array<double>").as("ee"))
    val cs = kmeansCentroidSeq(corpus, nCells, iters, idCol, embCol)
    // both sides get their cell MAP-ONLY (no assignment join) from the
    // same corpus-trained quantizer literals
    val cv = withNearestCell(v, col("e"), cs)
    val ea = broadcast(withNearestCell(ev, col("ee"), cs))
    cv.join(ea, "cell")
      .withColumn("sim", round(cosine(col("e"), col("ee")), 6))
      .filter(col("sim") >= minCosine)
      // argmax without a window: max over (sim, -eval_id) structs gives
      // max sim with the SMALLEST eval id on ties, combinable map-side
      .groupBy(col("vec_id"))
      .agg(max(struct(col("sim"), (-col("eval_id")).as("neg"))).as("m"))
      .select(col("vec_id"), (-col("m.neg")).cast("long").as("eval_id"),
        col("m.sim").as("sim"))
  }

  /** Cluster-balanced subsample: assign every vector to a k-means cell,
    * then keep at most `k` per cell in deterministic content-hash order —
    * the diversity-preserving pruning recipe (Sorscher et al. 2022,
    * "Beyond neural scaling laws": prune within clusters, never whole
    * clusters) that a uniform random subsample violates by thinning rare
    * clusters to extinction. The hash order (md5 of the id) is an
    * unbiased within-cell shuffle, reproducible across runs and engines.
    *
    * Scale shape: the cap runs through [[graft.ops.Ranking.topKPerGroup]]
    * — salted two-phase top-k, so the hottest cell (dense embedding
    * regions are exactly where mass concentrates) never funnels through
    * one task; survivors are ≤ nCells·k rows. Training is
    * [[kmeansCentroids]]'s broadcast-assign loop.
    */
  def clusterBalancedSample(df: DataFrame, nCells: Int, iters: Int, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      salts: Int = 4): DataFrame = {
    val cells = ivfAssignKmeans(df, nCells, iters, idCol, embCol)
    graft.ops.Ranking.topKPerGroup(cells, "cell", k,
        ord = Seq(md5(col("vec_id").cast("string")).asc, col("vec_id").asc),
        saltCol = col("vec_id"), salts = salts)
      .select(col("vec_id"), col("cell"), col("rnk"))
  }

  /** The corpus's (sign-LSH bucket, embedding) state — what the SEMANTIC
    * ingest gate ([[embeddingNearDupReject]]) joins against: one row per
    * distinct corpus vector, bucketed by the deterministic hyperplane
    * signs. Build once per corpus version, reuse across
    * batches/micro-batches; [[graft.ops.Dedup.corpusStatePressure]] keyed
    * on `bucket` reads its bucket pressure.
    */
  def corpusEmbeddingBuckets(corpus: DataFrame, nPlanes: Int, dim: Int,
      embCol: String = "embedding"): DataFrame =
    corpus.select(col(embCol).cast("array<double>").as("ce"))
      .distinct()
      .withColumn("bucket", lshBucket(col("ce"), nPlanes, dim))

  /** [[corpusEmbeddingBuckets]] with int8-QUANTIZED stored vectors —
    * (bucket, ce ARRAY<TINYINT>): the corpus-side state shrinks ~8×
    * in flight (8-byte doubles → 1-byte ints) while bucket ids stay
    * computed on the ORIGINAL floats, so collision behavior is
    * unchanged. For a billion-vector corpus this is the difference
    * between a state table that broadcasts and one that doesn't, and the
    * ingest shape for a corpus whose float state outgrows the per-batch
    * join budget. [[embeddingNearDupReject]] reads either state.
    */
  def quantizedCorpusBuckets(corpus: DataFrame, nPlanes: Int, dim: Int,
      embCol: String = "embedding"): DataFrame =
    quantizeInt8(corpusEmbeddingBuckets(corpus, nPlanes, dim, embCol),
        idCol = "bucket", embCol = "ce")
      .select(col("bucket"), col("qvec").cast("array<tinyint>").as("ce"))

  /** SEMANTIC near-dup rejection against a corpus embedding state — the
    * embedding twin of [[graft.ops.Dedup.bandKeyReject]], same
    * execution-mode-neutral shape: an arriving document (with an
    * embedding column) is dropped only when it lands in the same sign-LSH
    * bucket as a corpus vector AND cosine against THAT vector clears
    * `minCosine`. Bucket assignment is a stateless map-only projection
    * (legal in a micro-batch, no watermark; StreamingSpec pins stream ==
    * batch); the rejection is ONE hash anti-join on the
    * bucket id with the fused codegen cosine as the join's residual —
    * priced only on bucket-colliding pairs, no broadcast limit, no state
    * store. Recall tradeoff (documented): near-dups split across a
    * hyperplane are missed — raise recall with fewer planes (bigger
    * buckets, more verification) or multiple plane sets OR'd; precision
    * is exact (cosine verifies every drop).
    *
    * The state is [[corpusEmbeddingBuckets]] or the int8
    * [[quantizedCorpusBuckets]]; the cast of `ce` to doubles is a no-op
    * on the first. Against int8 state the cosine residual runs on the
    * quantized corpus vector (scale cancels — cosine normalizes per
    * vector), and rounding perturbs it by O(1/127) per pair, so a pair
    * sitting exactly at `minCosine` can flip; set the threshold with that
    * margin (spec-pinned).
    */
  def embeddingNearDupReject(docs: DataFrame, corpusBuckets: DataFrame,
      nPlanes: Int, dim: Int, minCosine: Double,
      embCol: String = "embedding"): DataFrame = {
    val withB = docs.withColumn("_eb",
      lshBucket(col(embCol).cast("array<double>"), nPlanes, dim))
    val r = corpusBuckets.select(col("bucket").as("_cb"),
      col("ce").cast("array<double>").as("_ce"))
    withB.join(r,
        withB("_eb") === r("_cb") &&
          round(cosine(withB(embCol).cast("array<double>"), r("_ce")), 6)
            >= minCosine,
        "left_anti")
      .drop("_eb")
  }

  /** Per-vector symmetric int8 quantization: `qscale` = 127 / max|x|
    * (0 for an all-zero vector) and `qvec_i` = round(x_i * qscale) — the
    * standard 4× memory/bandwidth cut for billion-vector ANN (store qvec
    * as TINYINT in parquet; reconstruct as qvec_i / qscale).
    *
    * The quantized values are returned as an integer-valued DOUBLE array
    * so the shared dot/cosine kernels stay exact in IEEE arithmetic
    * (|q| <= 127 → products and sums are integers far below 2^53) and
    * engine-reproducible. COSINE over quantized vectors needs no scale
    * at all — per-vector scales cancel in the ratio — so ranking-only
    * consumers can drop `qscale` entirely.
    *
    * The scale is staged as a multiply-referenced projection alias
    * (CollapseProject keeps it — the simhash restage lesson), so the
    * max|x| fold runs once per row, not once per element.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val e = col(embCol).cast("array<double>")
    val staged = df.select(col(idCol), e.as("_e"),
      aggregate(e, lit(0.0), (acc, x) => greatest(acc, abs(x))).as("_m"))
      .withColumn("_s", when(col("_m") > 0, lit(127.0) / col("_m"))
        .otherwise(lit(0.0)))
    staged.select(col(idCol), col("_s").as("qscale"),
      transform(col("_e"), x => round(x * col("_s"))).as("qvec"))
  }

  /** Brute-force cosine top-k over int8-QUANTIZED vectors: the same
    * broadcast-queries map-side join and per-query rank as
    * [[bruteForceTopK]], but each pair's arithmetic runs on 8-bit-valued
    * arrays — exact integer math in doubles, 4× lighter to store and
    * ship. Pair with [[bruteForceTopK]] on the same query set to measure
    * the recall cost of the compression (x66's report).
    */
  def quantizedTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = broadcast(quantizeInt8(queries, idCol, embCol)
      .select(col(idCol).as("query_id"), col("qvec").as("q_emb")))
    val c = quantizeInt8(candidates, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("qvec").as("c_emb"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    graft.ops.Ranking.topKPerGroup(scored, "query_id", k,
        Seq(col("sim").desc, col("neighbor_id").asc),
        saltCol = col("neighbor_id"), salts = 16)
      .select(col("query_id"), col("rnk").cast("long").as("rk"),
        col("neighbor_id"), col("sim"))
  }

  /** Johnson-Lindenstrauss sign projection: embed `inDims` → `outDims`
    * with a deterministic ±1 matrix, s(i,j) from the parity of
    * md5("jl:i:j")'s first hex digit (Achlioptas 2003's database-
    * friendly ±1 construction; md5 stands in for the seeded RNG so any
    * engine rebuilds the same matrix). Components are first quantized
    * `q_i = round(x_i · 2¹⁴)` (the Pca fixed-point convention), so
    * every projected coordinate is an INTEGER-valued double — sums
    * commute exactly, no fold-order sensitivity — and downstream dot
    * products stay < 2⁵³ for unit-scale embeddings up to ~2000 dims.
    * Returns `(idCol, pvec)`.
    *
    * Scale: the sign matrix is O(inDims·outDims) Scala-side literals
    * baked into ONE map-only projection expression — no join, no
    * shuffle, whole-stage codegen'd zip_with/aggregate per output dim.
    */
  def jlProject(df: DataFrame, inDims: Int, outDims: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(inDims >= 1 && outDims >= 1 && outDims <= inDims,
      s"need 1 <= outDims <= inDims, got $outDims of $inDims")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val hex = md.digest(s"jl:$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val v = "0123456789abcdef".indexOf(hex(0))
      1.0 - 2.0 * (v % 2)
    }
    val q = transform(col(embCol).cast("array<double>"),
      x => round(x * lit(16384.0)))
    val proj = array((0 until outDims).map { j =>
      val row = typedLit((0 until inDims).map(i => sign(i, j)))
      aggregate(zip_with(col("_q"), row, (a, b) => a * b), lit(0.0),
        (acc, x) => acc + x)
    }: _*)
    df.select(col(idCol), q.as("_q"))
      .select(col(idCol), proj.as("pvec"))
  }

  /** Cosine top-k in the JL-projected space — [[quantizedTopK]]'s
    * report shape for the dimension-reduction recall audit: pair with
    * [[bruteForceTopK]] on the original vectors to measure what
    * `outDims` costs in recall before wiring a projected ANN index.
    */
  def jlTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      inDims: Int, outDims: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val q = broadcast(jlProject(queries, inDims, outDims, idCol, embCol)
      .select(col(idCol).as("query_id"), col("pvec").as("q_emb")))
    val c = jlProject(candidates, inDims, outDims, idCol, embCol)
      .select(col(idCol).as("neighbor_id"), col("pvec").as("c_emb"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_emb"), col("c_emb")), 6))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    graft.ops.Ranking.topKPerGroup(scored, "query_id", k,
        Seq(col("sim").desc, col("neighbor_id").asc),
        saltCol = col("neighbor_id"), salts = 16)
      .select(col("query_id"), col("rnk").cast("long").as("rk"),
        col("neighbor_id"), col("sim"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998): pick `k` results per query that are RELEVANT but not
    * redundant — step 1 takes the top match, each later step the
    * candidate maximizing `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`
    * over the already-selected set S. Returns
    * `(query_id, rk, neighbor_id, mmr)` (round 6).
    *
    * Determinism: relevance and pairwise sims are the round-6 cosine
    * tables, and the MMR combination runs in EXACT DECIMAL arithmetic
    * (λ·sim − (1−λ)·maxSim over 6-dp decimals is an exact 7-dp
    * decimal — a double product would land on the round-6 half edge
    * for ~every value, the x130 divide-then-round lesson); the greedy
    * argmax breaks ties on neighbor_id — pinned on both engines (the
    * oracle unrolls the k steps as generated DECIMAL CTEs).
    *
    * Scale: the candidate pool is [[bruteForceTopK]]'s per-query
    * top-`poolSize` (swap in the IVF path at scale); pairwise sims
    * join the ≤poolSize pool with itself per query; the greedy loop
    * runs DRIVER-side on the collected ≤|queries|·poolSize² rows —
    * the bounded-query-audit posture (x10/x66), not a corpus pass.
    * For corpus-side diverse-subset selection use [[cellDiverseTopK]]
    * (same greedy arithmetic, distributed per trained cell).
    */
  def mmrTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      poolSize: Int = 10, lambda: Double = 0.7,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= poolSize,
      s"need 1 <= k <= poolSize, got k=$k pool=$poolSize")
    // the greedy epilogue collects |queries|·poolSize² pair rows to the
    // driver — the bounded-query-audit posture. Fail LOUDLY on a
    // corpus-sized query frame instead of OOMing the driver mid-collect.
    // The probe is cap-bounded (limit(cap+1).count()), so the guard
    // itself never runs a full pass over an oversized query frame
    val capQ = 4000000L / (poolSize.toLong * poolSize.toLong)
    val nq = queries.limit((capQ + 1).min(Int.MaxValue.toLong).toInt).count()
    require(nq <= capQ,
      s"mmrTopK is a bounded-query audit: |queries| > $capQ at " +
        s"poolSize=$poolSize exceeds the 4e6 driver-pair cap; shrink the " +
        s"query set or poolSize (corpus-side selection: cellDiverseTopK)")
    val pool = bruteForceTopK(queries, candidates, poolSize, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val withE = pool.join(
      candidates.select(col(idCol).as("neighbor_id"),
        col(embCol).cast("array<double>").as("_e")),
      "neighbor_id")
    val a = withE.select(col("query_id"), col("neighbor_id").as("_na"),
      col("_e").as("_ea"))
    val b = withE.select(col("query_id"), col("neighbor_id").as("_nb"),
      col("_e").as("_eb"))
    val pairSims = a.join(b, Seq("query_id"))
      .filter(col("_na") < col("_nb"))
      .select(col("query_id"), col("_na"), col("_nb"),
        round(cosine(col("_ea"), col("_eb")), 6).as("_ps"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    // exact decimals: the 6-dp doubles convert via shortest-repr to
    // their exact decimal values, and λ/(1−λ) are exact 1-dp decimals
    val lamBD = BigDecimal(lambda)
    val invBD = BigDecimal(1) - lamBD
    def ps(q: Long, x: Long, y: Long): BigDecimal =
      BigDecimal(if (x < y) pairSims((q, x, y)) else pairSims((q, y, x)))
    val byQuery = pool.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val out = byQuery.toSeq.flatMap { case (q, cands0) =>
      val cands = cands0.map(c => (c._2, BigDecimal(c._3)))
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(Long, BigDecimal)]
      var remaining = cands.toList
      for (step <- 1 to math.min(k, cands.length)) {
        val scored = remaining.map { case (id, sim) =>
          val score = if (sel.isEmpty) lamBD * sim
            else lamBD * sim - invBD * sel.map(s => ps(q, id, s._1)).max
          (id, score)
        }
        val best = scored.reduceLeft { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a }
        sel += ((best._1, best._2))
        remaining = remaining.filterNot(_._1 == best._1)
      }
      sel.zipWithIndex.map { case ((id, sc), i) =>
        (q, (i + 1).toLong, id,
          sc.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.sortBy(t => (t._1, t._2))
    val spark = queries.sparkSession
    import spark.implicits._
    out.toDF("query_id", "rk", "neighbor_id", "mmr")
  }

  /** CORPUS-SIDE diverse-subset selection — the distributed complement
    * of [[mmrTopK]] (which is a driver-greedy bounded-QUERY audit) and
    * the selection half of the D4 story ([[d4PrototypePrune]] drops the
    * redundant core; this PICKS k diverse-but-central representatives
    * per cell): within every trained k-means cell, greedy MMR with the
    * CELL CENTROID as the relevance anchor — step 1 takes the most
    * prototypical member, each later step the candidate maximizing
    * λ·sim(centroid, d) − (1−λ)·max_{s∈S} sim(d, s). Returns
    * (cell, rk, vec_id, mmr), exactly [[mmrTopK]]'s output with the
    * cell as the query (spec-pinned equal to driver mmrTopK run with
    * the centroid as an explicit query over the same pool).
    *
    * Scale shape — every stage is bounded or decomposed, NO driver
    * collect and no cap on the corpus: the quantizer is the trained
    * O(k·d) broadcast surface; relevance is a map-only pass; the
    * per-cell candidate pool is the SALTED two-phase top-`poolSize`
    * ([[graft.ops.Ranking.topKPerGroup]] — a hot cell never funnels one
    * task); pairwise sims are a poolSize-bounded per-cell self-join
    * computed by the same round-6 cosine expression as every other
    * operator (never re-derived in JVM code); the greedy loop runs
    * map-side on ONE bounded row per cell (≤ poolSize members +
    * poolSize² pair sims). Selection candidacy is the top-central pool
    * by construction — widen `poolSize` to let the greedy reach deeper
    * into each cell's tail.
    *
    * Determinism: round-6 sims, exact-DECIMAL MMR combination and
    * (score, id) tie-breaks — the [[mmrTopK]] arithmetic, per cell; the
    * oracle unrolls the k greedy steps as generated DECIMAL CTEs.
    */
  def cellDiverseTopK(df: DataFrame, nCells: Int, iters: Int, k: Int,
      poolSize: Int = 8, lambda: Double = 0.7,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= poolSize,
      s"need 1 <= k <= poolSize, got k=$k pool=$poolSize")
    val vecs = df.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("e"))
    val cs = kmeansCentroidSeq(df, nCells, iters, idCol, embCol)
    // cell + own-centroid sim in ONE map-only pass (no assignment join,
    // no centroid re-join — the argmax struct carries both)
    val scored = withNearestCellSim(vecs, col("e"), cs)
      .select(col("cell"), col("vec_id"), col("sim"), col("e"))
    val pool = graft.ops.Ranking.topKPerGroup(scored, "cell", poolSize,
        Seq(col("sim").desc, col("vec_id").asc),
        saltCol = col("vec_id"), salts = 8)
      .drop("rnk")
    val a = pool.select(col("cell"), col("vec_id").as("_na"),
      col("e").as("_ea"))
    val b = pool.select(col("cell"), col("vec_id").as("_nb"),
      col("e").as("_eb"))
    val pairs = a.join(b, Seq("cell")).filter(col("_na") < col("_nb"))
      .select(col("cell"), col("_na"), col("_nb"),
        round(cosine(col("_ea"), col("_eb")), 6).as("_ps"))
    val memAgg = pool.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("sim"))).as("_mem"))
    val pairAgg = pairs.groupBy(col("cell"))
      .agg(collect_list(struct(col("_na"), col("_nb"), col("_ps")))
        .as("_prs"))
    val spark = df.sparkSession
    import spark.implicits._
    val lamBD = BigDecimal(lambda)
    val invBD = BigDecimal(1) - lamBD
    memAgg.join(pairAgg, Seq("cell"), "left")
      .select(col("cell"), col("_mem"),
        coalesce(col("_prs"),
          array().cast("array<struct<_na:bigint,_nb:bigint,_ps:double>>"))
          .as("_prs"))
      .as[(Long, Seq[(Long, Double)], Seq[(Long, Long, Double)])]
      .flatMap { case (cell, mem, prs) =>
        val psm = prs.map(p => (p._1, p._2) -> BigDecimal(p._3)).toMap
        def ps(x: Long, y: Long): BigDecimal =
          if (x < y) psm((x, y)) else psm((y, x))
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(Long, BigDecimal)]
        var remaining = mem.map(m => (m._1, BigDecimal(m._2))).toList
        for (_ <- 1 to math.min(k, remaining.length)) {
          val stepScores = remaining.map { case (id, sim) =>
            val score = if (sel.isEmpty) lamBD * sim
              else lamBD * sim - invBD * sel.map(s => ps(id, s._1)).max
            (id, score)
          }
          val best = stepScores.reduceLeft { (x, y) =>
            if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x }
          sel += ((best._1, best._2))
          remaining = remaining.filterNot(_._1 == best._1)
        }
        sel.zipWithIndex.map { case ((id, sc), i) =>
          (cell, (i + 1).toLong, id,
            sc.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      }
      .toDF("cell", "rk", "vec_id", "mmr")
  }

  /** LSH-bucketed approximate near-duplicate pairs: vectors sharing a
    * bucket are checked exactly; pairs at or above `minCosine` survive.
    * Scale path: equi-join on bucket — candidates per bucket ≈ n/2^planes.
    */
  def lshNearDupPairs(df: DataFrame, nPlanes: Int, dim: Int, minCosine: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val b = df.select(col(idCol), col(embCol).cast("array<double>").as("e"))
      .withColumn("bucket", lshBucket(col("e"), nPlanes, dim))
    val l = b.select(col("bucket"), col(idCol).as("id_a"), col("e").as("e_a"))
    val r = b.select(col("bucket"), col(idCol).as("id_b"), col("e").as("e_b"))
    l.join(r, "bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Stacked (vec_id, bid, bk) sign-LSH band keys: band `b` of
    * `nBands` hashes the embedding with its OWN `planesPerBand`
    * hyperplanes (plane indices b·r … b·r+r−1 of the deterministic
    * [[planeSigns]] family), so the bands are independent and a pair
    * colliding in ANY band becomes a candidate — the banded-OR recall
    * amplification of minhash LSH, over vectors (Charikar 2002 signs in
    * Broder-style bands). Map-side projection + explode; one row per
    * (vector, band): the [[broadcastBandKeys]] array, posexploded. */
  private[graft] def stackedEmbeddingBandKeys(df: DataFrame, nBands: Int,
      planesPerBand: Int, dim: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(nBands >= 1 && planesPerBand >= 1 && planesPerBand <= 62,
      s"need nBands >= 1 and 1 <= planesPerBand <= 62, " +
        s"got $nBands x $planesPerBand")
    df.select(col(idCol).as("vec_id"),
        posexplode(broadcastBandKeys(col(embCol).cast("array<double>"),
          nBands, planesPerBand, dim)))
      .select(col("vec_id"), col("pos").as("bid"), col("col").as("bk"))
  }

  /** The sign-LSH band-key kernel: ALL nBands·planesPerBand hyperplanes
    * ride ONE Spark broadcast (a copy per executor, not a literal array
    * per plan node, so the plan and its generated code stay the same at
    * any plane count) and a deterministic Scala UDF emits the nBands
    * bucket keys per vector: per plane, [[VectorExpressions.DotProduct]]'s
    * sequential fold over the common prefix and a `> 0` sign test
    * setting bit i (`1L << i`) of its band's key. Null embedding → every
    * band key 0. Returns an `array<long>` of length nBands — position =
    * band id. */
  private[graft] def broadcastBandKeys(e: Column, nBands: Int,
      planesPerBand: Int, dim: Int): Column = {
    val signs = planeSigns(nBands * planesPerBand, dim)
      .map(_.map(_.toDouble))
    val b = org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(signs)
    val nb = nBands
    val r = planesPerBand
    val f = udf((v: Seq[Double]) => {
      if (v == null) Array.fill(nb)(0L)
      else {
        val planes = b.value
        val arr = v.toArray
        val out = new Array[Long](nb)
        var band = 0
        while (band < nb) {
          var bk = 0L
          var i = 0
          while (i < r) {
            val p = planes(band * r + i)
            val n = math.min(arr.length, p.length)
            var s = 0.0
            var j = 0
            while (j < n) { s += arr(j) * p(j); j += 1 }
            if (s > 0) bk += (1L << i)
            i += 1
          }
          out(band) = bk
          band += 1
        }
        out
      }
    })
    f(e)
  }

  /** Banded sign-LSH near-dup pairs — the CORPUS-SCALE semantic
    * candidate generator: candidates come from (band, bucket) collisions
    * (O(n·nBands) stacked rows; pair fan-out bounded per bucket by the
    * [[graft.ops.Dedup.DefaultMaxBucket]] star-edge policy, exactly the
    * token-LSH mega-bucket guard), then every candidate is verified by
    * EXACT round-6 cosine >= `minCosine` before anything downstream can
    * delete a document — precision is exact, recall is the published
    * banded-OR curve 1−(1−p^r)^b with p = 1−θ/π (tune nBands up /
    * planesPerBand down to push recall toward 1 at the target cosine;
    * [[embeddingBandHistogram]] is the bucket-pressure diagnostic).
    *
    * This is the 100-TB complement of [[cellNearDupPairs]], whose dense
    * same-cell self-join is O(n²/nCells) pairs — exact within a cell and
    * right for bounded corpora or k grown with n, but quadratic at a
    * fixed k. Banding replaces the quadratic join with an equi-join on
    * (bid, bk) whose per-bucket fan-out is capped; no k-means training
    * pass is needed at all. Same output shape (id_a, id_b, sim).
    *
    * TUNING RULE (the knob that must scale with n): a band has
    * 2^planesPerBand buckets, so mean bucket size is n / 2^r — keep it
    * small with r ≈ log₂(n / B) for a target B of a few vectors, then
    * raise nBands to hold recall (1−(1−p^r)^b; at cosine 0.95,
    * r=16 → p^r ≈ 0.18, b=16 → 0.96 recall). COMMITTED evidence
    * (BENCH_sf10.json, full pipeline chains at ~200k vectors): dense
    * cell mode (x251) 395.7 s; banded at the under-sharded 4×8 shape
    * (x254 — buckets ≈ 940, just under the star-edge cap) 804.1 s,
    * WORSE than dense; banded at the rule shape 8×16 (x257) 232.1 s —
    * 1.7× better than dense, 3.5× better than mis-tuned banding.
    * Generator-solo sweep (same corpus, minCosine 0.4): 4×8 367 s,
    * 8×12 199 s, 8×16 104 s, 16×16 203 s. Recall at the tuned shape is
    * x256's curve (matches or beats dense at every planted tier at the
    * small-corpus rule shape 16×8). [[embeddingBandHistogram]] is the
    * diagnostic: a histogram tail at or over the cap says r is too
    * small for this corpus.
    */
  def bandedNearDupPairs(df: DataFrame, nBands: Int, planesPerBand: Int,
      dim: Int, minCosine: Double,
      maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val vecs = df.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("e"))
    val stacked =
      stackedEmbeddingBandKeys(df, nBands, planesPerBand, dim, idCol, embCol)
    val pairs = graft.ops.Dedup.pairJoin(
      stacked.select(col("vec_id").as("doc_id"), col("bid"), col("bk")),
      "doc_id", maxBucket)
    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("e").as("e_a")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("e").as("e_b")), "id_b")
      .withColumn("sim", round(cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Band-bucket cardinality diagnostic for the sign-LSH banding — the
    * embedding analog of [[graft.ops.Dedup.bandBucketHistogram]]: bucket
    * size → bucket count, dense pair mass, and the pair mass the capped
    * generator actually emits. The readout that says whether any
    * embedding bucket is in the star-edge regime (an embedding
    * mega-cluster — e.g. a zero/default vector emitted by an upstream
    * encoder for empty documents — collides in EVERY band). */
  def embeddingBandHistogram(df: DataFrame, nBands: Int, planesPerBand: Int,
      dim: Int, maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    graft.ops.Dedup.bucketHistogram(
      stackedEmbeddingBandKeys(df, nBands, planesPerBand, dim, idCol, embCol),
      maxBucket)

  /** D4-style PROTOTYPICALITY prune (Tirumala et al. 2023, "D4:
    * Improving LLM Pretraining via Document De-Duplication and
    * Diversification"): after semantic dedup, the published recipe also
    * drops the most PROTOTYPICAL `fraction` of every embedding cluster
    * — the vectors CLOSEST to their k-means centroid are the redundant
    * core; the diverse tail is what improves training. (The complement
    * of [[centroidOutliers]], which surfaces the farthest.) Per cell:
    * sim = round-6 cosine to the OWN trained centroid, rank by
    * (sim DESC, id ASC), pruned = rank <= min(ceil(fraction · n_cell),
    * n_cell − 1) — the cap keeps every cell's diverse tail nonempty (a
    * small cell must shrink, never vanish; a singleton IS its own tail).
    * Returns every vector with (vec_id, cell, sim, pruned) — callers
    * filter `!pruned` for the D4-kept set or aggregate for the report.
    *
    * Scale: the quantizer is the trained x44 surface (O(k·d) driver
    * centroids, broadcast); per-cell counts are a ≤nCells-row broadcast;
    * the per-cell rank is the DECOMPOSED group rank
    * ([[graft.ops.Ranking.withGroupRanks]]) — a hot cell of a 100 TB
    * corpus never funnels through one window task.
    */
  def d4PrototypePrune(df: DataFrame, nCells: Int, iters: Int,
      fraction: Double, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(fraction > 0.0 && fraction < 1.0,
      s"fraction must be in (0,1), got $fraction")
    val vecs = df.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("e"))
    val cs = kmeansCentroidSeq(df, nCells, iters, idCol, embCol)
    // cell + own-centroid sim in ONE map-only pass (no assignment join,
    // no centroid re-join — the argmax struct carries both)
    val scored = withNearestCellSim(vecs, col("e"), cs)
      .select(col("vec_id"), col("cell"), col("sim"))
    // ceil(n·f) in ONE double multiply — bit-identical in any engine —
    // capped at n−1: D4 drops the redundant CORE and keeps the diverse
    // tail, so a cell must never be eliminated whole (a singleton cell
    // IS its own tail; uncapped, ceil would prune 100% of any cell with
    // n <= 1/fraction — the round-15 advice finding)
    val counts = broadcast(scored.groupBy(col("cell"))
      .agg(count(lit(1)).as("_n"))
      .select(col("cell"),
        least(ceil(col("_n") * lit(fraction)).cast("long"),
          col("_n") - 1).as("_pn")))
    graft.ops.Ranking.withGroupRanks(scored, "cell",
        Seq(("sim", false), ("vec_id", true)), "_rnk")
      .join(counts, "cell")
      .select(col("vec_id"), col("cell"), col("sim"),
        (col("_rnk") <= col("_pn")).as("pruned"))
  }

  /** Per-group centroid outliers: the `bottomK` vectors of each group
    * (label/source/cluster) by cosine to the group's own mean vector —
    * the standard "weird members of a topic" audit before training on a
    * clustered corpus.
    *
    * Determinism at scale: a float mean over a shuffled group is
    * order-DEPENDENT (double addition does not commute bitwise), so the
    * centroid here is computed in EXACT integer arithmetic — components
    * quantize to `round(x·scale)` longs, group sums of longs are exact
    * under any arrival order, and the cosine's scaling factors cancel:
    * cos(v, Σw) = cos(v, mean(w)). Doubles appear only in the final
    * per-row division, computed from exact integers — bit-identical in
    * any engine, any partitioning.
    *
    * Scale shape: one posexplode (rows·dim, map-side combinable into
    * groups·dim centroid cells), one join of rows·dim against the tiny
    * groups·dim centroid table (broadcastable), one map-side-combined
    * per-row reduction, then the salted two-phase top-k
    * ([[graft.ops.Ranking.topKPerGroup]]) so a giant group never funnels
    * through one task. Long-range check: |v|≤scale·|x|, centroid sums
    * ≤ n·scale·|x| — products stay under 2^63 for corpora up to ~10^9
    * rows at scale=10^4 and unit-norm embeddings.
    */
  def centroidOutliers(emb: DataFrame, groupCol: String = "label",
      bottomK: Int = 10, scale: Int = 10000,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = emb.select(col(idCol), col(groupCol),
      transform(col(embCol).cast("array<double>"),
        x => round(x * scale).cast("long")).as("qv"))
    val pos = q.select(col(idCol), col(groupCol),
      posexplode(col("qv")).as(Seq("pos", "v")))
    val cent = pos.groupBy(col(groupCol), col("pos"))
      .agg(sum(col("v")).as("cs"))
    val centNorm = cent.groupBy(col(groupCol))
      .agg(sum(col("cs") * col("cs")).as("cc"))
    val perRow = pos.join(cent, Seq(groupCol, "pos"))
      .groupBy(col(idCol), col(groupCol))
      .agg(sum(col("v") * col("cs")).as("dot"),
        sum(col("v") * col("v")).as("qq"))
    val scored = perRow.join(broadcast(centNorm), Seq(groupCol))
      .select(col(groupCol), col(idCol),
        round(col("dot").cast("double")
          / (sqrt(col("qq").cast("double")) * sqrt(col("cc").cast("double"))),
          6).as("cos_centroid"))
    graft.ops.Ranking.topKPerGroup(scored, groupCol, bottomK,
      Seq(col("cos_centroid").asc, col(idCol).asc), saltCol = col(idCol),
      salts = 16)
      .select(col(groupCol), col(idCol), col("cos_centroid"),
        col("rnk").as("rk"))
  }

  /** Contrastive hard-negative mining: for each anchor vector, the `k`
    * highest-cosine vectors carrying a DIFFERENT label — the pairs a
    * contrastive/embedding trainer wants most (similar content, opposite
    * class). Candidates come from the sign-LSH bucket equi-join (the x11
    * path), so the cross product never materializes: an anchor is only
    * compared against its own bucket, and the per-anchor top-k runs
    * through the salted two-phase rank. Approximate by construction —
    * an anchor whose bucket holds no cross-label member emits no row
    * (more planes → finer buckets → fewer, closer candidates).
    */
  def hardNegativeMining(emb: DataFrame, labelCol: String = "label",
      nPlanes: Int = 6, dim: Int = 64, k: Int = 3,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val b = emb.select(col(idCol), col(labelCol),
        col(embCol).cast("array<double>").as("e"))
      .withColumn("bucket", lshBucket(col("e"), nPlanes, dim))
    val l = b.select(col("bucket"), col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col("e").as("_ea"))
    val r = b.select(col("bucket"), col(idCol).as("neg_id"),
      col(labelCol).as("neg_label"), col("e").as("_en"))
    val cands = l.join(r, "bucket")
      .filter(col("anchor_label") =!= col("neg_label"))
      .withColumn("sim", round(cosine(col("_ea"), col("_en")), 6))
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("sim"))
    graft.ops.Ranking.topKPerGroup(cands, "anchor_id", k,
      Seq(col("sim").desc, col("neg_id").asc), saltCol = col("neg_id"),
      salts = 16)
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("sim"), col("rnk").as("rk"))
  }

  /** Full contrastive PAIR mining: for each anchor, its best same-label
    * bucket mate (the positive) AND its best different-label bucket mate
    * (the hard negative) — the (anchor, positive, negative) triple a
    * contrastive loss consumes directly. One sign-LSH bucket equi-join
    * feeds both sides; each side runs the salted top-1; a full-outer
    * join on the anchor pairs them up (an anchor can have one side and
    * not the other — nulls say so rather than dropping the row).
    */
  def contrastivePairs(emb: DataFrame, labelCol: String = "label",
      nPlanes: Int = 6, dim: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val b = emb.select(col(idCol), col(labelCol),
        col(embCol).cast("array<double>").as("e"))
      .withColumn("bucket", lshBucket(col("e"), nPlanes, dim))
    val l = b.select(col("bucket"), col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col("e").as("_ea"))
    val r = b.select(col("bucket"), col(idCol).as("mate_id"),
      col(labelCol).as("mate_label"), col("e").as("_em"))
    val mates = l.join(r, "bucket")
      .filter(col("anchor_id") =!= col("mate_id"))
      .withColumn("sim", round(cosine(col("_ea"), col("_em")), 6))
      .select(col("anchor_id"), col("anchor_label"), col("mate_id"),
        col("mate_label"), col("sim"))
    def top1(side: DataFrame, prefix: String) =
      graft.ops.Ranking.topKPerGroup(side, "anchor_id", 1,
        Seq(col("sim").desc, col("mate_id").asc), saltCol = col("mate_id"),
        salts = 16)
        .select(col("anchor_id"), col("anchor_label"),
          col("mate_id").as(s"${prefix}_id"), col("sim").as(s"${prefix}_sim"))
    val pos = top1(mates.filter(col("anchor_label") === col("mate_label")), "pos")
    val neg = top1(mates.filter(col("anchor_label") =!= col("mate_label")), "neg")
    pos.join(neg, Seq("anchor_id", "anchor_label"), "full_outer")
  }

  /** Embedding-table health audit — the validation gate a pipeline runs
    * BEFORE any similarity/ANN stage trusts the vectors: per group, the
    * counts of null / wrong-dimension / non-finite (NaN or ±Inf) /
    * zero-norm rows, plus the valid-vector norm range. A zero-norm or
    * NaN vector silently poisons every cosine it touches (NaN
    * propagates through the fold and breaks top-k ordering), so the
    * audit runs first and the counts alarm.
    *
    * Map-only + one map-side-combinable aggregation; norms are the same
    * sequential fold as [[norm2]], so the reported range is
    * bit-identical to what the similarity operators will compute.
    */
  def embeddingAudit(emb: DataFrame, expectedDim: Int,
      groupCol: String = "label", idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val e = col(embCol).cast("array<double>")
    val isNullV = col(embCol).isNull
    val wrongDim = !isNullV && size(e) =!= expectedDim
    val nonFinite = !isNullV && exists(e, x =>
      isnan(x) || x === Double.PositiveInfinity ||
        x === Double.NegativeInfinity)
    val valid = !isNullV && !wrongDim && !nonFinite
    val norm = sqrt(norm2(e))
    emb.select(col(groupCol),
        isNullV.as("_n"), wrongDim.as("_w"), nonFinite.as("_f"),
        (valid && norm === 0.0).as("_z"),
        when(valid, norm).as("_norm"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("_n"), 1L).otherwise(0L)).cast("long").as("n_null"),
        sum(when(col("_w"), 1L).otherwise(0L)).cast("long")
          .as("n_wrong_dim"),
        sum(when(col("_f"), 1L).otherwise(0L)).cast("long")
          .as("n_nonfinite"),
        sum(when(col("_z"), 1L).otherwise(0L)).cast("long")
          .as("n_zero_norm"),
        round(min(col("_norm")), 6).as("min_norm"),
        round(max(col("_norm")), 6).as("max_norm"))
  }

  /** Train ALL m PQ block codebooks in FUSED corpus passes: init is one
    * TakeOrdered (first k vectors, sliced per block driver-side), and
    * each Lloyd iteration is ONE pass — per vector, m (block, cell,
    * quantized slice) structs explode into a (b, cell)-keyed elementwise
    * array-sum ([[Aggregators.sumLongArrays]]). Bit-identical to
    * training each block separately (per-block sums group on disjoint
    * keys; fixed-point addition is order-independent), so the DuckDB
    * oracle's per-block kmeans replay still matches — but the corpus is
    * scanned iters+1 times TOTAL instead of m·(iters+1). Returns one
    * cent_id-sorted (cent_id, ce) seq per block.
    */
  private[graft] def pqCodebooks(base: DataFrame, m: Int, subDim: Int,
      k: Int, iters: Int): IndexedSeq[Seq[(Long, Seq[Double])]] = {
    val initRows = base.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("long"), col("_full").cast("array<double>"))
      .collect()
    var cbs: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map { b =>
      initRows.map(r => (r.getLong(0),
          r.getSeq[Double](1).slice(b * subDim, (b + 1) * subDim)))
        .sortBy(_._1).toSeq
    }
    var it = 0
    while (it < iters && initRows.nonEmpty) {
      // same fail-loudly dimension guard as the kmeans pass: a vector
      // whose length != m·subDim would contribute a truncated/empty
      // slice to SOME block's sum while still counting toward n
      val dimOk = assert_true(size(col("_full")) === m * subDim,
        lit(s"pqCodebooks: embedding with size != ${m * subDim} (or " +
          "NULL) in the training pass — clean or filter the corpus first"))
      val bandStructs = (0 until m).map { b =>
        val sl = slice(col("_full"), b * subDim + 1, subDim)
        struct(lit(b).as("b"),
          when(dimOk.isNull, nearestCell(sl, cbs(b))).as("cell"),
          transform(sl, x => floor(x * 1000000.0).cast("long")).as("q"))
      }
      val fresh = base.select(explode(array(bandStructs: _*)).as("s"))
        .select(col("s.b").as("b"), col("s.cell").as("cell"),
          col("s.q").as("q"))
        .groupBy(col("b"), col("cell"))
        .agg(Aggregators.sumLongArrays(col("q")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(3)
          (r.getInt(0), r.getLong(1)) ->
            r.getSeq[Long](2).map(v => v.toDouble / 1000000.0 / n.toDouble)
        }.toMap
      cbs = (0 until m).map { b =>
        cbs(b).map { case (cid, ce) =>
          (cid, fresh.getOrElse((b, cid), ce)) } }
      it += 1
    }
    cbs
  }

  /** Map-only per-block code columns over the trained codebooks —
    * code_b = nearest block-b centroid of the vector's b-th slice. */
  private def withPqCodes(base: DataFrame, m: Int, subDim: Int,
      cbs: IndexedSeq[Seq[(Long, Seq[Double])]]): DataFrame =
    base.select(col("vec_id") +: (0 until m).map { b =>
      nearestCell(slice(col("_full"), b * subDim + 1, subDim), cbs(b))
        .as(s"code_$b") }: _*)

  /** Product-quantization codebook assignment (Jégou et al. 2011): the
    * embedding splits into `m` contiguous `subDim`-wide blocks, each
    * block trains its own `k`-centroid quantizer ([[kmeansCentroids]] —
    * the fixed-point, oracle-reproducible Lloyd's), and every vector
    * compresses to `m` small codes. 64 dims × 8 bytes become m=4 codes —
    * the memory step that lets an ANN index hold billions of vectors.
    * Returns (vec_id, code_0..code_{m-1}).
    *
    * Scale: each block's training sees only its slice (map-only
    * projection); assignments are broadcast-centroid passes; the m
    * assignment frames join back on vec_id (uniform key). Codes are
    * centroid vec_ids (the kmeans init convention), not dense 0..k-1 —
    * stable identifiers a codebook consumer resolves via the centroid
    * table.
    *
    * `dims` is the declared embedding width: m·subDim must cover it
    * exactly, else `slice` would silently feed short/partial blocks into
    * the quantizer (the x104-audit fail-loudly convention).
    */
  def pqCodes(df: DataFrame, m: Int = 4, subDim: Int = 16, k: Int = 8,
      iters: Int = 2, dims: Int = 64, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(m >= 1 && subDim >= 1 && k >= 1 && iters >= 1,
      s"need positive m/subDim/k/iters, got $m/$subDim/$k/$iters")
    require(m * subDim == dims,
      s"m*subDim must equal dims exactly: $m*$subDim != $dims")
    val base = df.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("_full"))
    val cbs = pqCodebooks(base, m, subDim, k, iters)
    if (cbs.head.isEmpty)
      base.select(col("vec_id") +:
        (0 until m).map(b => lit(null).cast("long").as(s"code_$b")): _*)
        .limit(0)
    // ONE map-only projection — the previous per-block form joined m
    // assignment frames back on vec_id (m−1 corpus-keyed shuffles)
    else withPqCodes(base, m, subDim, cbs)
  }

  /** Asymmetric-distance (ADC) recall audit for [[pqCodes]]: per query,
    * rank candidates by the PQ-approximated dot product
    * Σ_b dot(q_b, centroid_{b, code_b}) and report the overlap with the
    * exact dot-product top-`topK` — `query_id, n_hits, recall`. The
    * per-block partials are rounded to 12 and summed AS DECIMAL (the
    * x103 convention) so the cross-block sum is order-independent; both
    * rankings break ties by neighbor id.
    *
    * Scale: the lookup table is queries × m·k centroid rows (broadcast,
    * bounded); candidates join it by their (block, code) — never by raw
    * vectors — so the ranking pass touches m codes per candidate, the
    * whole point of PQ. Both rankings run through the salted two-phase
    * top-k ([[graft.ops.Ranking.topKPerGroup]]) so no query funnels its
    * whole candidate set through one task. The exact-ground-truth side is
    * a query×corpus pass — this is a SAMPLED AUDIT over a bounded query
    * probe set, not a serving path (serving is [[ivfPqTopK]]).
    */
  def pqRecall(queries: DataFrame, candidates: DataFrame, topK: Int = 10,
      m: Int = 4, subDim: Int = 16, k: Int = 8, iters: Int = 2,
      dims: Int = 64, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(m * subDim == dims,
      s"m*subDim must equal dims exactly: $m*$subDim != $dims")
    val base = candidates.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("_full"))
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).cast("array<double>").as("q_emb"))
    // fused-trained per-block codebooks (one corpus pass per Lloyd
    // iteration for ALL blocks) in long form; codes are ONE map-only
    // explode — the previous per-block form unioned m corpus scans
    val spark = candidates.sparkSession
    import spark.implicits._
    val cbs = pqCodebooks(base, m, subDim, k, iters)
    val cents = cbs.zipWithIndex.flatMap { case (cb, b) =>
      cb.map { case (cid, ce) => (b, cid, ce) } }
      .toDF("b", "cent_id", "ce")
    val codes =
      if (cbs.head.isEmpty)
        base.select(col("vec_id"), lit(0).as("b"),
          lit(null).cast("long").as("code")).limit(0)
      else base.select(col("vec_id"),
          explode(array((0 until m).map { b =>
            struct(lit(b).as("b"),
              nearestCell(slice(col("_full"), b * subDim + 1, subDim),
                cbs(b)).as("code")) }: _*)).as("s"))
        .select(col("vec_id"), col("s.b").as("b"), col("s.code").as("code"))
    // lookup table: query × (block, centroid) partial dot products
    val lut = broadcast(q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("b"), col("cent_id").as("code"),
        round(dot(slice(col("q_emb"), col("b") * subDim + 1, lit(subDim)),
          col("ce")), 12).cast("decimal(28,12)").as("_part")))
    val approxScores = codes.join(lut, Seq("b", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("_part")).as("_approx"))
    val approxTop = graft.ops.Ranking.topKPerGroup(approxScores,
        "query_id", topK, Seq(col("_approx").desc, col("vec_id").asc),
        saltCol = col("vec_id"), salts = 16)
      .select(col("query_id"), col("vec_id"))
    val exactScored = q.crossJoin(base)
      .select(col("query_id"), col("vec_id"),
        round(dot(col("q_emb"), col("_full")), 6).as("_exact"))
    val exactTop = graft.ops.Ranking.topKPerGroup(exactScored,
        "query_id", topK, Seq(col("_exact").desc, col("vec_id").asc),
        saltCol = col("vec_id"), salts = 16)
      .select(col("query_id"), col("vec_id"))
    val hits = exactTop.join(approxTop, Seq("query_id", "vec_id"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    // denominator frame carries EVERY query (a zero-hit query must
    // report recall 0, not vanish from the audit)
    exactTop.groupBy(col("query_id")).agg(count(lit(1)).as("_k"))
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / col("_k").cast("double"), 6)
          .as("recall"))
  }

  /** IVF×PQ approximate nearest-neighbor search (Jégou et al. 2011, the
    * composed billion-vector serving shape): each query probes its
    * `nprobe` nearest COARSE cells (k-means over the full vectors, the
    * [[ivfTopK]] quantizer) and ranks only the candidates inside those
    * cells by the ASYMMETRIC PQ distance — Σ_b lut(q, b, code_b) from
    * the per-block codebooks ([[pqCodes]]' fixed-point Lloyd's) — never
    * by raw candidate vectors. Returns `(query_id, rk, neighbor_id,
    * adc)` with `rk` the per-query 1..k ADC rank.
    *
    * This is what [[pqRecall]] audits: that operator ranks ADC against
    * ALL candidates to measure quantization loss in isolation; this one
    * adds the IVF prune, which is the entire point of PQ — the ranking
    * pass reads m small codes per candidate inside nprobe/nCells of the
    * corpus.
    *
    * Determinism: per-block LUT partials are round-12 DECIMAL (the x103
    * order-independent-sum convention); the cut is totally ordered by
    * (exact decimal adc DESC, neighbor id) and runs through the salted
    * two-phase top-k — no per-query single-task window.
    *
    * `reRank > 0` adds the IVFADC+R refinement (Jégou et al. §V): the
    * ADC pass keeps a `reRank`-deep shortlist per query, the shortlist
    * alone rejoins its RAW vectors, and the final top-`topK` ranks by
    * exact dot — output column `score` instead of `adc`. Aggressive
    * quantization (m·k small vs dims) makes raw ADC ranks noisy; the
    * refinement recovers near-IVF recall while still reading raw vectors
    * for only |queries|·reRank rows, not the probed cells.
    *
    * Scale: coarse centroids (O(nCells·dims)), probe list
    * (O(|queries|·nprobe)) and LUT (O(|queries|·m·k)) broadcast — all
    * bounded by the query probe set, not the corpus; cell membership and
    * codes join on uniform keys. Candidates never rejoin their raw
    * embeddings except the bounded re-rank shortlist.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, topK: Int = 10,
      nCells: Int = 8, nprobe: Int = 2, m: Int = 4, subDim: Int = 16,
      k: Int = 8, iters: Int = 2, dims: Int = 64, reRank: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(m * subDim == dims,
      s"m*subDim must equal dims exactly: $m*$subDim != $dims")
    require(nprobe >= 1 && nprobe <= nCells,
      s"need 1 <= nprobe <= nCells, got $nprobe/$nCells")
    val base = candidates.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("_full"))
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).cast("array<double>").as("q_emb"))
    // coarse quantizer: trained centroids over the FULL vectors, cell
    // membership as a MAP-ONLY column (x28's ivfAssignKmeans shape)
    val spark = candidates.sparkSession
    import spark.implicits._
    val fullVecs = base.select(col("vec_id"), col("_full").as("e"))
    val csCoarse = kmeansCentroidSeq(fullVecs, nCells, iters, "vec_id", "e")
    val coarse = csCoarse.toDF("cent_id", "ce")
    val cells =
      if (csCoarse.isEmpty)
        fullVecs.select(col("vec_id"),
          lit(null).cast("long").as("cell")).limit(0)
      else fullVecs.select(col("vec_id"),
        nearestCell(col("e"), csCoarse).as("cell"))
    // fused-trained per-block codebooks + map-only exploded codes (the
    // pqRecall construction — one corpus pass per Lloyd iteration for
    // ALL blocks, no per-block unions or assignment joins)
    val cbs = pqCodebooks(base, m, subDim, k, iters)
    val cents = cbs.zipWithIndex.flatMap { case (cb, b) =>
      cb.map { case (cid, ce) => (b, cid, ce) } }
      .toDF("b", "cent_id", "ce")
    val codes =
      if (cbs.head.isEmpty)
        base.select(col("vec_id"), lit(0).as("b"),
          lit(null).cast("long").as("code")).limit(0)
      else base.select(col("vec_id"),
          explode(array((0 until m).map { b =>
            struct(lit(b).as("b"),
              nearestCell(slice(col("_full"), b * subDim + 1, subDim),
                cbs(b)).as("code")) }: _*)).as("s"))
        .select(col("vec_id"), col("s.b").as("b"), col("s.code").as("code"))
    // per-query probe list: nprobe nearest coarse cells (bounded window
    // over |queries| x nCells rows)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("_csim").desc, col("cent_id").asc)
    val probes = broadcast(q.crossJoin(broadcast(coarse))
      .withColumn("_csim", round(cosine(col("q_emb"), col("ce")), 6))
      .withColumn("_pr", row_number().over(wProbe))
      .filter(col("_pr") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell")))
    // ADC lookup table: query x (block, centroid) partial dot products
    val lut = broadcast(q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("b"), col("cent_id").as("code"),
        round(dot(slice(col("q_emb"), col("b") * subDim + 1, lit(subDim)),
          col("ce")), 12).cast("decimal(28,12)").as("_part")))
    val adc = cells.join(probes, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
      .join(codes, "vec_id")
      .join(lut, Seq("query_id", "b", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("_part")).as("_adc"))
    if (reRank <= 0)
      graft.ops.Ranking.topKPerGroup(adc, "query_id", topK,
          Seq(col("_adc").desc, col("vec_id").asc),
          saltCol = col("vec_id"), salts = 16)
        .select(col("query_id"), col("rnk").as("rk"),
          col("vec_id").as("neighbor_id"),
          round(col("_adc").cast("double"), 6).as("adc"))
    else {
      // IVFADC+R: only the |queries| x reRank shortlist rejoins raw
      // vectors (equi-join on vec_id — bounded side shuffles, corpus
      // side streams), then an exact-dot salted top-k
      val shortlist = graft.ops.Ranking.topKPerGroup(adc, "query_id",
          math.max(topK, reRank), Seq(col("_adc").desc, col("vec_id").asc),
          saltCol = col("vec_id"), salts = 16)
        .select(col("query_id"), col("vec_id"))
      val rescored = shortlist.join(base, "vec_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"),
          round(dot(col("q_emb"), col("_full")), 6).as("_exact"))
      graft.ops.Ranking.topKPerGroup(rescored, "query_id", topK,
          Seq(col("_exact").desc, col("vec_id").asc),
          saltCol = col("vec_id"), salts = 16)
        .select(col("query_id"), col("rnk").as("rk"),
          col("vec_id").as("neighbor_id"), col("_exact").as("score"))
    }
  }

  /** nDCG rank discounts 1/log2(i+1), i = 1..k, pinned to 12-dp
    * decimals JVM-side — both the plan and the oracle embed these as
    * LITERALS, so libm log2 differences cannot skew parity. */
  private[graft] def ndcgDiscounts(k: Int): Seq[BigDecimal] =
    (1 to k).map(i => BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP))

  /** RBO depth weights: a neighbor matched at depths (ra, rb)
    * contributes to every prefix-overlap X_d with d ≥ m = max(ra, rb),
    * so its total weight is F(m) = (1−p)/(1−p^k) · Σ_{d=m..k} p^{d−1}/d
    * — computed in exact decimal arithmetic (30-digit quotients) and
    * pinned at 12 dp, embedded as literals on both engines. Σ F(m)
    * over m = 1..k is the perfect-agreement score (≈1). */
  private[graft] def rboWeights(k: Int,
      p: BigDecimal = BigDecimal("0.9")): Seq[BigDecimal] = {
    val mc = new java.math.MathContext(30)
    val norm = BigDecimal((BigDecimal(1) - p).bigDecimal
      .divide((BigDecimal(1) - p.pow(k)).bigDecimal, mc))
    (1 to k).map { m =>
      val tail = (m to k).map(d => BigDecimal(
        p.pow(d - 1).bigDecimal.divide(
          java.math.BigDecimal.valueOf(d.toLong), mc))).sum
      (norm * tail).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }
  }

  private def pinnedLookup(rankCol: Column,
      consts: Seq[BigDecimal]): Column =
    coalesce(consts.zipWithIndex.map { case (c, i) =>
      when(rankCol === (i + 1).toLong,
        lit(c.toString).cast("decimal(14,12)"))
    }: _*)

  /** Retrieval-quality metrics of the IVF index against brute-force
    * ground truth on a fixed query set: recall@k, MRR (reciprocal rank
    * of the first true neighbor in the IVF list), and binary-relevance
    * nDCG@k. ONE row: `(n_queries, k, recall_at_k, mrr, ndcg)`
    * (round 6). The IDCG and per-rank discounts are pinned 12-dp
    * decimal literals (see [[ndcgDiscounts]]); per-query reciprocal
    * ranks and nDCG are single IEEE divisions rounded to 12 and summed
    * as decimals. Queries the IVF misses entirely still count (left
    * join from the query list, zero contributions).
    *
    * Scale: the bounded-query-audit posture (x10/x66) — both lists are
    * ≤ k·|queries| rows; the corpus is touched by the two index scans
    * only.
    */
  def retrievalMetrics(queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int, nprobe: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 100, s"need k in [1,100], got $k")
    val disc = ndcgDiscounts(k)
    val idcg = disc.sum // exact: each term 12 dp
    val gt = bruteForceTopK(queries, candidates, k, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"))
    val sys = ivfTopK(queries, candidates, k, nCells, nprobe, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast("long").as("_sysrk"))
    // LEFT join from the ground-truth list: every gt row counts toward
    // the recall denominator (sum of ACTUAL per-query gt sizes — on a
    // corpus with < k eligible neighbors per query, n_queries·k would
    // make recall unreachable even for perfect retrieval)
    val perQ = gt.join(sys, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("_gtn"),
        count(col("_sysrk")).as("_nh"),
        sum(pinnedLookup(col("_sysrk"), disc)).as("_dcg"),
        min(col("_sysrk")).as("_first"))
      .select(col("query_id"), col("_gtn"), col("_nh"),
        round(col("_dcg").cast("double") / lit(idcg.toDouble), 12)
          .cast("decimal(14,12)").as("_ndcg"),
        round(lit(1.0) / col("_first").cast("double"), 12)
          .cast("decimal(14,12)").as("_rr"))
    queries.select(col(idCol).as("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        sum(coalesce(col("_gtn"), lit(0L))).as("_gt"),
        sum(coalesce(col("_nh"), lit(0L))).as("_hits"),
        sum(coalesce(col("_rr"), lit(0L).cast("decimal(14,12)")))
          .as("_srr"),
        sum(coalesce(col("_ndcg"), lit(0L).cast("decimal(14,12)")))
          .as("_sn"))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        // _gt = 0 (empty query frame / no eligible neighbors) -> 0/0
        // raises under ANSI; NULL is the honest "no ground truth" answer
        when(col("_gt") > 0, round(col("_hits").cast("double")
          / col("_gt").cast("double"), 6)).as("recall_at_k"),
        when(col("n_queries") > 0, round(col("_srr").cast("double")
          / col("n_queries").cast("double"), 6)).as("mrr"),
        when(col("n_queries") > 0, round(col("_sn").cast("double")
          / col("n_queries").cast("double"), 6)).as("ndcg"))
  }

  /** Rank-biased overlap (p = 0.9) between the brute-force and IVF
    * top-k lists — the order-aware agreement audit recall@k cannot
    * give (it weighs the head of the ranking). Per matched neighbor
    * the contribution is the pinned weight F(max(gt rank, ivf rank))
    * (see [[rboWeights]]) — so each per-query RBO is an EXACT decimal
    * sum; the row is `(n_queries, k, mean_rbo, min_rbo)` round 6.
    *
    * Scale: bounded-query audit; both lists ≤ k·|queries| rows.
    */
  def rboAudit(queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int, nprobe: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 100, s"need k in [1,100], got $k")
    val ws = rboWeights(k)
    val gt = bruteForceTopK(queries, candidates, k, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast("long").as("_gtrk"))
    val sys = ivfTopK(queries, candidates, k, nCells, nprobe, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast("long").as("_sysrk"))
    val perQ = gt.join(sys, Seq("query_id", "neighbor_id"))
      .select(col("query_id"),
        pinnedLookup(greatest(col("_gtrk"), col("_sysrk")), ws).as("_w"))
      .groupBy(col("query_id"))
      .agg(sum(col("_w")).as("_rbo"))
    queries.select(col(idCol).as("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_rbo"), lit(0L).cast("decimal(24,12)")).as("_rbo"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("_rbo")).as("_sr"), min(col("_rbo")).as("_mn"))
      .select(col("n_queries"), lit(k.toLong).as("k"),
        when(col("n_queries") > 0, round(col("_sr").cast("double")
          / col("n_queries").cast("double"), 6)).as("mean_rbo"),
        round(col("_mn").cast("double"), 6).as("min_rbo"))
  }
}
