package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.functions.TextExpressions

/** Document deduplication for training-data pipelines (north-star
  * extension): exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Hash family: salted md5. md5 is available and bit-identical in every
  * engine (Spark, DuckDB, Trino, ...), which makes each stage
  * oracle-checkable; the lexicographic MIN of salted digests is a valid
  * minwise permutation (Broder 1997's MinHash with the hash ordering as the
  * permutation).
  *
  * Scale design: every stage is a groupBy/join on a hash key — shuffles
  * partition by digest, so 100 TB of documents spread evenly; no stage
  * collects or cross-joins the full corpus. LSH banding turns near-dup
  * search into an equi-join on band keys.
  */
object Dedup {

  /** Tokenize: whitespace split (the corpus is pre-normalized text). */
  def tokens(text: Column): Column = split(text, " ")

  /** Exact duplicate groups: md5 over the raw text. */
  def exactDupGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  /** Canonical-token-set fingerprint: md5 of the sorted distinct tokens.
    * Catches reordered-but-identical-bag documents (fingerprinting stage).
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** C4-style corpus-wide line deduplication (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring more
    * than once in the data set"). Lines here are fixed-width word windows
    * (the corpus is pre-normalized, newline-free text); the keeper of a
    * duplicated line is its first occurrence in (idCol, line_no) order,
    * and each document is reassembled from its surviving lines. Documents
    * whose every line was claimed elsewhere drop out entirely — C4's
    * empty-document removal.
    *
    * Scale shape: segmentation is map-only (codegen'd array HOFs, no
    * shuffle); the keep-first pass shuffles once, keyed by line content,
    * so 100 TB of lines spread by hash; reassembly shuffles once keyed by
    * document id. Hot lines (boilerplate repeated millions of times) are
    * NOT a skew hazard: Spark plans the rank-1 filter as a partial
    * WindowGroupLimit BEFORE the exchange (verified in PLANS.md), so each
    * map task forwards at most one row per line and a hot line arrives at
    * its reducer as ≤ #partitions rows, not #occurrences.
    */
  def lineDedup(docs: DataFrame, wordsPerLine: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val lines = transform(
      sequence(lit(0), ceil(size(toks) / lit(wordsPerLine.toDouble)).cast("long") - 1),
      i => concat_ws(" ", slice(toks, (i * wordsPerLine + 1).cast("int"), lit(wordsPerLine))))
    val exploded = docs
      .select(col(idCol), posexplode(lines).as(Seq("line_no", "line")))
    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("line")).orderBy(col(idCol), col("line_no"))
    exploded
      .withColumn("_rn", row_number().over(firstSeen))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** RefinedWeb/Dolma-style BOILERPLATE line removal — the complement of
    * [[lineDedup]]: lineDedup keeps the FIRST occurrence of a duplicated
    * line (C4 §2.2); template boilerplate (navigation bars, footers,
    * cookie banners) instead wants EVERY occurrence of a line removed
    * when the line appears in at least `minDocs` DISTINCT documents of
    * the SAME source (templates are per-site; a line legitimately shared
    * across sources is not template evidence). Lines are the same
    * fixed-width word windows as [[lineDedup]]. Returns EVERY input
    * document with its kept-line reassembly, kept/removed counts — fully
    * boilerplate documents stay in the report (clean_text = '') so the
    * caller owns the drop policy, unlike lineDedup's C4 empty-doc drop.
    *
    * Scale shape: segmentation is map-only (codegen HOFs); the frequency
    * pass reduces to DISTINCT (source, line, doc) rows then one count
    * per (source, line) — a hot template line contributes ONE row per
    * containing doc to the count (distinct-first), never #occurrences.
    * The boiler set (lines in ≥ minDocs docs) is orders of magnitude
    * smaller than the corpus and rejoins as the build side of a hash
    * equi-join on (source, line) — AQE broadcasts it when it fits.
    * Reassembly shuffles once keyed by doc id, as lineDedup.
    */
  def boilerplateStrip(docs: DataFrame, wordsPerLine: Int = 5,
      minDocs: Int = 2, groupCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val lines = transform(
      sequence(lit(0), ceil(size(toks) / lit(wordsPerLine.toDouble)).cast("long") - 1),
      i => concat_ws(" ", slice(toks, (i * wordsPerLine + 1).cast("int"), lit(wordsPerLine))))
    val exploded = docs
      .select(col(idCol), col(groupCol), posexplode(lines).as(Seq("line_no", "line")))
    val boiler = exploded.select(col(groupCol), col("line"), col(idCol))
      .distinct()
      .groupBy(col(groupCol), col("line"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col(groupCol), col("line"), lit(true).as("_boiler"))
    exploded.join(boiler, Seq(groupCol, "line"), "left")
      .groupBy(col(idCol))
      .agg(
        count(when(col("_boiler").isNull, 1)).as("n_lines_kept"),
        count(when(col("_boiler").isNotNull, 1)).as("n_boiler_removed"),
        // when() is NULL for boiler lines and collect_list drops NULLs,
        // so only kept lines are reassembled; empty → '' via concat_ws
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("_boiler").isNull,
            struct(col("line_no"), col("line"))))),
          s => s.getField("line"))).as("clean_text"))
  }

  /** Mega-bucket guard for every banded candidate generator
    * ([[lshCandidatePairs]], [[hashNearDupPairs]]): a (band_id, band_key)
    * bucket of m members emits all m(m−1)/2 pairs only while m ≤ this
    * cap; above it the bucket degrades to m−1 STAR EDGES against its
    * min-id member (the hub). At web scale a template-page mega-cluster
    * — same boilerplate, differing counters, so it SURVIVES exact dedup —
    * routinely reaches 10⁴–10⁶ members sharing band keys, and one
    * 10⁵-member bucket would otherwise fan out ~5·10⁹ candidate pairs
    * before any verification gate can prune. Star edges keep the pair
    * count O(m) while preserving exactly what [[clusterPairs]]' min-label
    * propagation needs: every member stays connected to the bucket's
    * min id, so a true mega-cluster still collapses to one cluster with
    * the same min-id keeper. The tradeoff is explicit: members of an
    * OVERFLOWING bucket are verified against the hub only, so a bucket
    * that mixes several distinct clusters above the cap can miss
    * non-hub pairs — [[bandBucketHistogram]] is the diagnostic that
    * says whether any corpus bucket is in that regime. 1024 keeps the
    * worst dense bucket at ≤ ~524k pairs per band key.
    */
  val DefaultMaxBucket = 1024

  /** MinHash permutation constants: one (a, b) pair per hash function for
    * the universal family h_i(x) = (a_i·x + b_i) mod P. P = 2^31 - 1;
    * a_i < 2^15 keeps a_i·(x mod P) < 2^46 — no overflow in any engine's
    * checked 64-bit arithmetic.
    */
  val MinhashP = 2147483647L
  val MinhashA: IndexedSeq[Long] = IndexedSeq(
    10007L, 10009L, 10037L, 10039L, 10061L, 10067L, 10069L, 10079L,
    10091L, 10093L, 10099L, 10103L, 10111L, 10133L, 10139L, 10141L)
  val MinhashB: IndexedSeq[Long] = IndexedSeq(
    12345L, 23451L, 34512L, 45123L, 51234L, 13524L, 24635L, 35746L,
    46857L, 57968L, 16293L, 27304L, 38415L, 49526L, 50637L, 61748L)

  /** Engine-portable SQL for the 48-bit hash of a hex-digest column,
    * reduced mod P: integer value of its first 12 hex chars, mod 2^31-1.
    */
  def digestModSql(hexCol: String): String =
    s"(${graft.ops.TextAnalysis.hexToIntSql(hexCol, 12)} % $MinhashP)"

  /** Word n-gram shingles ("w1 w2 .. wn" strings). Documents shorter than
    * n tokens collapse to a single whole-document shingle (both engines'
    * range/sequence primitives disagree on empty ranges — the guard keeps
    * the construction portable AND gives short docs a signature). Null
    * text shingles as the empty text: one empty shingle.
    *
    * One native codegen'd expression
    * ([[graft.functions.TextExpressions.Shingles]]): the text is split
    * once per row and each window joined straight from the token array.
    */
  def shingles(text: Column, n: Int = 5): Column =
    GraftBridge.toColumn(TextExpressions.Shingles(
      GraftBridge.toExpression(coalesce(text, lit(""))), n))

  /** k arithmetic minhashes per document over the *distinct shingle set*:
    * ONE md5 per shingle (materialized as a column — not re-evaluated per
    * hex digit), then k cheap affine permutations — the standard scalable
    * construction (vs k salted digests, which costs k md5s per shingle).
    * Returns one column per hash: mh0..mh{k-1}.
    */
  def minhashSignature(docs: DataFrame, k: Int, textCol: String = "text",
      idCol: String = "doc_id", shingleN: Int = 5): DataFrame = {
    require(k <= MinhashA.size, s"at most ${MinhashA.size} hash functions")
    val tok = docs.select(col(idCol),
      explode(array_distinct(shingles(col(textCol), shingleN))).as("tok"))
    val withH = tok
      .withColumn("md5h", md5(col("tok")))
      // same VALUE as digestModSql (the oracle's engine-portable hex
      // parse) via one native conv() instead of 12 instr/substr terms —
      // this is the hottest expression in the dedup family (one per
      // distinct shingle); equality of the two forms is pinned by the
      // bandKeysArray == bandKeys∘minhashSignature spec
      .withColumn("hm",
        conv(substring(col("md5h"), 1, 12), 16, 10).cast("long") % MinhashP)
    val aggs = (0 until k).map(i =>
      min((col("hm") * lit(MinhashA(i)) + lit(MinhashB(i))) % lit(MinhashP)).as(s"mh$i"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Group-level MinHash signature by MERGE: the elementwise min of the
    * per-document signatures. MinHash sketches are mergeable —
    * min-merge(sig(A), sig(B)) = sig(A ∪ B) — which is what lets a
    * 100 TB pipeline keep per-shard or per-source sketches and combine
    * them without re-scanning text. The x91 oracle computes the
    * group signature DIRECTLY from the union of shingle sets, so the
    * correctness gate itself proves the merge property; the spec pins
    * it again in-process against [[minhashSignature]] keyed by group.
    */
  def mergedGroupSignature(docs: DataFrame, k: Int, groupCol: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 5): DataFrame = {
    val sig = minhashSignature(docs, k, textCol, idCol, shingleN)
    val aggs = (0 until k).map(i => min(col(s"mh$i")).as(s"mh$i"))
    sig.join(docs.select(col(idCol), col(groupCol)), idCol)
      .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Pairwise between-group similarity from merged sketches: est_jaccard
    * = agreeing signature positions / k. The corpus-scale work is
    * exactly the ONE per-shingle digest pass inside the signatures;
    * everything downstream operates on groups × k sketch rows (explode
    * to (group, position, value), ONE equi-join on the position, count
    * agreements) — group-pair similarity at 100 TB costs a scan plus
    * sketch-sized joins, with no text re-read and no BNLJ.
    */
  def groupSimilarityByMinhash(docs: DataFrame, k: Int, groupCol: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 5): DataFrame = {
    val merged = mergedGroupSignature(docs, k, groupCol, textCol, idCol,
      shingleN)
    val stacked = merged.select(col(groupCol).as("g"),
      explode(array((0 until k).map(i =>
        struct(lit(i).as("pos"), col(s"mh$i").as("v"))): _*)).as("pv"))
      .select(col("g"), col("pv.pos").as("pos"), col("pv.v").as("v"))
    val l = stacked.select(col("g").as("group_a"), col("pos"),
      col("v").as("va"))
    val r = stacked.select(col("g").as("group_b"), col("pos"),
      col("v").as("vb"))
    l.join(r, Seq("pos")).filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L))
        .cast("long").as("n_agree"))
      .withColumn("est_jaccard",
        round(col("n_agree").cast("double") / k, 6))
  }

  /** EXACT inter-source shingle overlap matrix — the ground-truth twin
    * of [[groupSimilarityByMinhash]]'s sketch estimate: for every source
    * pair sharing at least one n-gram, the exact intersection size plus
    * Jaccard and containment (inter / smaller set). A curation engineer
    * reads containment to find sources that are subsets of others
    * (mirror crawls) even when Jaccard is diluted by size imbalance.
    *
    * Scale shape (round-19 rewrite, guide §2.3/§2.4 "aggregate before
    * you shuffle"): ONE corpus-scale exchange — the shingle pass
    * aggregates straight into per-digest SOURCE SETS
    * (`collect_set(source)`, bounded by the small source cardinality,
    * partial-aggregated map-side so a hot boilerplate shingle arrives
    * at its reducer as ≤ #map-tasks set fragments, never #occurrences)
    * — and every pair is then EXPANDED MAP-SIDE from the sorted set
    * (each digest contributes at most C(sources, 2) struct rows) into
    * a tiny (sources²) final rollup. The previous form shuffled the
    * distinct (source, digest) table twice more through a corpus-scale
    * self equi-join on the digest; same integers, two fewer
    * corpus-scale exchanges and no join. Set sizes come off the same
    * materialized set table (O(sources) rows, broadcast back).
    */
  def sourceOverlapMatrix(docs: DataFrame, shingleN: Int = 5,
      groupCol: String = "source", textCol: String = "text"): DataFrame = {
    // NULL-group note (round-19 ADVICE): collect_set drops null group
    // values, so a null `groupCol` contributes no row to the sizes
    // table — unlike the pre-rewrite distinct (g, d) table, which kept
    // it as an intermediate row. The FINAL output is unchanged either
    // way (the old a<b pair filter discarded null pairs too); stated
    // here so the intermediate-semantics difference is visible.
    // per-digest source sets, consumed twice (sizes + pair expansion):
    // materialize so the corpus-scale shingle pass executes once
    val sets = Checkpoints.materialize(
      sourceSetsLazy(docs, shingleN, groupCol, textCol))
    val sizes = broadcast(sets.select(explode(col("gs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("sz")))
    // all a<b pairs of the sorted set, map-side: element i against the
    // tail starting at i+2 (slice is 1-based); sets are ≤ #sources long
    val pairs = flatten(transform(col("gs"), (x, i) =>
      transform(slice(col("gs"), i + lit(2), size(col("gs"))), y =>
        struct(x.as("a"), y.as("b")))))
    val inter = sets.select(explode(pairs).as("p"))
      .select(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_inter"))
    inter
      .join(sizes.select(col("g").as("source_a"), col("sz").as("_sza")), "source_a")
      .join(sizes.select(col("g").as("source_b"), col("sz").as("_szb")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_inter"),
        round(col("n_inter").cast("double")
          / (col("_sza") + col("_szb") - col("n_inter")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_inter").cast("double")
          / least(col("_sza"), col("_szb")).cast("double"), 6)
          .as("containment"))
  }

  /** Band keys over a minhash signature: `bands` groups of `rowsPerBand`
    * hashes, each band key = md5 of the ':'-joined mins.
    */
  def bandKeys(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    (0 until bands).foldLeft(sig) { (d, b) =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      d.withColumn(s"band$b", md5(concat_ws(":", cols: _*)))
    }

  /** Map-only per-row band keys: shingles → one md5 each → k affine
    * mins → banded md5 keys, in ONE native codegen'd expression
    * ([[graft.functions.TextExpressions.MinhashBandKeys]]; no explode,
    * no groupBy). Produces byte-identical keys to the explode/groupBy
    * pipeline (bandKeysArray == bandKeys∘minhashSignature, pinned in
    * ExtensionSpec) but as a STATELESS projection, so it composes with
    * Structured Streaming before stream-static joins (streaming
    * aggregations would forbid the downstream join) and costs no shuffle
    * in batch. Every band-key path uses it: the LSH candidate pairs, the
    * corpus states ([[corpusBandKeys]], [[corpusBandDocs]]) and both
    * near-dup reject cores. The kernel parses the digest's first 12 hex
    * chars directly; the DuckDB oracles replay the same value through
    * [[digestModSql]]. Null text keys as the empty text.
    */
  def bandKeysArray(text: Column, bands: Int, rowsPerBand: Int,
      shingleN: Int = 5): Column = {
    require(bands * rowsPerBand <= MinhashA.size,
      s"at most ${MinhashA.size} hash functions")
    GraftBridge.toColumn(TextExpressions.MinhashBandKeys(
      GraftBridge.toExpression(coalesce(text, lit(""))), bands, rowsPerBand,
      shingleN))
  }

  /** Append an `out` band-key-array column: [[bandKeysArray]] over
    * `textCol`, as one `withColumn`. */
  def withBandKeys(df: DataFrame, textCol: String, out: String,
      bands: Int, rowsPerBand: Int, shingleN: Int = 5): DataFrame =
    df.withColumn(out, bandKeysArray(col(textCol), bands, rowsPerBand,
      shingleN))

  /** A column name not present in `taken` (temp-column collision guard). */
  private def freshName(taken: Seq[String], base: String): String =
    Iterator.iterate(base)(_ + "_").dropWhile(taken.contains).next()

  /** Bloom-filter exact-dup ingest rejection — the membership structure
    * for when the corpus digest set outgrows cheap per-batch anti-joins:
    * a filter sized for `expectedItems` at `fpp` costs
    * −n·ln(fpp)/ln²2 bits ≈ 1.2 GB for 10⁹ docs at 1% — broadcastable
    * where the digest SET (32 B × n) is not. Spark builds it
    * DISTRIBUTED (`stat.bloomFilter` tree-aggregates per-partition
    * filters); only the finished bit array lands on the driver.
    *
    * Contract: NO false negatives — a document whose text md5 is in the
    * corpus is always rejected; a ~fpp fraction of genuinely novel
    * documents is collaterally dropped (harmless for training-data
    * ingest, the use case). Deterministic: Spark's BloomFilter hashes
    * with fixed seeds, so the same corpus + batch give the same result
    * on every run/engine — but the decision is a property of the filter
    * implementation, not SQL-expressible, hence spec-pinned rather than
    * DuckDB-oracle-backed. Membership probes via a scala closure over
    * the broadcast filter: the sketch boundary is the one place a
    * non-codegen predicate is the right tool (no public Catalyst
    * bloom-probe function), and it is a map-only filter — no shuffle.
    * Past driver memory, shard the corpus and chain per-shard filters,
    * or fall back to [[mergeNewDocs]]'s equi-anti-join.
    */
  def bloomCorpusFilter(corpus: DataFrame, newDocs: DataFrame,
      expectedItems: Long, fpp: Double = 0.01,
      textCol: String = "text"): DataFrame =
    bloomReject(newDocs, buildExactBloom(corpus, expectedItems, fpp, textCol),
      textCol)

  /** Distributed build of the corpus text-digest Bloom filter (the
    * reusable half of [[bloomCorpusFilter]] — build once batch-side,
    * probe from batch or streaming ingest). */
  def buildExactBloom(corpus: DataFrame, expectedItems: Long,
      fpp: Double = 0.01, textCol: String = "text")
      : org.apache.spark.util.sketch.BloomFilter = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, "bad bloom sizing")
    val h = freshName(corpus.columns.toSeq, "_h")
    corpus.select(md5(col(textCol)).as(h)).stat.bloomFilter(h, expectedItems, fpp)
  }

  /** Keep only rows whose text digest is NOT in the filter — a stateless
    * map-only predicate, legal in batch and streaming alike (no state
    * store, no shuffle, so it composes before any watermark; rebuild the
    * filter between query restarts as the corpus grows). The probe is
    * a native codegen'd expression
    * ([[graft.functions.SketchExpressions.BloomMightContain]]), so the
    * filter stays inside the whole-stage-codegen span and the bit array
    * ships via the plan's reference array — no UDF, no explicit
    * broadcast. */
  def bloomReject(docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      textCol: String = "text"): DataFrame = {
    val probe = GraftBridge.toColumn(
      graft.functions.SketchExpressions.BloomMightContain(
        GraftBridge.toExpression(md5(col(textCol))), bloom))
    docs.filter(!probe)
  }

  /** The corpus's distinct band-key set — the distilled dedup state the
    * unverified near-dup gates ([[mergeNewDocs]], [[bandKeyReject]]
    * without `minJaccard`) reject against (≤ bands·|distinct texts| short
    * rows). One map-only [[bandKeysArray]] projection per row, exploded,
    * then one DISTINCT on the narrow key: no signature groupBy, no join.
    * A null text keys as the empty text, like every [[bandKeysArray]]
    * caller.
    */
  def corpusBandKeys(docs: DataFrame, bands: Int, rowsPerBand: Int,
      textCol: String = "text"): DataFrame =
    docs.select(explode(bandKeysArray(col(textCol), bands, rowsPerBand))
      .as("bk")).distinct()

  /** Batch corpus merge (the daily-crawl ingest step): keep only new
    * documents that are neither exact duplicates (md5) nor near-duplicates
    * (shared LSH band) of the existing corpus, then union.
    *
    * Exact rejection is a NULL-SAFE (`<=>`) anti-join on the text digest,
    * so two null-text docs are exact duplicates of each other. Near-dup
    * rejection is the batch core of [[bandKeyReject]] against
    * [[corpusBandKeys]], unverified: every step is a hash join on uniform
    * md5 keys, and the verdict is a function of the text alone, so a
    * matched row is dropped whatever its id holds (null included).
    */
  def mergeNewDocs(corpus: DataFrame, newDocs: DataFrame,
      bands: Int = Pipeline.DefaultBands,
      rowsPerBand: Int = Pipeline.DefaultRowsPerBand,
      textCol: String = "text"): DataFrame = {
    val h = freshName(newDocs.columns.toSeq, "_h")
    val exactKeys = corpus.select(md5(col(textCol)).as(h)).distinct()
    val fresh = newDocs.join(exactKeys, md5(col(textCol)) <=> col(h),
      "left_anti")
    corpus.unionByName(nearDupRejectStacked(fresh,
      corpusBandKeys(corpus, bands, rowsPerBand, textCol), bands,
      rowsPerBand, textCol, None))
  }

  /** Benchmark DECONTAMINATION: for each corpus document, how many of its
    * distinct n-gram shingles also occur in an evaluation set — the
    * train/test-contamination check every serious LLM pipeline runs
    * before training. Pure hash equi-joins: the eval set distills to its
    * distinct shingle-md5 keys (tiny — benchmarks are small next to the
    * corpus — so Catalyst broadcasts it; were the "eval" side ever huge,
    * the same plan degrades gracefully to a shuffled hash join on uniform
    * md5 keys), the corpus explodes to (id, shingle-md5) rows map-side,
    * and one inner join + per-doc count yields the overlap. Docs with
    * zero overlap produce no row (the clean majority costs nothing
    * downstream); callers threshold `n_shared` to drop contaminated docs.
    */
  def contamination(corpus: DataFrame, evalSet: DataFrame, shingleN: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val evalKeys = evalSet
      .select(explode(array_distinct(shingles(col(textCol), shingleN))).as("tok"))
      .select(md5(col("tok")).as("sk")).distinct()
    corpus
      .select(col(idCol),
        explode(array_distinct(shingles(col(textCol), shingleN))).as("tok"))
      .select(col(idCol), md5(col("tok")).as("sk"))
      .join(evalKeys, "sk")
      // per-doc shingles are distinct pre-join, so count(*) IS the
      // distinct shared-shingle count
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
  }

  /** [[contamination]] with the denominator: per contaminated document,
    * its distinct-shingle count, the count shared with the eval set, and
    * the shared FRACTION — the evidence a pipeline owner reads to pick
    * the x47-style drop threshold (an 0.9-ratio doc is a benchmark copy;
    * an 0.02-ratio doc shares a common idiom). Same join shape as
    * [[contamination]] plus one map-side size() per doc — no new
    * corpus-scale pass.
    */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
      shingleN: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val shared = contamination(corpus, evalSet, shingleN, textCol, idCol)
    val totals = corpus.select(col(idCol),
      size(array_distinct(shingles(col(textCol), shingleN)))
        .cast("long").as("n_shingles"))
    shared.join(totals, idCol)
      .select(col(idCol), col("n_shingles"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_shingles"), 6)
          .as("contamination_ratio"))
  }

  /** LSH candidate pairs: documents sharing any band key (a < b).
    *
    * Bands are stacked into (band_id, band_key) rows before ONE self-join,
    * so the expensive signature subtree appears once per join side instead
    * of once per band per side; the stacked frame (bands rows/doc ×
    * (id + 32-char key) — tiny next to the signature computation above
    * it) is persisted across the two join sides and the star edges, as
    * per-call [[Checkpoints.scratch]] state (CurationRecallSpec's 8-thread
    * x64 probe read an empty pair set when concurrent calls shared one
    * cache entry). The join
    * key (band_id, band_key) spreads uniformly — md5 keys, no hash
    * PARTITION skew — but bucket CARDINALITY is semantic (how many docs
    * truly share a band key), so pair generation is bounded by the
    * [[DefaultMaxBucket]] star-edge policy and diagnosed by
    * [[bandBucketHistogram]].
    *
    * Cache LIFECYCLE (round-4 verdict): the candidate-pair edge list is
    * the DISTILLED output — orders of magnitude smaller than the corpus —
    * so it is materialized eagerly ([[Checkpoints.materialize]]: reliable
    * checkpoint when a checkpoint dir is configured, localCheckpoint
    * otherwise) and the stacked frame is unpersisted before returning.
    * Repeated invocations in a long-lived session therefore leave no
    * cache entries behind (spark.sharedState.cacheManager stays empty;
    * the checkpoint blocks are reclaimed when the result is dropped).
    * The interior join dataflow stays mechanically plan-audited via
    * [[lshCandidatePairsLazy]] (PlanSpec "LSH candidate-pair dataflow"),
    * and ExtensionSpec pins lazy == eager result equality, so the eager
    * checkpoint here cannot hide a join-shape regression.
    */
  def lshCandidatePairs(docs: DataFrame, bands: Int, rowsPerBand: Int,
      textCol: String = "text", idCol: String = "doc_id",
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val stacked = Checkpoints.scratch(
      stackedBandKeys(docs, bands, rowsPerBand, textCol, idCol))
    val pairs = Checkpoints.materialize(pairJoin(stacked, idCol, maxBucket))
    stacked.unpersist()
    pairs
  }

  /** The identical candidate-pair dataflow, lazily and uncached — the
    * plan-inspectable form PlanSpec audits (the eager form executes its
    * join before a caller can look at the plan). */
  private[graft] def lshCandidatePairsLazy(docs: DataFrame, bands: Int,
      rowsPerBand: Int, textCol: String = "text",
      idCol: String = "doc_id",
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    pairJoin(stackedBandKeys(docs, bands, rowsPerBand, textCol, idCol),
      idCol, maxBucket)

  /** Band-bucket cardinality DIAGNOSTIC — the "is any bucket in the
    * star-edge regime" readout behind [[DefaultMaxBucket]]: for the
    * given banding over `docs`, one row per observed bucket size m with
    * the number of (band_id, band_key) buckets at that size, the dense
    * pair mass m(m−1)/2 those buckets WOULD emit uncapped, and the pair
    * mass the capped generator actually emits (star edges, m−1, above
    * `maxBucket`). A corpus whose histogram tail crosses the cap is one
    * where the near-dup stage is trading non-hub recall for boundedness
    * — the signal to raise the cap, widen the banding, or pre-split the
    * mega-cluster. Scale: one map-side-combined groupBy on the stacked
    * band keys (the signature subtree runs once) and a second groupBy on
    * the O(distinct sizes) frequency table — no joins, no pairs.
    */
  def bandBucketHistogram(docs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    bucketHistogram(
      stackedBandKeys(docs, bands, rowsPerBand, textCol, idCol), maxBucket)

  /** The histogram epilogue over ANY stacked (id, bid, bk) band-key
    * frame — shared by [[bandBucketHistogram]] (token minhash bands) and
    * [[graft.functions.Similarity.embeddingBandHistogram]] (sign-LSH
    * embedding bands): bucket size → bucket count, dense pair mass,
    * emitted (capped) pair mass. */
  private[graft] def bucketHistogram(stacked: DataFrame,
      maxBucket: Int): DataFrame =
    // all-integer arithmetic (DIV, not /): the pair-mass columns stay
    // exact longs — m(m−1) is even, so DIV 2 is the true half
    stacked
      .groupBy(col("bid"), col("bk")).agg(count(lit(1)).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_buckets"))
      .select(col("m").as("bucket_size"), col("n_buckets"),
        expr("m * (m - 1) DIV 2 * n_buckets").as("n_dense_pairs"),
        expr(s"CASE WHEN m > $maxBucket THEN m - 1 " +
          "ELSE m * (m - 1) DIV 2 END * n_buckets").as("n_emitted_pairs"))

  /** Stacked (id, band id, band key) rows, MAP-ONLY (round 20): the
    * per-row [[bandKeysArray]] ladder replaces the explode/groupBy
    * signature route, which shuffled every per-shingle hash row through
    * the groupBy(id) exchange — a full corpus-scale shuffle at 100 TB
    * — before the band keys even existed. The per-row ladder does the
    * same hash work (one md5 per shingle, one per band) with ZERO
    * exchange, in one native codegen'd expression; ExtensionSpec pins
    * its keys byte-equal to the explode/groupBy route.
    *
    * PRECONDITION: `idCol` unique per row (every caller feeds a
    * primary-key id). The groupBy route MERGED duplicate-id rows into
    * one signature; the per-row ladder signs each row independently.
    */
  private def stackedBandKeys(docs: DataFrame, bands: Int, rowsPerBand: Int,
      textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(bandKeysArray(col(textCol), bands, rowsPerBand)))
      .select(col(idCol), col("pos").cast("int").as("bid"), col("col").as("bk"))

  /** Candidate pairs from stacked (bid, bk, id) band keys under the
    * [[DefaultMaxBucket]] mega-bucket policy: buckets at or under
    * `maxBucket` self-join densely (every a < b pair); larger buckets
    * emit m−1 star edges to their min-id hub. Bucket size and hub come
    * from ONE window partitioned by (bid, bk) — the same key the dense
    * self-join shuffles on, never a global window — so the guard costs
    * one extra exchange-compatible pass over the (tiny) stacked frame.
    */
  private[graft] def pairJoin(stacked: DataFrame, idCol: String,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bid"), col("bk"))
    val sized = stacked
      .withColumn("_m", count(lit(1)).over(w))
      .withColumn("_hub", min(col(idCol)).over(w))
    val small = sized.filter(col("_m") <= maxBucket)
    val l = small.select(col("bid"), col("bk"), col(idCol).as("id_a"))
    val r = small.select(col("bid"), col("bk"), col(idCol).as("id_b"))
    val densePairs = l.join(r, Seq("bid", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val starEdges = sized
      .filter(col("_m") > maxBucket && col(idCol) =!= col("_hub"))
      .select(col("_hub").as("id_a"), col(idCol).as("id_b"))
    densePairs.union(starEdges).distinct()
  }

  /** LSH candidate pairs VERIFIED by exact token-set Jaccard — the
    * precision gate a production near-dup pipeline runs before deleting
    * anything: banding emits a false positive whenever a band's minhashes
    * collide by coincidence (probability ≈ J^rowsPerBand per band even
    * for low true similarity J), and an unverified false positive merges
    * two unrelated documents into one cluster, permanently discarding a
    * real document. The verification joins each candidate pair to its
    * members' token sets ([[jaccard]]) — O(pairs), tiny next to the
    * corpus — keeping only pairs with true Jaccard >= `minJaccard`.
    */
  def verifiedCandidatePairs(docs: DataFrame, bands: Int, rowsPerBand: Int,
      minJaccard: Double, textCol: String = "text",
      idCol: String = "doc_id",
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    jaccard(docs, lshCandidatePairs(docs, bands, rowsPerBand, textCol, idCol,
        maxBucket), textCol, idCol)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"))

  /** Exact token-set Jaccard for given candidate pairs
    * (columns id_a, id_b): `id_a, id_b, inter (=|A∩B|), jaccard`, with
    * `inter` = 0 for pairs sharing no token and `jaccard` null when
    * either text is null.
    *
    * Scale shape: only PAIR MEMBERS are tokenized — docs are semi-joined
    * against the pair id set and each member's distinct token set is
    * MATERIALIZED once ([[Checkpoints.materialize]], same discipline as
    * [[lshCandidatePairs]]' distilled output), then joined onto both ends
    * of each pair; the intersection is one `array_intersect` per pair.
    * Candidates are a vanishing fraction of a 100 TB corpus, so the
    * verification stage is one bounded prune plus two joins against a
    * small checkpoint — no per-token rows, no aggregation.
    */
  def jaccard(docs: DataFrame, pairs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    pairTokenSets(docs, pairs, textCol, idCol)
      .select(col("id_a"), col("id_b"), col("inter"),
        setJaccard(col("_sa"), col("_sb")).as("jaccard"))

  /** ASYMMETRIC containment for candidate pairs — the quote/subset
    * signal Jaccard dilutes: a tweet embedded verbatim in a long article
    * has Jaccard ≈ 0 but containment_a = 1. Per pair: `id_a, id_b,
    * inter, containment_a (=|A∩B|/|A|), containment_b, containment
    * (the max — "one side is mostly inside the other")`. Same pruned
    * token-set pair join as [[jaccard]]; |set| >= 1 always (an empty
    * text still tokenizes to one empty token), so the divisions need no
    * guard.
    */
  def containment(docs: DataFrame, pairs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def share(set: String) =
      round(col("inter").cast("double") / size(col(set)).cast("double"), 6)
    pairTokenSets(docs, pairs, textCol, idCol)
      .select(col("id_a"), col("id_b"), col("inter"),
        share("_sa").as("containment_a"), share("_sb").as("containment_b"),
        greatest(share("_sa"), share("_sb")).as("containment"))
  }

  /** |A∩B| / (|A|+|B|−|A∩B|) of two DISTINCT token-set columns — the one
    * Jaccard formula behind [[jaccard]], [[jaccardScalar]] and the
    * verified near-dup reject. Null when either set is null. */
  private def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** The candidate pairs with both members' distinct token sets (`_sa`,
    * `_sb`) and their intersection size (`inter`, 0 when a text is
    * null): the member sets are pruned from `docs` and materialized
    * once, then joined onto each end of every pair. */
  private def pairTokenSets(docs: DataFrame, pairs: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val members = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol)))
      .distinct()
    val sets = Checkpoints.materialize(
      docs.join(members, Seq(idCol), "left_semi")
        .select(col(idCol), array_distinct(tokens(col(textCol))).as("_set")))
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("_set").as("_sa")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("_set").as("_sb")), "id_b")
      .withColumn("inter",
        coalesce(size(array_intersect(col("_sa"), col("_sb"))), lit(0)).cast("long"))
  }

  /** The corpus's (band-id, band-value, signature) state for the banded
    * Hamming ingest gate ([[hashNearDupReject]]): `nBands` rows per
    * distinct signature. Build once per corpus version, reuse across
    * batches/micro-batches — the perceptual-hash twin of
    * [[corpusBandDocs]].
    */
  def corpusHashBands(sig: DataFrame, hashCol: String, nBits: Int,
      nBands: Int): DataFrame = {
    require(nBits % nBands == 0, "bands must divide the signature width")
    val bandBits = nBits / nBands
    val mask = (1L << bandBits) - 1
    sig.select(col(hashCol).as("_sig")).distinct()
      .select(col("_sig"), explode(array((0 until nBands).map { b =>
        struct(lit(b).as("bid"),
          shiftright(col("_sig"), b * bandBits).bitwiseAND(lit(mask)).as("bv"))
      }: _*)).as("band"))
      .select(col("band.bid").as("bid"), col("band.bv").as("bv"), col("_sig"))
  }

  /** Banded Hamming rejection against a corpus signature state: drop
    * every row whose `hashCol` is within `maxHamming` of ANY corpus
    * signature sharing a band — one chained hash LEFT ANTI join per band
    * (the [[graft.streaming.StreamingWindows]] ingest shape: stateless,
    * no watermark, streaming-legal), each an equi-join on the band value
    * with the exact bit_count residual at the join site. maxHamming <
    * nBands keeps the pigeonhole guarantee: nothing within the threshold
    * can slip past every band.
    */
  def hashNearDupReject(docs: DataFrame, corpusBands: DataFrame,
      nBits: Int, nBands: Int, maxHamming: Int,
      hashCol: String = "phash"): DataFrame = {
    require(nBits % nBands == 0, "bands must divide the signature width")
    require(maxHamming < nBands,
      "pigeonhole guarantee needs maxHamming < nBands")
    val bandBits = nBits / nBands
    val mask = (1L << bandBits) - 1
    (0 until nBands).foldLeft(docs) { (d, b) =>
      val r = corpusBands.filter(col("bid") === b)
        .select(col("bv").as("_cbv"), col("_sig").as("_csig"))
      d.join(r,
        shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask))
          === col("_cbv") &&
          expr(s"CAST(bit_count($hashCol ^ _csig) AS INT) <= $maxHamming"),
        "left_anti")
    }
  }

  /** Corpus snapshot diff by CONTENT: classify every distinct document
    * text as `added` (only in the new snapshot), `removed` (only in the
    * old) or `retained`, with document and token mass per class — the
    * between-versions audit a dataset release needs (what changed, and
    * how much training signal moved), keyed by content digest so renames
    * and id reshuffles between snapshots do not show up as churn.
    *
    * Per class: `n_contents` distinct texts, `n_docs` document count and
    * `n_tokens` token mass measured on the side that HAS them (the new
    * side for added/retained — the current census — the old side for
    * removed). Scale shape: one map-side-combinable digest aggregate per
    * snapshot, then ONE full-outer hash join on the uniform md5 digest;
    * the 3-row report aggregates with map-side combine. No windows, no
    * skew (digests are uniform by construction).
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def byDigest(d: DataFrame) = d
      .select(md5(col(textCol)).as("h"),
        size(tokens(col(textCol))).cast("long").as("_t"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("_docs"), sum(col("_t")).as("_toks"))
    val o = byDigest(oldDocs)
      .select(col("h"), col("_docs").as("_od"), col("_toks").as("_ot"))
    val n = byDigest(newDocs)
      .select(col("h"), col("_docs").as("_nd"), col("_toks").as("_nt"))
    o.join(n, Seq("h"), "full_outer")
      .withColumn("status",
        when(col("_od").isNull, lit("added"))
          .when(col("_nd").isNull, lit("removed"))
          .otherwise(lit("retained")))
      .groupBy(col("status"))
      .agg(count(lit(1)).cast("long").as("n_contents"),
        sum(coalesce(col("_nd"), col("_od"))).cast("long").as("n_docs"),
        sum(coalesce(col("_nt"), col("_ot"))).cast("long").as("n_tokens"))
  }

  /** MinHash estimator calibration over the LSH candidate pairs: for
    * every candidate, the SIGNATURE-agreement estimate of shingle-set
    * Jaccard (agreeing components / k — the unbiased MinHash estimator,
    * Broder 1997) next to the EXACT shingle-set Jaccard, with the
    * absolute error. This is the evidence for tuning (bands, rowsPerBand):
    * x64 reports banding precision at fixed thresholds; this exposes the
    * estimator itself, pair by pair.
    *
    * Scale shape: the signature frame is computed ONCE and materialized
    * ([[Checkpoints.materialize]]) — it feeds band-key pair generation
    * AND the per-pair agreement count without re-running the per-shingle
    * md5 pass (the x54 backbone rule). Candidate pairs come from
    * [[pairJoin]] over the stacked band keys, so mega-buckets above
    * [[DefaultMaxBucket]] emit star edges exactly as in
    * [[lshCandidatePairs]] (and the x85 oracle). Exact Jaccard tokenizes only
    * semi-joined pair members (the [[verifiedCandidatePairs]] prune) —
    * O(pairs), never a corpus pass. All joins are hash equi-joins on ids
    * or uniform md5 band keys.
    */
  def minhashCalibration(docs: DataFrame, bands: Int, rowsPerBand: Int,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 5): DataFrame = {
    val k = bands * rowsPerBand
    val sig = Checkpoints.materialize(
      minhashSignature(docs, k, textCol, idCol, shingleN))
    val stacked = bandKeys(sig, bands, rowsPerBand)
      .select(col(idCol),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*)))
      .select(col(idCol), col("pos").cast("int").as("bid"), col("col").as("bk"))
    val pairs = pairJoin(stacked, idCol, DefaultMaxBucket)
    val members = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val pruned = Checkpoints.materialize(
      docs.join(members, Seq(idCol), "left_semi")
        .select(col(idCol), col(textCol)))
    val shArr = array_distinct(shingles(col(textCol), shingleN))
    val sets = pruned.select(col(idCol).as("jid"), explode(shArr).as("tok"))
    val sizes = pruned.select(col(idCol).as("jid"),
      size(shArr).cast("long").as("sz"))
    val inter = pairs
      .join(sets.select(col("jid").as("id_a"), col("tok")), "id_a")
      .join(sets.select(col("jid").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    val agree = (0 until k).map(i =>
      when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sig.alias("sa"), col(s"sa.$idCol") === col("id_a"))
      .join(sig.alias("sb"), col(s"sb.$idCol") === col("id_b"))
      .withColumn("n_agree", agree.cast("long"))
      .join(inter, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("inter"))
      .join(sizes.select(col("jid").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("jid").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("est_jaccard",
        round(col("n_agree").cast("double") / k, 6))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .select(col("id_a"), col("id_b"), col("n_agree"), col("est_jaccard"),
        col("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 6).as("abs_err"))
  }

  /** Exact token-set Jaccard of two text columns as ONE scalar expression
    * — codegen'd array functions, no join or aggregation, so it is legal
    * inside any streaming plan and evaluates only on rows a join has
    * already paired. Pair-identical to [[jaccard]]'s distributed pair
    * join (both sides distinct-tokenized, one [[setJaccard]]): the join
    * form scales the all-pairs verification stage, this form prices ONE
    * candidate pair whose both texts are on the same row.
    */
  def jaccardScalar(a: Column, b: Column): Column =
    setJaccard(array_distinct(tokens(a)), array_distinct(tokens(b)))

  /** The corpus's (band key, token set) VERIFICATION state — what the
    * Jaccard-verified near-dup gate ([[bandKeyReject]] with `minJaccard`,
    * batch and streaming) joins against: one `(bk, ctoks)` row per distinct
    * non-null corpus text and distinct band key of that text, the
    * payload riding along so candidate verification is a scalar
    * expression at the join site (no second lookup). ~bands·|distinct
    * texts| rows — heavier than [[corpusBandKeys]] by the token column,
    * the price of precision. One DISTINCT on the text, then one map-only
    * [[bandKeysArray]] projection: no signature groupBy, no join.
    *
    * The payload is the DISTINCT TOKEN SET (`ctoks`), not the raw text:
    * the verification residual needs only the set, and pre-tokenizing
    * here means a band-colliding pair costs one `array_intersect` at the
    * join instead of re-splitting both texts per candidate pair (a hot
    * band key collides one doc with MANY corpus rows — per-pair
    * tokenization is the quadratic-constant trap).
    */
  def corpusBandDocs(docs: DataFrame, bands: Int, rowsPerBand: Int,
      textCol: String = "text"): DataFrame =
    docs.select(col(textCol).as("ctext")).filter(col("ctext").isNotNull)
      .distinct()
      .select(
        explode(array_distinct(bandKeysArray(col("ctext"), bands,
          rowsPerBand))).as("bk"),
        array_distinct(tokens(col("ctext"))).as("ctoks"))

  /** The corpus-scale stage of [[sourceOverlapMatrix]], lazily — the
    * plan-inspectable form PlanSpec pins (the eager materialize above
    * executes before a caller can look at the plan): one shingle
    * explode into a single digest-keyed aggregation whose collect_set
    * partial-aggregates map-side — exactly ONE exchange, zero joins.
    */
  private[graft] def sourceSetsLazy(docs: DataFrame, shingleN: Int,
      groupCol: String, textCol: String): DataFrame =
    docs.select(col(groupCol).as("g"),
        explode(shingles(col(textCol), shingleN)).as("tok"))
      .select(col("g"), md5(col("tok")).as("d"))
      .groupBy(col("d"))
      .agg(array_sort(collect_set(col("g"))).as("gs"))

  /** Bucket-pressure histogram over a PREBUILT ingest corpus state
    * (round-16 verdict Next #8): bucket size → bucket count, straight
    * off the state frame an ingest gate already holds
    * ([[corpusBandDocs]]' `bk`,
    * [[graft.functions.Similarity.corpusEmbeddingBuckets]]' `bucket`) —
    * no minhash/LSH recomputation, no batch diagnostic pass. A bucket
    * of size m costs every colliding arrival m residual verifications
    * (`sum(bucket_size · n_buckets)` over the tail = the worst-case
    * per-arrival verify mass), so a growing tail here says the banding
    * shape needs more rows/planes per band BEFORE the gate slows down.
    */
  def corpusStatePressure(state: DataFrame,
      keyCols: Seq[String] = Seq("bk")): DataFrame =
    state.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_buckets"))
      .select(col("m").as("bucket_size"), col("n_buckets"),
        expr("m * n_buckets").as("n_state_rows"))

  /** Near-dup rejection against a corpus band state — the one text gate
    * under streaming ingest
    * ([[graft.streaming.StreamingWindows.streamingIngestCuration]]) and
    * the batch append pipeline ([[graft.ops.Pipeline.appendCurated]]).
    * Without `minJaccard`, a document is dropped when ANY of its band keys
    * is in the corpus key set ([[corpusBandKeys]], `bk`). With
    * `Some(minJaccard)` it is dropped only when it shares a band key with
    * a corpus text ([[corpusBandDocs]], `bk` + `ctoks`) AND its exact
    * token-set Jaccard against THAT text clears `minJaccard`, so a banding
    * false positive cannot drop a good document. The doc's band keys are
    * one stateless map-only projection ([[bandKeysArray]]); a streaming
    * `docs` runs [[nearDupRejectChain]], a batch one
    * [[nearDupRejectStacked]], and both return the same rows
    * (StreamingSpec pins stream == batch). Verification is priced only on
    * band-colliding pairs, with no broadcast limit, no watermark and no
    * state store.
    *
    * Both sides pre-stage their DISTINCT TOKEN SETS (the doc side as a
    * map-only projection, the corpus side inside [[corpusBandDocs]]), so
    * the residual is one `array_intersect` of two ready arrays — never
    * per-pair re-tokenization, which would multiply by the fan-out of a
    * hot band key. The verdict is a function of the text alone: a null
    * text is never rejected by the verified gate (its token set is null),
    * and a row's id plays no part.
    */
  def bandKeyReject(docs: DataFrame, state: DataFrame,
      bands: Int = Pipeline.DefaultBands,
      rowsPerBand: Int = Pipeline.DefaultRowsPerBand,
      textCol: String = "text", minJaccard: Option[Double]): DataFrame =
    if (docs.isStreaming)
      nearDupRejectChain(docs, state, bands, rowsPerBand, textCol, minJaccard)
    else
      nearDupRejectStacked(docs, state, bands, rowsPerBand, textCol,
        minJaccard)

  /** Band-key match of a doc row against a state row, with the optional
    * Jaccard residual on their token sets — the join condition of both
    * reject cores. */
  private def bandHit(bk: Column, cbk: Column, toks: Column, ctoks: Column,
      minJaccard: Option[Double]): Column =
    minJaccard.fold(bk === cbk)(j => bk === cbk && setJaccard(toks, ctoks) >= j)

  /** The STREAMING reject core: one stream-static hash ANTI-join per band
    * on that band's key, with the Jaccard residual (if any) at the join
    * site. A stream may not join against an aggregate of itself, so each
    * per-band anti-join must stay stream-static; no streaming
    * aggregation, no state store, and the static side may be arbitrarily
    * large (store it bucketed by `bk` and its shuffle is done once, not
    * per micro-batch). A doc survives iff it survives every band. Kept
    * `private[graft]` so PlanSpec/StreamingSpec can audit its plan on a
    * batch frame. The stacked core could run per micro-batch only inside
    * `foreachBatch`, which moves the sink into the gate, so a caller could
    * no longer compose the gate before its own sink (StreamingSpec's
    * memory sinks); the chain keeps the gate a streaming DataFrame.
    */
  private[graft] def nearDupRejectChain(docs: DataFrame, state: DataFrame,
      bands: Int, rowsPerBand: Int, textCol: String,
      minJaccard: Option[Double]): DataFrame = {
    val withBks = docs.withColumn("_bks",
      bandKeysArray(col(textCol), bands, rowsPerBand))
    val staged = minJaccard.fold(withBks)(_ =>
      withBks.withColumn("_vtoks", array_distinct(tokens(col(textCol)))))
    (0 until bands).foldLeft(staged) { (d, b) =>
      val r = state.select(col("bk").as(s"_cbk$b") +:
        minJaccard.map(_ => col("ctoks").as(s"_ct$b")).toSeq: _*)
      d.join(r, bandHit(element_at(col("_bks"), b + 1), col(s"_cbk$b"),
        col("_vtoks"), col(s"_ct$b"), minJaccard), "left_anti")
    }.drop("_bks", "_vtoks")
  }

  /** The BATCH reject core: the docs' band keys EXPLODE into (digest,
    * token set, bk) rows, ONE hash semi-join against the state (with the
    * residual) yields the rejected text digests, and one null-safe
    * (`<=>`) anti-join on `md5(text)` drops them. OR-over-bands ≡ EXISTS
    * over stacked rows, so the reject set is exactly the chain's; the
    * chain instead re-shuffles the surviving batch with its payload and
    * re-exchanges the state once PER BAND (round 20 measured 2.6× on
    * x61's vsCorpus stage). Keying on the digest alone is exact because
    * the verdict depends only on the text, and `<=>` keeps null-text
    * rows deciding like the chain's.
    */
  private def nearDupRejectStacked(docs: DataFrame, state: DataFrame,
      bands: Int, rowsPerBand: Int, textCol: String,
      minJaccard: Option[Double]): DataFrame = {
    val h = freshName(docs.columns.toSeq, "_vh")
    val stacked = docs.select(Seq(md5(col(textCol)).as(h),
        explode(bandKeysArray(col(textCol), bands, rowsPerBand)).as("_bk")) ++
      minJaccard.map(_ => array_distinct(tokens(col(textCol))).as("_vtoks")): _*)
    val r = state.select(col("bk").as("_cbk") +:
      minJaccard.map(_ => col("ctoks")).toSeq: _*)
    val rejected = stacked
      .join(r, bandHit(col("_bk"), col("_cbk"), col("_vtoks"), col("ctoks"),
        minJaccard), "left_semi")
      .select(col(h)).distinct()
    docs.join(rejected, md5(col(textCol)) <=> col(h), "left_anti")
  }

  /** Multi-signal near-dup clustering: union several candidate-pair
    * edge lists (text LSH, image aHash, audio fingerprint, semantic
    * cosine — any (id_a, id_b) source) into ONE graph and propagate
    * min-labels over it, so a document cluster forms when ANY modality
    * links it. This is the cross-modal dedup contract: a meme reposted
    * with new caption text joins its image-mates' cluster; a
    * transcript-edited video joins its audio-mates'. Each pair source
    * keeps its own bucketing scale story; the union and the propagation
    * operate on the distilled edge lists only.
    */
  def multiSignalClusters(pairSets: Seq[DataFrame], rounds: Int): DataFrame = {
    require(pairSets.nonEmpty, "need at least one pair source")
    clusterPairs(
      pairSets.map(_.select(col("id_a"), col("id_b"))).reduce(_ unionByName _)
        .distinct(),
      rounds)
  }

  /** Near-duplicate CLUSTERS from candidate pairs: `rounds` iterations of
    * min-label propagation — after the pair stage finds edges, this is
    * how a real dedup pipeline picks one keeper per connected component.
    * After r rounds each document's label is the minimum id within r
    * hops of it; rounds ≥ component diameter give exact components.
    * Near-dup components are shallow (pairs/triangles), so a small fixed
    * round count is both sufficient and — because the oracle replays the
    * SAME rounds — exactly checkable.
    *
    * Plan shape: propagation runs over the closed neighbourhood
    * `edges ∪ {(v, v)}`, so a round is ONE equi-join of the previous
    * labels plus ONE min aggregation on the label key (uniform doc ids —
    * no skew), and round r reads round r−1's labels once: the plan grows
    * linearly in `rounds`. Round 1 needs no join at all: over the
    * identity labels it is the minimum id in each closed neighbourhood.
    * At production scale `checkpointEvery` cuts lineage every few rounds.
    *
    * Cache lifecycle: the edge list is per-call scratch state
    * ([[Checkpoints.scratch]]), so a caller holding an equal cached frame
    * keeps its own cache entry. The final labels (one short row per
    * clustered doc) are materialized eagerly so the edge list can be
    * unpersisted before returning — repeated invocations leave no cache
    * entries behind.
    */
  def clusterPairs(pairs: DataFrame, rounds: Int,
      checkpointEvery: Int = 0): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // The edge list is consumed once per round — persist it, or every
    // round re-executes the whole upstream candidate-pair pipeline
    // (minhash + LSH join). The edge list is the DISTILLED graph: tiny
    // next to the corpus, the textbook cache for iterative algorithms.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val hood = Checkpoints.scratch(
      edges.union(edges.select(col("src"), col("src").as("dst"))))
    var labels = hood.groupBy(col("src").as("id")).agg(min(col("dst")).as("lbl"))
    for (r <- 2 to rounds) {
      // each round stacks a join+agg on the labels lineage; past a few
      // rounds the plan itself becomes the bottleneck (re-optimization,
      // stage-retry recompute depth). Checkpoints.materialize truncates
      // lineage — reliably when a checkpoint dir is configured (the 100 TB
      // default: truncated lineage + unreplicated blocks would otherwise
      // make one lost executor an unrecoverable failure), executor-local
      // in dev/local mode.
      if (checkpointEvery > 0 && (r - 1) % checkpointEvery == 0)
        labels = Checkpoints.materialize(labels)
      labels = hood.join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("lbl")).as("lbl"))
    }
    val out = Checkpoints.materialize(
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster")))
    hood.unpersist()
    out
  }

  /** Keeper ELECTION per near-dup cluster under a retention POLICY —
    * which member of each duplicate cluster survives is a real editorial
    * decision, not an implementation detail: `min_id` (the pipeline
    * default — deterministic, crawl-order-stable) or `longest` (max
    * token count, ties to min id — what corpus curation usually wants:
    * the most complete member of a scraped-page cluster survives).
    * Returns (idCol, cluster, keeper) for every clustered document;
    * callers drop rows where idCol != keeper.
    *
    * Scale shape: [[clusterPairs]] labels on the distilled edge list,
    * one hash join to attach token counts, and a window PARTITIONED BY
    * cluster (never a global window) to elect the keeper.
    */
  def keeperElection(docs: DataFrame, pairs: DataFrame, rounds: Int = 3,
      policy: String = "min_id", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(Set("min_id", "longest")(policy), s"unknown keeper policy $policy")
    val clusters = clusterPairs(pairs, rounds)
    if (policy == "min_id")
      // the min label IS the min id — the election is already done
      return clusters.select(col("doc_id").as(idCol), col("cluster"),
        col("cluster").as("keeper"))
    val stats = docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("_n").desc, col("doc_id").asc)
    val keepers = clusters.join(stats, "doc_id")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("cluster"), col("doc_id").as("keeper"))
    clusters.join(keepers, "cluster")
      .select(col("doc_id").as(idCol), col("cluster"), col("keeper"))
  }

  /** Engine-portable SQL snippet for one SimHash bit contribution of a
    * token column `tok`: ±1 from bit `j` (0..4*hexChars-1, MSB-first within
    * each nibble) of md5(tok). Valid in both Spark SQL and DuckDB —
    * the same text is used on both sides of the oracle check.
    */
  def simhashBitSql(j: Int, tokExpr: String = "tok"): String =
    simhashBitOnDigestSql(j, s"md5($tokExpr)")

  /** Same ±1 bit extraction over an already-materialized md5 hex digest —
    * the Spark-side aggregation stages the digest ONCE per token so the
    * 32 per-bit sums share it instead of re-hashing (inlined md5 would be
    * re-evaluated per bit wherever codegen CSE doesn't reach, e.g.
    * interpreted fallbacks and the sort-based agg path). */
  def simhashBitOnDigestSql(j: Int, digestExpr: String): String = {
    val nibblePos = j / 4 + 1            // 1-based hex char position
    val weight = 1 << (3 - j % 4)        // bit within the nibble, MSB first
    s"(2 * (CAST(floor((instr('0123456789abcdef', substr($digestExpr, $nibblePos, 1)) - 1) / $weight) AS INT) % 2) - 1)"
  }

  /** SimHash near-duplicate pairs at scale: pigeonhole banding. A pair
    * within Hamming distance `maxHamming` differs in at most `maxHamming`
    * of the `nBands` bands, so with maxHamming < nBands it MUST share at
    * least one full band — candidates come from an equi-join on
    * (band_id, band_value), never an all-pairs scan; the exact
    * `bit_count(xor)` check then filters the survivors. The standard
    * big-corpus simhash dedup construction (Manku et al., WWW'07).
    */
  def simhashNearDupPairs(docs: DataFrame, nBits: Int, nBands: Int,
      maxHamming: Int, textCol: String = "text",
      idCol: String = "doc_id",
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    hashNearDupPairs(simhash(docs, nBits, textCol, idCol), "simhash",
      nBits, nBands, maxHamming, idCol, maxBucket)
  }

  /** Pigeonhole-banded Hamming near-dup pairs over ANY precomputed
    * bit-signature column (SimHash, perceptual image hash, …): ids whose
    * signatures share at least one of `nBands` contiguous bit bands are
    * candidates; pairs at Hamming ≤ `maxHamming` survive. maxHamming <
    * nBands makes the banding EXACT (a pair within the threshold differs
    * in fewer bands than exist, so some band matches). Band extraction is
    * shift+mask — sign-safe for full-64-bit signatures because the mask
    * keeps only the extracted bits regardless of arithmetic-shift fill.
    * Scale: candidates per (band, value) bucket ≈ n/2^bandBits; narrow
    * bands (high thresholds) collide more — at corpus scale prefer wider
    * bands with a lower threshold, the x31 tuning rule. Buckets over
    * `maxBucket` degrade to star edges against the bucket's min-id hub
    * ([[DefaultMaxBucket]]) — for those buckets the pigeonhole guarantee
    * narrows to hub-relative pairs (a member within `maxHamming` of the
    * hub is still caught; two non-hub members are linked only through
    * the hub), the explicit boundedness-for-recall trade a mega-cluster
    * of near-identical signatures forces. [[bandBucketHistogram]]'s
    * analog here is the (bid, bv) groupBy any caller can run on the
    * signature frame when tuning nBands.
    */
  def hashNearDupPairs(sig: DataFrame, hashCol: String, nBits: Int,
      nBands: Int, maxHamming: Int, idCol: String = "doc_id",
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(nBits % nBands == 0, "bands must divide the signature width")
    require(maxHamming < nBands,
      "pigeonhole guarantee needs maxHamming < nBands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val bandBits = nBits / nBands
    val mask = (1L << bandBits) - 1
    val stacked = sig.select(col(idCol), col(hashCol).as("_sig"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("bid"),
          shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask)).as("bv"))
      }: _*)).as("band"))
      .select(col(idCol), col("_sig"),
        col("band.bid").as("bid"), col("band.bv").as("bv"))
    // bucket size + hub row from ONE window on the join key itself; the
    // min STRUCT is the min-id row (ids are unique within a bucket), so
    // the hub's signature rides along for the star-edge hamming check
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bid"), col("bv"))
    val sized = stacked
      .withColumn("_m", count(lit(1)).over(w))
      .withColumn("_hubrow", min(struct(col(idCol), col("_sig"))).over(w))
    val small = sized.filter(col("_m") <= maxBucket)
    val l = small.select(col("bid"), col("bv"),
      col(idCol).as("id_a"), col("_sig").as("sa"))
    val r = small.select(col("bid"), col("bv"),
      col(idCol).as("id_b"), col("_sig").as("sb"))
    // hamming is a pure function of the pair, so filtering BEFORE the
    // distinct is equivalent — and shrinks the dedup shuffle from every
    // band-sharing candidate to just the qualifying pairs
    val densePairs = l.join(r, Seq("bid", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(sa ^ sb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val starEdges = sized
      .filter(col("_m") > maxBucket &&
        col(idCol) =!= col("_hubrow").getField(idCol))
      .select(col("_hubrow").getField(idCol).as("id_a"),
        col(idCol).as("id_b"),
        expr(s"CAST(bit_count(_hubrow._sig ^ _sig) AS BIGINT)")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
    densePairs.union(starEdges).distinct()
  }

  // ----------------------------------------------------------------------
  // Exact substring (W-gram span) dedup — the "repeated passage" signal
  // (ref: medvedi's dedup surface stops at whole-document granularity;
  // this is the span-level extension a training-data pipeline needs:
  // boilerplate headers, license blocks, and templated passages repeat
  // ACROSS otherwise-distinct documents).

  /** Every W-token span occurrence in the corpus as (idCol, pos, h):
    * `pos` is the 0-based token index of the span start, `h` the md5 of
    * the space-joined span. Documents shorter than `w` emit nothing.
    *
    * Scale: span enumeration is map-only — each doc emits ~len spans,
    * hashed BEFORE any shuffle, so only (h, id, pos) short rows move.
    * The w× token amplification is per-task CPU (same budget class as
    * the minhash shingle hash), never shuffled bytes.
    */
  def spanOccurrences(docs: DataFrame, w: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(w >= 2, s"span width must be >= 2, got $w")
    val a = freshName(docs.columns.toSeq, "_sa")
    docs
      .select(col(idCol), tokens(col(textCol)).as(a))
      .filter(size(col(a)) >= w)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col(a)) - w),
          i => md5(concat_ws(" ", slice(col(a), i + 1, lit(w)))))).as(Seq("pos", "h")))
  }

  /** Per-document duplicated-span report under keep-first-occurrence
    * semantics: a span occurrence is DUPLICATED iff the same W-gram
    * occurs anywhere earlier in global (doc, pos) order — including
    * earlier in the same document (self-repetition). For each document
    * with at least one duplicated span: the span count, the token count
    * covered by the spans' interval union, and the covered fraction.
    * This is the signal behind substring-level dedup: a high `dup_ratio`
    * marks boilerplate-heavy documents to strip or drop.
    *
    * Scale shape, stage by stage:
    *   - first-occurrence election is a map-side-combinable MIN per span
    *     hash — a span repeated millions of times partially aggregates
    *     inside each map task, so hot spans never funnel into one window
    *     task;
    *   - the join back is build-side one-row-per-key (keeper) against a
    *     streamed probe side — probe skew is sequential scan, not state;
    *   - the interval union is an O(1)-state running-max window
    *     partitioned BY DOCUMENT (bounded per-key work at any corpus
    *     size): sorted by pos, each span contributes the part of
    *     [pos, pos+w) beyond the running max end.
    */
  def duplicatedSpanReport(docs: DataFrame, w: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = spanOccurrences(docs, w, textCol, idCol)
    val keep = occ.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("_k"))
    val dups = occ.join(keep, "h")
      .filter(struct(col(idCol), col("pos")) =!= col("_k"))
      .select(col(idCol), col("pos"))
    val prior = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = dups
      .withColumn("_pe", max(col("pos") + w).over(prior))
      .withColumn("_c", greatest(lit(0), col("pos") + w -
        greatest(col("pos"), coalesce(col("_pe"), lit(0)))))
    val nTok = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("_n"))
    covered.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("_c")).cast("long").as("dup_tokens"))
      .join(nTok, idCol)
      .select(col(idCol), col("n_dup_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("_n"), 6).as("dup_ratio"))
  }

  /** The scrub action behind [[duplicatedSpanReport]]: rewrite each
    * document with every DUPLICATED W-gram span's tokens removed (first
    * occurrences, in global (doc, pos) order, stay). A fully-boilerplate
    * document scrubs to the empty string — pair with a min-length quality
    * gate downstream. Token-joined output (the corpus contract: text is
    * single-space pre-normalized).
    *
    * Scale: only the DUPLICATED span starts shuffle (groupBy doc →
    * per-doc sorted start array, typically a handful of ints); the
    * corpus text itself takes ONE join by id and a map-side HOF filter —
    * tokens are never exploded into a shuffle. Contrast the naive shape
    * (posexplode tokens → anti-join covered positions → re-aggregate),
    * which shuffles every token in the corpus twice.
    */
  def scrubDuplicatedSpans(docs: DataFrame, w: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val occ = spanOccurrences(docs, w, textCol, idCol)
    val keep = occ.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("_k"))
    val dupStarts = occ.join(keep, "h")
      .filter(struct(col(idCol), col("pos")) =!= col("_k"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
    docs.join(dupStarts, Seq(idCol), "left")
      .withColumn("_ps", coalesce(col("_ps"), array().cast("array<int>")))
      .select(col(idCol),
        concat_ws(" ", filter(tokens(col(textCol)),
          (t, i) => !exists(col("_ps"), p => p <= i && i < p + w)))
          .as(textCol))
  }

  /** nBits-bit SimHash per document: sum each bit's ±1 contributions over
    * the token multiset; bit set iff the sum is positive.
    */
  def simhash(docs: DataFrame, nBits: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(nBits <= 32, "simhash uses md5 hex nibbles; <=32 bits supported here")
    // stage the digest in its own projection (CollapseProject keeps a
    // non-cheap multiply-referenced alias) so all nBits sums share ONE
    // md5 per token — the withBandKeys restage lesson applied here
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("_d", md5(col("tok")))
    val sums = (0 until nBits).map(j =>
      sum(expr(simhashBitOnDigestSql(j, "_d"))).as(s"s$j"))
    val agg = tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val hash = (0 until nBits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col(idCol), hash.as("simhash"))
  }

  /** Edit-distance-verified near-duplicate pairs: LSH candidate pairs
    * (the x03 banding) re-checked with a character-level Levenshtein
    * distance over each document's first `capChars` characters, kept when
    * 10·dist ≤ `maxDistPct`·max(len_a, len_b) — an integer comparison, so
    * no float threshold ambiguity. Returns (id_a, id_b, dist, len_a,
    * len_b).
    *
    * The cap bounds the O(len²) DP per pair — the standard trade on web
    * corpora, where near-dups diverge in boilerplate head/tail but the
    * capped prefix still separates template-sharing pairs (small edit
    * distance) from topic-sharing ones. `maxDistPct` is tenths-of-percent
    * of the longer capped length, e.g. 3 → dist ≤ 30 % of max(len).
    *
    * Scale: candidates are the banded self-join (uniform md5 keys); the
    * verify is a map-only pass after two hash joins re-attaching the
    * capped texts by doc id. CPU is capChars² per candidate pair —
    * Spark's codegen'd Levenshtein on UTF8String, no UDF.
    */
  def editDistancePairs(docs: DataFrame, bands: Int, rowsPerBand: Int,
      maxDistPct: Int, capChars: Int = 400, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(maxDistPct >= 0 && maxDistPct <= 10, "maxDistPct is in [0, 10]")
    val cand = lshCandidatePairs(docs, bands, rowsPerBand, textCol, idCol)
    val capped = docs.select(col(idCol),
      substring(col(textCol), 1, capChars).as("_s"))
    cand
      .join(capped.select(col(idCol).as("id_a"), col("_s").as("_sa")), "id_a")
      .join(capped.select(col(idCol).as("id_b"), col("_s").as("_sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_sa"), col("_sb")).cast("long").as("dist"),
        length(col("_sa")).cast("long").as("len_a"),
        length(col("_sb")).cast("long").as("len_b"))
      .filter(col("dist") * 10 <= greatest(col("len_a"), col("len_b")) * maxDistPct)
  }

  /** Entity-resolution fuzzy self-join: all id pairs whose `strCol`
    * values are within Levenshtein distance `maxDist`, found WITHOUT an
    * all-pairs pass via Ed-Join-style q-gram prefix filtering (Xiao et
    * al., VLDB 2008). Blocking is provably lossless for strings with
    * MORE THAN q·d distinct q-grams: one edit destroys ≤ q grams, so
    * ed ≤ d bounds the symmetric gram-set difference by q·d per side —
    * giving overlap ≥ max|G| − q·d ≥ 1 — and by the PPJoin prefix
    * lemma, prefixes of length q·d + 1 in any SHARED total order must
    * then intersect. Strings AT OR BELOW q·d distinct grams are
    * excluded from the join (see the _ng filter below — found by the
    * randomized brute-force property test, PropertySpec). We order
    * grams rarest-first ((df, gram) asc), so the candidate join runs
    * on the RAREST grams — a shared common prefix across all strings
    * (e.g. a constant "Customer#" stem) sorts last and never enters
    * the join. Returns (id1, id2, dist), id1 < id2.
    *
    * Scale: gram explode is linear in total string length; the df
    * count is a window over each gram's posting list (bounded by
    * corpus df); the per-id rank window sorts ≤ len(str) rows per id
    * (never a global window); candidates are an equi-join on prefix
    * grams with a length pre-filter ahead of the O(len²) Levenshtein.
    * Strings shorter than q have no grams and are excluded
    * (documented; pad callers who need them).
    */
  def fuzzyJoin(df: DataFrame, idCol: String, strCol: String,
      q: Int = 3, maxDist: Int = 1): DataFrame = {
    require(q >= 1, s"need q >= 1, got $q")
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    // the verified pair list is a SHARED BACKBONE: the match report
    // (x182) and every downstream consumer (entity clustering, x198)
    // are views of one deterministic computation over one snapshot —
    // memoize the materialized list (the Pipeline curation convention)
    StageCache.memo("fuzzy_pairs", Seq(df), Seq(idCol, strCol, q, maxDist)) {
      Checkpoints.materialize(fuzzyJoinBuild(df, idCol, strCol, q, maxDist))
    }
  }

  private def fuzzyJoinBuild(df: DataFrame, idCol: String, strCol: String,
      q: Int, maxDist: Int): DataFrame = {
    val s = df.select(col(idCol).as("_id"), col(strCol).as("_nm"))
      .filter(col("_nm").isNotNull && length(col("_nm")) >= q)
    val grams = s.select(col("_id"), col("_nm"),
      explode(array_distinct(expr(
        s"transform(sequence(1, length(_nm) - ${q - 1}), " +
          s"i -> substring(_nm, i, $q))"))).as("_gram"))
    val pi = q * maxDist + 1
    // df via a count window over _gram (partition size = that gram's
    // posting list — bounded by corpus df, never global), saving the
    // separate aggregate + re-join of the gram table with itself
    val wDf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_gram"))
    val wCnt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_df"), col("_gram"))
    // materialized SKINNY (gram, id, len): the self-join below would
    // otherwise replay the gram explode + df windows once per side.
    // Strings with <= q·d DISTINCT grams are EXCLUDED (_ng filter):
    // below that the overlap bound |G_s ∩ G_t| >= max|G| − q·d is
    // vacuous and ed <= d pairs can share ZERO grams (e.g. q=2 d=1:
    // "aba" vs "aca" destroys both grams) — no gram-overlap blocking
    // can see them, so including such strings would silently miss
    // pairs. Callers needing them route the (tiny, <= q·(d+1)+q-char)
    // short-string subpopulation to a dedicated all-pairs pass.
    val prefix = Checkpoints.materialize(grams
      .withColumn("_df", count(lit(1)).over(wDf))
      .withColumn("_ng", count(lit(1)).over(wCnt))
      .filter(col("_ng") > q * maxDist)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= pi)
      .select(col("_gram"), col("_id"), length(col("_nm")).as("_len")))
    val a = prefix.select(col("_gram"), col("_id").as("id1"),
      col("_len").as("_l1"))
    val b = prefix.select(col("_gram"), col("_id").as("id2"),
      col("_len").as("_l2"))
    // the DISTINCT id-pair list carries ids only, strings re-joined
    // after (the editDistancePairs posture — 16 B/row pairs, which
    // also kept an 8 GiB driver alive at the ×10 probe), and is
    // repartitioned with an EXPLICIT count before the O(len²)
    // Levenshtein pass: the gram join EXPLODES rows from a tiny
    // input, so AQE's input-size-based coalescing would funnel the
    // verify pass into one partition (measured 12 s single-task), and
    // AQE honors only a user-fixed partition count.
    val shufflePartitions =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cand = a.join(b, Seq("_gram"))
      .filter(col("id1") < col("id2") &&
        abs(col("_l1") - col("_l2")) <= maxDist)
      .select(col("id1"), col("id2")).distinct()
      .repartition(shufflePartitions, col("id1"), col("id2"))
    cand
      .join(s.select(col("_id").as("id1"), col("_nm").as("_n1")), Seq("id1"))
      .join(s.select(col("_id").as("id2"), col("_nm").as("_n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("_n1"), col("_n2")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
