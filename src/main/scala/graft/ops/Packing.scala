package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training pipelines: lay documents end-to-end
  * in a deterministic order and cut the token stream into fixed-capacity
  * context windows (the GPT-style "concat then chunk" batching scheme).
  * Each document's placement is fully described by the exclusive prefix
  * sum of token counts over the ordering column — from it fall out the
  * first/last bin the document touches and whether it straddles a bin
  * boundary (the fraction of straddlers is the packing-efficiency metric
  * data engineers watch).
  *
  * The prefix sum is the scale trap: `sum().over(Window.orderBy(id))`
  * with no partitioning funnels 100 TB through ONE task. This uses the
  * same decomposition as [[Ranking.withGlobalRanks]]:
  * range-partition on the order key, cumsum locally per partition in
  * parallel, then add per-partition offsets computed on a
  * one-row-per-partition summary (O(partitions), broadcast back).
  * Identical to the global window at any partition count.
  *
  * Load-bearing invariant (shared with [[Ranking.withGlobalRanks]]):
  * Catalyst prunes the local window out of the offsets subtree, so both
  * `_bucket` consumers reduce to the same scan + range-exchange prefix
  * and Spark's exchange reuse materializes it ONCE — which is what makes
  * the two `spark_partition_id()` taggings agree. PlanSpec asserts the
  * executed plan contains a ReusedExchange.
  */
object Packing {

  /** Per-document packing assignment: (id, n_tokens, start_tok,
    * first_bin, last_bin). Token count = whitespace token count of
    * textCol; order = ascending idCol (caller pre-shuffles the corpus —
    * e.g. by a deterministic sample key — if it wants mixing). idCol
    * must be UNIQUE: with ties the per-row placement among tied rows is
    * engine-order-dependent (true of any SUM OVER ORDER BY on a
    * non-unique key, oracle included).
    */
  def packSequences(docs: DataFrame, capacity: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(capacity > 0, "bin capacity must be positive")
    val counted = docs.select(
      col(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))

    val ranged = counted.repartitionByRange(col(idCol).asc)
      .withColumn("_bucket", spark_partition_id())
    val wLocal = Window.partitionBy(col("_bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn(
      "_loff", coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))

    // one row per partition; the exclusive running sum over this summary
    // is O(partitions), not O(rows)
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("_bucket"))
      .agg(sum(col("n_tokens")).as("_n"))
      .withColumn("_boff", coalesce(sum(col("_n")).over(wCum), lit(0L)))
      .select(col("_bucket"), col("_boff"))

    local.join(broadcast(offsets), "_bucket")
      .withColumn("start_tok", col("_loff") + col("_boff"))
      .withColumn("first_bin", expr(s"start_tok DIV ${capacity}L"))
      .withColumn("last_bin",
        expr(s"(start_tok + n_tokens - 1) DIV ${capacity}L"))
      .select(col(idCol), col("n_tokens"), col("start_tok"),
        col("first_bin"), col("last_bin"))
  }

  /** Per-bin SEGMENT MAP for concat-and-split packing — the consumer
    * contract [[packSequences]] implies: one row per (bin, document
    * fragment) with the bin-local token span [seg_start, seg_end), a
    * 1-based seg_idx in bin order, and head/tail flags marking the
    * fragments holding the document's first/last token. This is what a
    * trainer turns into attention-segment ids and loss masks (e.g. "mask
    * out fragments of split documents" filters is_head·is_tail = 0).
    *
    * Pure integer arithmetic on top of [[packSequences]]'s decomposed
    * prefix sums: the explode is bounded by n_tokens/capacity + 1 bins
    * per document, and the only added shuffle is the per-bin rank —
    * bins are capacity-bounded by construction, so those window groups
    * are uniform and tiny (no skew at any corpus size).
    */
  def packSegmentMap(docs: DataFrame, capacity: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val packed = packSequences(docs, capacity, textCol, idCol)
    val bs = col("bin") * capacity
    val segs = packed
      .withColumn("bin", explode(sequence(col("first_bin"), col("last_bin"))))
      .withColumn("seg_start", greatest(col("start_tok"), bs) - bs)
      .withColumn("seg_end",
        least(col("start_tok") + col("n_tokens"), bs + capacity) - bs)
      .withColumn("is_head", (col("start_tok") >= bs).cast("int"))
      .withColumn("is_tail",
        (col("start_tok") + col("n_tokens") <= bs + capacity).cast("int"))
    segs
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("bin")).orderBy(col("seg_start"))).cast("long"))
      .select(col("bin"), col("seg_idx"), col(idCol), col("seg_start"),
        col("seg_end"), col("is_head"), col("is_tail"))
  }

  /** Write the corpus as size-bounded, order-preserving TRAINING SHARDS —
    * the sink end of the pipeline: data loaders stream shard k as one
    * parquet file holding documents [k·docsPerShard, (k+1)·docsPerShard)
    * of the idCol order, ids ascending within the file.
    *
    * The global position uses the same decomposed prefix count as
    * [[packSequences]] (range partition + local row_number + broadcast
    * O(partitions) offsets; 64-bit throughout, so corpora past 2³¹ docs
    * are fine), then ONE shuffle on the shard id co-locates each shard
    * in a single task. The dynamic-partition writer requires its rows
    * sorted by the partition column — they already are
    * (sortWithinPartitions(shard, id)), so no extra writer-side sort,
    * and the within-shard id order survives into the file.
    *
    * Returns the shard count. Layout: outDir/shard=k/part-*.parquet,
    * exactly one data file per shard. idCol should be unique — ties
    * still place every row exactly once, but which side of a shard
    * boundary a tied row lands on is not reproducible across runs.
    */
  def writeShards(docs: DataFrame, outDir: String, docsPerShard: Long,
      idCol: String = "doc_id"): Long = {
    require(docsPerShard > 0, "docsPerShard must be positive")
    val ranged = docs.repartitionByRange(col(idCol).asc)
      .withColumn("_bucket", spark_partition_id())
    val wLocal = Window.partitionBy(col("_bucket")).orderBy(col(idCol))
    val local = ranged.withColumn("_lpos",
      row_number().over(wLocal).cast("long") - 1)
    val wCum = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("_bucket"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_boff", coalesce(sum(col("_n")).over(wCum), lit(0L)))
      .select(col("_bucket"), col("_boff"))
    val sharded = local.join(broadcast(offsets), "_bucket")
      .withColumn("shard",
        expr(s"(_lpos + _boff) DIV ${docsPerShard}L"))
      .drop("_bucket", "_lpos", "_boff")
    sharded
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("shard").parquet(outDir)
    // Count from the WRITTEN layout (one directory listing), not from a
    // docs.count() — which would re-execute the entire upstream lineage a
    // second time (at 100 TB the whole pipeline would run twice) and could
    // disagree with the files actually written if that lineage were ever
    // nondeterministic. writeShards' positions are DENSE (every shard id
    // in [0, n) has >= 1 doc), so the directory count IS the shard count.
    countShardDirs(docs.sparkSession, outDir)
  }

  /** The shard ids present in a written layout, ascending — parsed from
    * the `<prefix>k` partition directory names under `outDir` (O(shards)
    * metadata listing, no data read, no lineage re-execution). For
    * [[writeShards]] layouts the ids are dense 0..n-1; for
    * [[writeTokenShards]] they may be SPARSE (see its scaladoc). */
  def shardIds(spark: org.apache.spark.sql.SparkSession, outDir: String,
      prefix: String = "shard="): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      // a null shard value writes `<prefix>__HIVE_DEFAULT_PARTITION__` —
      // not a shard id; skip non-numeric suffixes instead of throwing
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(prefix).toLong).toOption)
      .sorted
  }

  /** Number of `<prefix>k` partition directories under `outDir` — the
    * authoritative post-write count of OCCUPIED shards. Equals the shard
    * count only for dense layouts ([[writeShards]]); token-bounded
    * layouts can skip ids ([[writeTokenShards]] returns max+1 instead). */
  def countShardDirs(spark: org.apache.spark.sql.SparkSession,
      outDir: String, prefix: String = "shard="): Long =
    shardIds(spark, outDir, prefix).size.toLong

  /** APPEND a new batch to an existing shard layout WITHOUT touching the
    * shards already written — the sink counterpart of
    * [[graft.ops.Pipeline.appendCurated]]'s daily-crawl path. Written
    * shards are immutable once shipped (loaders checksum and cache
    * them; a mutated shard invalidates every consumer), so the batch
    * lands exclusively in FRESH shard ids starting at max(existing)+1:
    * the batch gets its own deterministic md5-shuffle shard assignment
    * ([[graft.ops.Pipeline.shardAssignment]] — within-batch
    * deterministic, like every shipped layout here), offset past the
    * existing ids, and the write runs in append mode (no truncation —
    * [[writePreSharded]]'s static overwrite is exactly what must NOT
    * happen here). The last pre-existing shard keeps its short tail:
    * immutability beats bin-packing the seam, the same tradeoff every
    * log-structured layout makes. Returns (firstNewShardId,
    * newShardCount).
    *
    * Scale shape: the existing layout contributes an O(shards) metadata
    * LISTING only — no data read, no recompute; the batch pays its own
    * one shuffle. Concurrent appends to one layout are the caller's
    * lock to take (two writers would interleave ids), exactly as with
    * any file-layout sink.
    */
  def appendShards(docs: DataFrame, outDir: String,
      docsPerShard: Long = 256L, idCol: String = "doc_id",
      format: String = "parquet",
      writerOptions: Map[String, String] = Map.empty): (Long, Long) = {
    require(format == "parquet" || format == "json",
      s"unsupported shard format '$format' (parquet|json)")
    val spark = docs.sparkSession
    val existing = shardIds(spark, outDir)
    val base = if (existing.isEmpty) 0L else existing.max + 1
    val sharded = graft.ops.Pipeline.shardAssignment(docs, docsPerShard, idCol)
      .withColumn("shard", col("shard") + lit(base))
    sharded
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("_shufkey"))
      .drop("_shufkey")
      .write.mode("append")
      .options(writerOptions)
      .partitionBy("shard").format(format).save(outDir)
    (base, countShardDirs(spark, outDir) - existing.size)
  }

  /** Write a frame that already carries its shard assignment (`shardCol`)
    * as the standard shard layout: one shuffle on the shard id co-locates
    * each shard in one task, rows sorted by (`shardCol`, `orderCol`) so
    * the dynamic-partition writer adds no extra sort and the within-shard
    * order survives into the file. `dropCols` are projected away AFTER the
    * sort (a Project preserves row order), so internal ordering columns
    * never leak into the shipped shards. The write pins
    * partitionOverwriteMode=static so `outDir` is truncated even when the
    * session default is dynamic — stale shards from a previous larger run
    * must not survive into (or inflate the count of) this layout. Returns
    * the count of occupied `<shardCol>=` directories from the written
    * layout.
    *
    * `format` selects the file format: `"parquet"` (engine-native
    * default) or `"json"` (JSONL, the loader-facing interchange layout —
    * [[graft.sources.Jsonl]] documents its contract). Same shuffle, same
    * within-shard order, same directory scheme either way. */
  def writePreSharded(docs: DataFrame, outDir: String,
      shardCol: String = "shard", orderCol: String = "doc_id",
      dropCols: Seq[String] = Nil, format: String = "parquet",
      writerOptions: Map[String, String] = Map.empty): Long = {
    require(format == "parquet" || format == "json",
      s"unsupported shard format '$format' (parquet|json)")
    docs
      .repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))
      .drop(dropCols: _*)
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .options(writerOptions)
      .partitionBy(shardCol).format(format).save(outDir)
    countShardDirs(docs.sparkSession, outDir, s"$shardCol=")
  }

  /** Per-document TOKEN-shard assignment — the pure (no-write) map
    * underlying [[writeTokenShards]], and the oracle-checked surface
    * (x55): (idCol, n_tokens, start_tok, shard) with
    * shard = [[packSequences]]' `first_bin` at capacity = tokensPerShard.
    */
  def tokenShardAssignment(docs: DataFrame, tokensPerShard: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    packSequences(docs, tokensPerShard, textCol, idCol)
      .select(col(idCol), col("n_tokens"), col("start_tok"),
        col("first_bin").as("shard"))

  /** Integrity manifest for a token-sharded layout: one row per OCCUPIED
    * shard with its doc count, token mass, and an order-independent
    * content digest (sum of per-doc 32-bit md5 prefixes — commutative,
    * so any re-read order or partitioning reproduces it; 32-bit terms
    * over ≤ 2^31 docs/shard stay far inside a BIGINT). A loader
    * recomputes the digest over what it read and compares — truncated,
    * duplicated, or bit-rotted shards surface as a digest mismatch
    * before any training step consumes them.
    *
    * Scale: the assignment reuses packSequences' decomposed prefix sum;
    * the digest join is one hash join on the unique id; the manifest
    * aggregate is map-side combinable, O(shards) rows out.
    */
  def shardManifest(docs: DataFrame, tokensPerShard: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val asg = tokenShardAssignment(docs, tokensPerShard, textCol, idCol)
    val dig = docs.select(col(idCol),
      expr(TextAnalysis.hexToIntSql(s"md5($textCol)", 8)).as("_h"))
    asg.join(dig, idCol)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("token_mass"),
        sum(col("_h")).as("content_digest"))
  }

  /** TOKEN-bounded training shards — the capacity contract trainers
    * actually specify (a shard feeds a data-loader budgeted in tokens,
    * not documents). A document lands in the shard where its FIRST token
    * falls: shard k holds the documents whose `start_tok` lies in
    * [k·tokensPerShard, (k+1)·tokensPerShard) of the concatenated token
    * stream in `idCol` order, so each shard's token mass is at most
    * tokensPerShard plus one straddling document's overflow, and the
    * document order within and across shards is exactly the packing
    * order.
    *
    * SHARD IDS MAY BE SPARSE: a document longer than tokensPerShard
    * straddles several whole shards, and the next document's first token
    * skips past them — those skipped ids own no documents and no
    * directory is written for them. The returned count is therefore
    * max(shard id) + 1 (read from the written layout), NOT the directory
    * count; loaders must iterate the actual layout ([[shardIds]]) or the
    * assignment map, never assume `shard=k` exists for every k.
    *
    * Dataflow: the bin assignment is packSequences' decomposed prefix sum
    * (range partition + local cumsum + O(partitions) broadcast offsets),
    * persisted so the expensive prefix-sum lineage executes ONCE across
    * its two consumers; joining it back to the full rows is one hash join
    * on the unique id; the write is [[writePreSharded]]'s single shuffle
    * on the shard id. The assignment map itself is then written as
    * parquet under `outDir/_assignment` (the seek map a loader needs,
    * shipped next to the shards; the `_` prefix hides it from partition
    * discovery over `outDir`) and returned READ BACK from that parquet —
    * so consuming the returned frame re-reads a small file instead of
    * re-executing the whole upstream pipeline.
    *
    * Returns (maxShardId + 1, assignment(idCol, n_tokens, start_tok,
    * shard)).
    */
  def writeTokenShards(docs: DataFrame, outDir: String, tokensPerShard: Long,
      textCol: String = "text", idCol: String = "doc_id"): (Long, DataFrame) = {
    val spark = docs.sparkSession
    val assign = Checkpoints.scratch(
      tokenShardAssignment(docs, tokensPerShard, textCol, idCol))
    try {
      writePreSharded(docs.join(assign.select(col(idCol), col("shard")), idCol),
        outDir, shardCol = "shard", orderCol = idCol)
      // after the shard write: writePreSharded's static overwrite truncates
      // outDir, which would delete an assignment written before it
      assign.drop(Checkpoints.ScratchCol)
        .write.mode("overwrite").parquet(s"$outDir/_assignment")
    } finally assign.unpersist()
    val ids = shardIds(spark, outDir)
    (if (ids.isEmpty) 0L else ids.max + 1,
      spark.read.parquet(s"$outDir/_assignment"))
  }

  /** Loader-facing read of a [[writeTokenShards]] layout — the consumer
    * end of the producer contract: iterates the ACTUAL occupied shard ids
    * ([[shardIds]] — never 0..n-1, token layouts are sparse), validates
    * the shipped `_assignment` seek map against the written directories
    * (a missing/extra shard dir means a partial or stale write — fail
    * loudly before training reads it), and surfaces the per-shard token
    * mass a data loader budgets by.
    *
    * Returns (docs, shardReport): `docs` is the partition-discovered
    * corpus (the `shard` column comes from the directory layout, so
    * partition pruning serves per-shard reads without touching other
    * shards' files); `shardReport` is one row per occupied shard —
    * (shard, n_docs, n_tokens, first_tok) — computed from the parquet
    * assignment map, O(shards) rows, no corpus scan.
    */
  def readTokenShards(spark: org.apache.spark.sql.SparkSession,
      outDir: String): (DataFrame, DataFrame) = {
    val ids = shardIds(spark, outDir)
    require(ids.nonEmpty, s"no shard= directories under $outDir")
    val assign = spark.read.parquet(s"$outDir/_assignment")
    // O(shards) driver-side validation — metadata scale, not corpus scale
    val mapIds = assign.select(col("shard")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    require(mapIds == ids,
      s"assignment/layout mismatch under $outDir: " +
        s"map shards=$mapIds, written dirs=$ids")
    val docs = spark.read.parquet(outDir)
    val report = assign.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("start_tok")).as("first_tok"))
    (docs, report)
  }

  /** Content-defined chunking: a chunk boundary falls AFTER token i
    * whenever the hash of the k-token window ending at i is ≡ 0 mod
    * `divisor` — boundaries depend only on LOCAL content, so an edit
    * anywhere perturbs at most the chunks it touches and the stream
    * re-synchronizes at the next boundary (fixed-size chunking shifts
    * every downstream chunk — zero dedup overlap after a one-token
    * insertion; the spec pins the contrast). Expected chunk length ≈
    * `divisor` tokens. Returns one row per chunk: (idCol, chunk_idx,
    * start_tok, n_tokens, chunk_digest) with an md5 digest for
    * chunk-level dedup/fingerprinting downstream.
    *
    * Scale: entirely map-side — array HOFs + one Generate per doc, no
    * shuffle at any corpus size; the per-token window hash is the same
    * md5 budget class as the shingle/minhash family.
    */
  def cdcChunks(docs: DataFrame, window: Int, divisor: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(window >= 1 && divisor >= 1, "window and divisor must be >= 1")
    // one native conv() per position (the minhash fast-path lesson —
    // digestModSql's portable 8-term parse would inline md5 8×); value
    // equality of conv vs the oracle's hex parse is the spec-pinned
    // bandKeys identity
    val h = s"CAST(conv(substring(md5(concat_ws(' ', " +
      s"slice(_a, i - ${window - 1} + 1, $window))), 1, 8), 16, 10) AS BIGINT)"
    val staged = docs
      .select(col(idCol), Dedup.tokens(col(textCol)).as("_a"))
      .filter(size(col("_a")) > 0)
      // boundary = 0-based position i (>= window-1) whose k-window hash
      // divides; -1 sentinels filtered out keeps the lambda single-pass.
      // Docs shorter than the window get NO boundaries (one whole-doc
      // chunk) — the guard also keeps sequence() from descending on a
      // negative range (the chunkText portability lesson)
      .withColumn("_bnd", expr(
        s"""IF(size(_a) >= $window,
           |  filter(transform(sequence(${window - 1}, size(_a) - 1),
           |    i -> IF($h % $divisor = 0, i, -1)), x -> x >= 0),
           |  CAST(array() AS ARRAY<INT>))""".stripMargin))
      .withColumn("_starts", concat(array(lit(0)),
        expr("transform(_bnd, b -> b + 1)")))
      .withColumn("_ends", concat(col("_bnd"), array(size(col("_a")) - 1)))
      // a boundary at the last token would open an empty chunk past the
      // end — only the LAST zip element can be degenerate, so filtering
      // keeps chunk indexes contiguous
      .withColumn("_chunks", expr(
        "filter(zip_with(_starts, _ends, (s, e) -> struct(s AS s, e AS e)), c -> c.s <= c.e)"))
    staged
      .select(col(idCol), posexplode(col("_chunks")).as(Seq("chunk_idx", "_c")),
        col("_a"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_c.s").cast("long").as("start_tok"),
        (col("_c.e") - col("_c.s") + 1).cast("long").as("n_tokens"),
        expr("md5(concat_ws(' ', slice(_a, _c.s + 1, _c.e - _c.s + 1)))")
          .as("chunk_digest"))
  }

  /** Chunk-level dedup report over [[cdcChunks]] — the shift-robust twin
    * of Dedup.duplicatedSpanReport: a chunk is DUPLICATED iff its digest
    * occurs anywhere earlier in global (doc, start) order. Because CDC
    * boundaries re-synchronize across edits, an inserted preamble does
    * not hide downstream duplication the way it breaks fixed W-gram
    * positions; and because chunks TILE the document disjointly, the
    * covered-token count is a plain sum — no interval union.
    *
    * Same scale shape as the span report: map-side-combinable keeper
    * MIN per digest, one build-side-keeper hash join, per-doc aggregate.
    */
  def chunkDedupReport(docs: DataFrame, window: Int, divisor: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // the chunk table is consumed twice (keeper agg + the dup join side):
    // materialize it once so the corpus-scale rolling-hash chunking pass
    // executes once, not twice
    val ch = Checkpoints.materialize(
      cdcChunks(docs, window, divisor, textCol, idCol))
    val keep = ch.groupBy(col("chunk_digest"))
      .agg(min(struct(col(idCol), col("start_tok"))).as("_k"))
    val dups = ch.join(keep, "chunk_digest")
      .filter(struct(col(idCol), col("start_tok")) =!= col("_k"))
    val nTok = docs.select(col(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("_n"))
    dups.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_chunks"),
        sum(col("n_tokens")).as("dup_tokens"))
      .join(nTok, idCol)
      .select(col(idCol), col("n_dup_chunks"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("_n"), 6).as("dup_ratio"))
  }

  /** Bin packing WITHOUT document splitting — the other batching scheme
    * trainers use: documents stay whole, each context window (bin) is
    * filled next-fit in `idCol` order until the next document would
    * overflow `capacity`, then a new bin starts (documents longer than
    * capacity get a bin of their own). Minimizes padding without the
    * attention-mask complications of split documents.
    *
    * Next-fit state (the running fill) is inherently sequential, so the
    * scalable decomposition is two-level: documents are first assigned to
    * BUCKETS of ~`bucketTokens` token mass by the decomposed prefix sum
    * ([[packSequences]] — deterministic, never a single-task window),
    * then each bucket is packed independently in one task via the typed
    * `flatMapSortedGroups` API (one shuffle on the bucket id; O(1) fold
    * state per group; buckets are token-balanced by construction, so
    * tasks are too). Bin ids are (bucket, bin-within-bucket) — globally
    * unique and deterministic on any partitioning; the only packing
    * difference vs a single sequential pass is at the ~totalTokens /
    * bucketTokens bucket boundaries (each boundary wastes at most one
    * partial bin, the price of parallelism).
    */
  def packBinsNextFit(docs: DataFrame, capacity: Long, bucketTokens: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(capacity > 0, "bin capacity must be positive")
    require(bucketTokens >= capacity, "buckets must hold at least one bin")
    val spark = docs.sparkSession
    import spark.implicits._
    val seq = packSequences(docs, bucketTokens, textCol, idCol)
      .select(col("first_bin").as("bucket"), col(idCol), col("n_tokens"))
      .as[(Long, Long, Long)]
    seq.groupByKey(_._1)
      .flatMapSortedGroups(col(idCol)) { (bucket, it) =>
        var fill = 0L
        var bin = 0L
        var first = true
        it.map { case (_, id, n) =>
          if (first) { fill = n; first = false }
          else if (fill + n <= capacity) fill += n
          else { bin += 1; fill = n }
          (id, bucket, bin, n)
        }
      }
      .toDF(idCol, "bucket", "bin", "n_tokens")
  }

  /** Length-bucketed batching: split the corpus into `k` near-equal
    * quantile buckets by token count, so a dynamic batcher draws
    * same-length-ish documents together and pads almost nothing — the
    * standard bucketing trick for training/inference throughput.
    *
    * bucket = floor(rank·k / n) over the (n_tokens, id) order — exact
    * quantiles, deterministic ties. The rank is the decomposed global
    * rank ([[Ranking.withGlobalRanks]], never a single-task window); `n`
    * arrives as a broadcast one-row aggregate (the scalar-subquery shape,
    * a bounded-by-design nested loop). Returns (idCol, n_tokens, bucket).
    */
  def lengthBuckets(docs: DataFrame, k: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "need at least one bucket")
    val counted = docs.select(col(idCol),
      size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))
    val ranked = Ranking.withGlobalRanks(counted,
      Seq("n_tokens" -> true, idCol -> true))
    val n = broadcast(counted.groupBy().agg(count(lit(1)).as("_n")))
    ranked.crossJoin(n)
      .withColumn("bucket",
        expr(s"CAST(((CAST(rnk AS BIGINT) - 1) * ${k}L) DIV _n AS BIGINT)"))
      .select(col(idCol), col("n_tokens"), col("bucket"))
  }

  /** Sliding token-window chunking — the per-document alternative to
    * concat-then-chunk: each document is cut into windows of
    * `chunkTokens` whitespace tokens starting every `stride` tokens
    * (overlap = chunkTokens − stride), the standard way long documents
    * are fed to a bounded context window without losing boundary
    * context. Chunk starts are 0, stride, 2·stride, … while < len, so
    * the tail chunk may be short; empty documents yield no chunks (the
    * guard also keeps Spark's `sequence` from descending on a negative
    * upper bound where DuckDB's `range` would be empty).
    *
    * Entirely map-side: codegen'd array HOFs + one Generate, no shuffle
    * at any corpus size — output rows ≈ input tokens / stride.
    */
  def chunkText(docs: DataFrame, chunkTokens: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      "need 0 < stride <= chunkTokens")
    val toks = Dedup.tokens(col(textCol))
    val chunks = transform(
      sequence(lit(0L), floor((size(toks) - 1) / lit(stride)).cast("long")),
      i => struct(
        i.as("chunk_id"),
        (i * stride).as("chunk_start"),
        concat_ws(" ", slice(toks, (i * stride + 1).cast("int"), lit(chunkTokens)))
          .as("chunk_text")))
    docs
      .filter(size(toks) > 0)
      .select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol),
        col("c.chunk_id").as("chunk_id"),
        col("c.chunk_start").as("chunk_start"),
        size(split(col("c.chunk_text"), " ")).cast("long").as("n_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }
}
