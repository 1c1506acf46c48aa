package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge induction — the tokenizer-training primitive a
  * training-data pipeline runs BEFORE token counting / packing make sense
  * (cf. /root/reference's scope fence at token-level ops; this is the step
  * that produces the vocabulary those ops consume).
  *
  * Scale shape: the corpus is touched exactly ONCE (word-frequency
  * reduction — a map-side-combined groupBy). Every merge iteration after
  * that operates on the O(vocab) word table: one map (pair explode), one
  * map-side-combined aggregation, and a 1-row argmax collect (the global
  * argmax per BPE step is inherently sequential — collecting one row per
  * merge is the distributed design, not a shortcut). At 100 TB the corpus
  * pass dominates and parallelizes perfectly; iterations cost O(vocab ·
  * avg_word_len) each, independent of corpus bytes.
  *
  * Determinism: pair counts are exact longs; the argmax tie-breaks by
  * (count DESC, lhs ASC, rhs ASC) — byte-wise string order, identical in
  * Spark and DuckDB for the ASCII corpus.
  *
  * Greedy-apply encoding: a word's symbol sequence is the concatenation
  * of " sym " wraps — " h  i  s " — so symbols are separated by TWO
  * spaces and the string starts/ends with one. Merging pair (l, r) is
  * then ONE non-overlapping left-to-right `replace(seq, " l  r ",
  * " lr ")`: the full-boundary pattern cannot false-match a symbol
  * prefix (" x  xy " does not contain " x  x "), and because each match
  * consumes only the SHARED boundary's first space, back-to-back repeats
  * merge pairwise-greedily exactly like the classic scan-and-skip BPE
  * loop (" a  a  a  a " → " aa  aa ", " a  a  a " → " aa  a "). Spark's
  * UTF8String.replace and DuckDB's replace both resume scanning after
  * the consumed match, so both engines produce identical sequences —
  * BpeSpec pins Spark against an independent scan-and-skip reference.
  */
object Bpe {

  /** Wrap a word into its initial per-character symbol string. Spark's
    * `split(word, "")` keeps a trailing empty string (Java split with
    * limit -1); it is filtered so the encoding is exactly the documented
    * " h  i  s " — one leading/trailing space, two spaces between
    * symbols — matching the DuckDB oracle's w0 CTE byte for byte. */
  private[graft] def charSeq(word: Column): Column =
    concat(lit(" "),
      array_join(filter(split(word, ""), x => x =!= ""), "  "),
      lit(" "))

  /** The (symbol-seq, count) vocabulary table: the one corpus-scale pass. */
  def wordTable(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(charSeq(col("w")).as("seq"), col("cnt"))

  /** Adjacent-pair weighted counts over the current symbol table. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), split(trim(col("seq")), "  ").as("a"))
      .select(col("cnt"), explode(when(size(col("a")) >= 2,
        expr("transform(sequence(1, size(a) - 1), i -> struct(a[i-1] AS lhs, a[i] AS rhs))"))
        .otherwise(expr("array()"))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** Learn `nMerges` BPE merges; returns (step, lhs, rhs, pair_count).
    * Stops early if no pair remains (vocab fully merged). */
  def learnMerges(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges >= 1, s"need nMerges >= 1, got $nMerges")
    // each iteration re-reads the evolving word table twice (argmax +
    // apply) — checkpoint-free persist keeps the chain linear
    var words = Checkpoints.scratch(wordTable(docs, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    for (step <- 1 to nMerges if !done) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val row = top(0)
        val (l, r) = (row.getString(0), row.getString(1))
        merges += ((step, l, r, row.getLong(2)))
        val applied = Checkpoints.scratch(words.select(
          mergePair(col("seq"), l, r).as("seq"), col("cnt")))
        applied.count() // materialize before unpersisting the parent
        words.unpersist()
        words = applied
      }
    }
    words.unpersist()
    merges.toSeq.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** One non-overlapping left-to-right merge of pair (l, r) over a
    * boundary-encoded symbol string. Patterns are built with `lit()`
    * columns — never spliced into SQL text — so symbols containing
    * quotes or backslashes can't break or change the pattern. */
  private def mergePair(seq: Column, l: String, r: String): Column =
    replace(seq, lit(" " + l + "  " + r + " "), lit(" " + l + r + " "))

  /** Re-tokenize `docs` words under the learned merges: returns
    * (seq, cnt) — the vocabulary after applying every merge in order.
    * Used by specs to assert the final segmentation. */
  def applyMerges(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    merges.foldLeft(wordTable(docs, textCol)) { case (w, (l, r)) =>
      w.select(mergePair(col("seq"), l, r).as("seq"), col("cnt"))
    }

  /** End-to-end tokenizer audit: learn `nMerges` BPE merges on the whole
    * corpus, segment the vocabulary under them, and report the per-source
    * compression the tokenizer achieves — total words / chars / tokens
    * and chars-per-token. The number a tokenizer team actually tracks
    * per data source before committing a vocab.
    *
    * Scale shape: learning is [[learnMerges]] (one corpus pass + O(vocab)
    * iterations); the audit adds ONE more corpus pass (the per-source
    * word-count reduction) and applies the merges to the DISTINCT
    * vocabulary only — per-source totals then come from an O(sources ·
    * vocab) join + map-side-combined aggregation, never a re-walk of the
    * corpus text. The merge list itself is nMerges driver-side rows
    * (inherently sequential argmax output — see learnMerges' doc).
    */
  def tokenizeReport(docs: DataFrame, nMerges: Int = 3,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val merges = learnMerges(docs, nMerges, textCol)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val srcWords = docs
      .select(col(srcCol), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col(srcCol), col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = srcWords.select(col("w")).distinct()
      .select(col("w"), charSeq(col("w")).as("seq"))
    val segmented = merges.foldLeft(vocab) { case (v, (l, r)) =>
      v.select(col("w"), mergePair(col("seq"), l, r).as("seq"))
    }
    val toks = segmented.select(col("w"),
      size(split(trim(col("seq")), "  ")).cast("long").as("_ntok"))
    srcWords.join(toks, "w")
      .groupBy(col(srcCol))
      .agg(sum(col("cnt")).cast("long").as("total_words"),
        sum(col("cnt") * length(col("w"))).cast("long").as("total_chars"),
        sum(col("cnt") * col("_ntok")).cast("long").as("total_tokens"))
      .withColumn("chars_per_token",
        round(col("total_chars").cast("double")
          / col("total_tokens").cast("double"), 6))
  }
}
