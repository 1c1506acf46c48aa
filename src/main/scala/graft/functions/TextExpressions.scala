package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Dedup.{MinhashA, MinhashB, MinhashP}

/** Native Catalyst expressions for the curation text hot path: word
  * shingles, minhash band keys, the token-quality score and the
  * fixed-width line gate.
  *
  * Each expression is one while-loop kernel in [[TextKernels]], called
  * from both `nullSafeEval` and generated code, so a stage using them
  * stays whole-stage codegen'd. The composable form these replace
  * (nested `transform`/`aggregate`/`zip_with`/`filter` trees) ran
  * interpreted, lambda by lambda, with a fresh array per fold step.
  *
  * Results are bit-identical to that form (pinned by TextKernelSpec's
  * golden values) because each kernel calls the primitives its
  * built-ins call: `UTF8String.split(" ", -1)` (`split`),
  * `UTF8String.concatWs` (`concat_ws`, `array_join`),
  * `DigestUtils.md5Hex` over the UTF-8 bytes (`md5`), `numChars`
  * (`length`), binary string equality (`array_distinct`), and the same
  * `Long` and `Double` arithmetic in the same order.
  */
object TextExpressions {

  /** Word n-gram shingles of `text`, not deduplicated. */
  case class Shingles(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_shingles"
    override def nullSafeEval(t: Any): Any =
      TextKernels.shingles(t.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.shingles($t, $n);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Minhash band keys of `text`'s `shingleN`-shingles. */
  case class MinhashBandKeys(child: Expression, bands: Int,
      rowsPerBand: Int, shingleN: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_minhash_band_keys"
    override def nullSafeEval(t: Any): Any = TextKernels.bandKeys(
      t.asInstanceOf[UTF8String], bands, rowsPerBand, shingleN)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.bandKeys(" +
          s"$t, $bands, $rowsPerBand, $shingleN);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Type-token ratio and single-char token share: the score
    * `ttr * (1 - short)` when `scoreOnly`, else `struct<ttr, short>`. */
  case class TokenQuality(child: Expression, scoreOnly: Boolean)
      extends UnaryExpression {
    override def dataType: DataType =
      if (scoreOnly) DoubleType
      else StructType(Seq(StructField("ttr", DoubleType, nullable = false),
        StructField("short", DoubleType, nullable = false)))
    override def prettyName: String = "graft_token_quality"
    override def nullSafeEval(t: Any): Any = {
      val s = t.asInstanceOf[UTF8String]
      if (scoreOnly) TextKernels.qualityScore(s) else TextKernels.qualityParts(s)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val kernel = if (scoreOnly) "qualityScore" else "qualityParts"
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.$kernel($t);")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** The fixed-width line gate: `struct<n_lines, n_kept, clean_text>`. */
  case class LineQuality(child: Expression, wordsPerLine: Int,
      minWords: Int, distinctNum: Int, distinctDen: Int)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_lines", LongType, nullable = false),
      StructField("n_kept", LongType, nullable = false),
      StructField("clean_text", StringType, nullable = false)))
    override def prettyName: String = "graft_line_quality"
    override def nullSafeEval(t: Any): Any = TextKernels.lineQuality(
      t.asInstanceOf[UTF8String], wordsPerLine, minWords, distinctNum,
      distinctDen)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextKernels.lineQuality(" +
          s"$t, $wordsPerLine, $minWords, $distinctNum, $distinctDen);")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }
}

/** The while-loop kernels behind [[TextExpressions]]. */
object TextKernels {

  private val Space = UTF8String.fromString(" ")
  private val A = MinhashA.toArray
  private val B = MinhashB.toArray

  /** The `split(text, " ")` token array. */
  private def tokens(text: UTF8String): Array[UTF8String] = text.split(Space, -1)

  /** `toks(from until until)` joined by single spaces. */
  private def join(toks: Array[UTF8String], from: Int, until: Int): UTF8String =
    UTF8String.concatWs(Space,
      java.util.Arrays.copyOfRange(toks, from, until): _*)

  /** Shingles as UTF8Strings: every window of `n` tokens, or the whole
    * token list as one shingle when the text has fewer than `n` tokens. */
  private def shingleArray(text: UTF8String, n: Int): Array[UTF8String] = {
    val toks = tokens(text)
    if (toks.length < n) Array(join(toks, 0, toks.length))
    else {
      val out = new Array[UTF8String](toks.length - n + 1)
      var i = 0
      while (i < out.length) { out(i) = join(toks, i, i + n); i += 1 }
      out
    }
  }

  def shingles(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(shingleArray(text, n).asInstanceOf[Array[Any]])

  /** k = bands·rowsPerBand affine minhashes over the shingle digests
    * (first 12 hex chars of md5, mod P), then one md5 per band of its
    * ':'-joined decimal minimums. A repeated shingle cannot move a
    * minimum, so the shingles need no deduplication. */
  def bandKeys(text: UTF8String, bands: Int, rowsPerBand: Int,
      shingleN: Int): ArrayData = {
    val k = bands * rowsPerBand
    val mins = Array.fill(k)(MinhashP)
    val sh = shingleArray(text, shingleN)
    var s = 0
    while (s < sh.length) {
      val hex = DigestUtils.md5Hex(sh(s).getBytes)
      val h = java.lang.Long.parseLong(hex, 0, 12, 16) % MinhashP
      var i = 0
      while (i < k) {
        val v = (h * A(i) + B(i)) % MinhashP
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      s += 1
    }
    val keys = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var i = b * rowsPerBand
      while (i < (b + 1) * rowsPerBand) {
        if (i > b * rowsPerBand) sb.append(':')
        sb.append(mins(i))
        i += 1
      }
      keys(b) = UTF8String.fromString(DigestUtils.md5Hex(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      b += 1
    }
    new GenericArrayData(keys)
  }

  /** Distinct tokens in `toks(from until until)`. */
  private def distinctCount(toks: Array[UTF8String], from: Int, until: Int): Int = {
    val seen = new java.util.HashSet[UTF8String]
    var i = from
    while (i < until) { seen.add(toks(i)); i += 1 }
    seen.size
  }

  /** One-character tokens in `toks(from until until)`. */
  private def shortCount(toks: Array[UTF8String], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) { if (toks(i).numChars == 1) c += 1; i += 1 }
    c
  }

  def qualityScore(text: UTF8String): Double = {
    val toks = tokens(text)
    val n = toks.length.toDouble
    val ttr = distinctCount(toks, 0, toks.length).toDouble / n
    val short = shortCount(toks, 0, toks.length).toDouble / n
    ttr * (1.0 - short)
  }

  def qualityParts(text: UTF8String): InternalRow = {
    val toks = tokens(text)
    val n = toks.length.toDouble
    new GenericInternalRow(Array[Any](
      distinctCount(toks, 0, toks.length).toDouble / n,
      shortCount(toks, 0, toks.length).toDouble / n))
  }

  /** Lines of `wordsPerLine` tokens (the last one shorter); a line is
    * kept when it has at least `minWords` words, distinct·den ≥
    * words·num, and fewer than half its tokens are one character.
    * `clean_text` joins the kept lines' tokens by single spaces. */
  def lineQuality(text: UTF8String, wordsPerLine: Int, minWords: Int,
      distinctNum: Int, distinctDen: Int): InternalRow = {
    val toks = tokens(text)
    val nLines = (toks.length + wordsPerLine - 1) / wordsPerLine
    val kept = new java.util.ArrayList[UTF8String](toks.length)
    var nKept = 0
    var l = 0
    while (l < nLines) {
      val from = l * wordsPerLine
      val until = math.min(from + wordsPerLine, toks.length)
      val words = until - from
      if (words >= minWords &&
          distinctCount(toks, from, until) * distinctDen >= words * distinctNum &&
          shortCount(toks, from, until) * 2 < words) {
        nKept += 1
        var i = from
        while (i < until) { kept.add(toks(i)); i += 1 }
      }
      l += 1
    }
    new GenericInternalRow(Array[Any](nLines.toLong, nKept.toLong,
      UTF8String.concatWs(Space, kept.toArray(new Array[UTF8String](0)): _*)))
  }
}
