package graft

/** Pure-Scala reference of TextAnalysis' hashed-token classifier scorer:
  * the md5 bucket of each token, an exact Long weight sum, then the
  * integer-division score rule. AnalyticsSpec, ClassifierSpec and
  * PropertySpec check `classifierScore` and `classifierScoreWithWeights`
  * against it.
  */
object ClassifierReference {

  /** First 8 hex chars of md5(tok) as an integer, mod `dims`. */
  def bucket(tok: String, dims: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(8), 16) % dims
  }

  /** The stand-in weight of `classifierScore`: a Knuth-hash ramp over
    * the bucket id, in [-1e6, 1e6]. */
  def rampWeight(b: Long): Long =
    Math.floorMod(b * 2654435761L, 2000001L) - 1000000L

  /** `(n_tokens, score, prob, keep)` of one non-null text, given each
    * token's weight. */
  def score(text: String, weight: String => Long)
      : (Long, Double, Double, Boolean) = {
    val toks = text.split(" ", -1)
    val n = toks.length.toLong
    val s = toks.map(weight).sum
    val scaled = (if (s < 0) -1L else 1L) * ((2L * math.abs(s) + n) / (2L * n))
    val score = scaled.toDouble / 1e6
    val prob = BigDecimal(1.0 / (1.0 + StrictMath.exp(-score)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (n, score, prob, s >= 0)
  }

  /** Reference output rows `(doc_id, n_tokens, score, prob, keep)` for
    * `(doc_id, text)` input; a null text emits no row. */
  def rows(docs: Seq[(Long, String)], weight: String => Long): Seq[Seq[Any]] =
    docs.collect { case (id, t) if t != null =>
      val (n, sc, p, k) = score(t, weight)
      Seq(id, n, sc, p, k)
    }
}
