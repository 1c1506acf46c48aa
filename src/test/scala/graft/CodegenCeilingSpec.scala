package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Similarity

/** Golden values for the driver-side vector families of `Similarity`:
  * nearest-centroid argmax (`nearestCell`, `withNearestCellSim`) and
  * sign-LSH band keys (`stackedEmbeddingBandKeys`, `lshBucket`). The
  * literals were recorded from the plan-inlined literal forms these
  * functions used up to 16 centroids and 32 planes (one `typedLit`
  * centroid or plane array per expression), so the table pins the
  * broadcast-matrix kernels that replaced them to those outputs bit for
  * bit, output types included. The fixture holds a null embedding (null
  * cell and sim, every band key 0), an embedding shorter than `dim`
  * (the dot and cosine fold over the common prefix), an all-zero
  * embedding (NaN sim, which orders largest, so the smallest cent_id
  * wins) and, at k = 8 and 16, two identical centroids with a vector
  * equal to them (the tie goes to the smaller cent_id).
  *
  * The argmax cases and the band-key cases are one test each, and each
  * is checked with whole-stage codegen on and with codegen off. The other tests pin the plan shape (map-only: no join, window
  * or exchange) at 80 centroids and 48 planes, the k = 80 argmax
  * against a driver replay, and the minhash hash-function cap.
  */
class CodegenCeilingSpec extends SparkSuite {
  import CodegenCeilingSpec._

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The golden cases whose name starts with one of `families`, with
    * whole-stage codegen on and then off. */
  private def check(families: String*): Unit = {
    def mine(name: String) = families.exists(f => name.startsWith(f + " "))
    val want = Golden.filter(g => mine(g._1))
    assert(want.nonEmpty, s"no golden cases for ${families.mkString(", ")}")
    compare(table(spark, mine), want)
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      compare(table(spark, mine), want)
    }
  }

  private def compare(actual: Seq[(String, String)],
      golden: Seq[(String, String)]): Unit = {
    assert(actual.map(_._1) == golden.map(_._1), "golden case list drifted")
    val diffs = actual.zip(golden).collect {
      case ((k, got), (_, want)) if got != want =>
        s"$k:\n  got  $got\n  want $want"
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  private def vecs(n: Int, d: Int) =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(d)),
        i => (i * (col("id") + 1) % 97).cast("double") / 97.0)
        .as("embedding"))

  private def cents(k: Int, d: Int): Seq[(Long, Seq[Double])] =
    (0L until k).map(c =>
      c -> (0 until d).map(i => ((c * 31 + i * 7) % 101).toDouble / 101.0))

  private def assertMapOnly(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    for (bad <- Seq("Join", "Window", "Exchange"))
      assert(!plan.contains(bad),
        s"plan must stay map-only, found $bad:\n" + plan.take(2000))
  }

  test("broadcast-matrix argmax is BITWISE the literal argmax, cell AND " +
      "sim, INCLUDING null embeddings (routing must never change a " +
      "result)") {
    check("nearestCell", "withNearestCellSim")
  }

  test("broadcast band keys are BITWISE the literal band keys, " +
      "INCLUDING null embeddings (plane routing must never change a " +
      "bucket)") {
    check("stackedEmbeddingBandKeys", "lshBucket")
  }

  test("nearestCell at k = 80: map-only, driver-replay argmax") {
    val cs = cents(80, 64)
    val df = vecs(40, 64).select(col("vec_id"), Similarity.nearestCell(
      col("embedding").cast("array<double>"), cs).as("cell"))
    assertMapOnly(df)
    val got = df.orderBy("vec_id").limit(3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vs = vecs(40, 64).orderBy("vec_id").limit(3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    for ((id, e) <- vs) {
      val best = cs.map { case (cid, ce) =>
        val dot = e.lazyZip(ce).map(_ * _).sum
        val sim = BigDecimal(dot / math.sqrt(
          e.map(x => x * x).sum * ce.map(x => x * x).sum))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (sim, -cid)
      }.max
      assert(got(id) == -best._2, s"vec $id: got ${got(id)}, want ${-best._2}")
    }
    // the Lloyd loop trains through the same kernel (one iteration)
    val trained = Similarity.kmeansCentroids(vecs(40, 64),
      nCells = 24, iters = 1)
    assert(trained.count() == 24L) // init = first-nCells vectors
  }

  test("stackedEmbeddingBandKeys at 3x16: map-only, right bucket bits") {
    val nb = 3
    val df = Similarity.stackedEmbeddingBandKeys(vecs(20, 64),
      nBands = nb, planesPerBand = 16, dim = 64)
    assertMapOnly(df)
    assert(df.count() == 20L * nb)
    // band 0 of vector 0 against a driver replay (sequential dot, one
    // sign bit per plane)
    val signs = Similarity.planeSigns(nb * 16, 64)
    val emb = vecs(1, 64).collect().head.getSeq[Double](1)
    val want = (0 until 16).map { i =>
      val s = emb.lazyZip(signs(i).map(_.toDouble)).map(_ * _).sum
      if (s > 0) 1L << i else 0L
    }.sum
    val got = df.filter(col("vec_id") === 0L && col("bid") === 0)
      .select(col("bk")).collect().head.getLong(0)
    assert(got == want, s"band 0 bucket: got $got, want $want")
  }

  test("minhash keeps at most 16 hash functions") {
    // each signature is MinhashA.size small (hm*A+B)%P min-aggregates in
    // one generated method; a larger cap has not been measured against
    // HotSpot's ~8000-byte JIT limit
    assert(graft.ops.Dedup.MinhashA.size <= 16,
      "raising the minhash hash-function cap re-opens the bytecode " +
        "budget question: measure the aggregate's method size first")
  }
}

object CodegenCeilingSpec {

  val Dim = 16

  private def mixed(seed: Long): Seq[Double] =
    (0 until Dim).map(i => ((seed * 37 + i * 11) % 23 - 11) / 7.0)

  /** k centroids with ids 10, 13, 16, …; from k = 8 on, the last one
    * is a copy of the second (id 13), so a vector equal to it ties. */
  def centroids(k: Int): Seq[(Long, Seq[Double])] = (0 until k).map { c =>
    val src = if (k >= 8 && c == k - 1) 1 else c
    (10L + 3 * c) ->
      (0 until Dim).map(i => ((src * 31 + i * 7) % 101 - 50) / 50.0)
  }

  /** (vec_id, embedding): null, shorter than Dim, all zero, a copy of
    * centroid 13, and eight mixed-sign vectors. */
  def embeddings(spark: SparkSession): DataFrame = {
    val es: Seq[Seq[Double]] = Seq(null,
      Seq(0.5, -0.25, 1.0, 0.75, -1.0),
      Seq.fill(Dim)(0.0),
      centroids(8)(1)._2) ++ (4L to 11L).map(mixed)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        es.zipWithIndex.map { case (e, i) => Row(i.toLong, e) }, 2),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType), nullable = true))))
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", "|", "]")
    case other => other.toString
  }

  /** One case: the output columns' types, then each vector's values in
    * vec_id order (band keys as one list per vector, in band order). */
  private def byVec(df: DataFrame): String = {
    val types = df.schema.fields.tail.map(_.dataType.simpleString)
    val perVec = df.collect().toSeq.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        if (rs.size == 1) rs.head.toSeq.tail.map(render).mkString(",")
        else render(rs.sortBy(_.getInt(1)).map(_.get(2)))
      }
    types.mkString("<", ",", "> ") + perVec.mkString(" ")
  }

  /** (function and shape, rendered output) for each golden case whose
    * name `keep` accepts; the others are not run. */
  def table(spark: SparkSession,
      keep: String => Boolean = _ => true): Seq[(String, String)] = {
    val vecs = embeddings(spark)
    val e = col("embedding")
    val cases: Seq[(String, () => DataFrame)] = Seq(1, 8, 16).flatMap { k =>
      Seq[(String, () => DataFrame)](
        s"nearestCell k=$k" -> (() => vecs.select(col("vec_id"),
          Similarity.nearestCell(e, centroids(k)).as("cell"))),
        s"withNearestCellSim k=$k" -> (() => Similarity
          .withNearestCellSim(vecs, e, centroids(k))
          .select("vec_id", "cell", "sim")))
    } ++ Seq((4, 8), (2, 16)).map { case (nb, r) =>
      s"stackedEmbeddingBandKeys ${nb}x$r" -> (() =>
        Similarity.stackedEmbeddingBandKeys(vecs, nb, r, Dim))
    } ++ Seq(8, 31).map { n =>
      s"lshBucket $n" -> (() => vecs.select(col("vec_id"),
        Similarity.lshBucket(e, n, Dim).as("bucket")))
    }
    cases.collect { case (name, df) if keep(name) => name -> byVec(df()) }
  }

  val Golden: Seq[(String, String)] = Seq(
    "nearestCell k=1" ->
      "<bigint> null 10 10 10 10 10 10 10 10 10 10 10",
    "withNearestCellSim k=1" ->
      "<bigint,double> null,null 10,-0.353211 10,NaN 10,-0.225357 10,-0.37173 10,0.348279 10,0.167656 10,0.065663 10,-0.160901 10,-0.376608 10,0.472154 10,0.064967",
    "nearestCell k=8" ->
      "<bigint> null 28 10 13 16 10 28 16 25 16 10 28",
    "withNearestCellSim k=8" ->
      "<bigint,double> null,null 28,0.377525 10,NaN 13,1.0 16,0.247371 10,0.348279 28,0.367933 16,0.268253 25,0.231767 16,0.245611 10,0.472154 28,0.414293",
    "nearestCell k=16" ->
      "<bigint> null 37 10 13 34 31 28 16 43 16 10 28",
    "withNearestCellSim k=16" ->
      "<bigint,double> null,null 37,0.844746 10,NaN 13,1.0 34,0.267367 31,0.385778 28,0.367933 16,0.268253 43,0.239127 16,0.245611 10,0.472154 28,0.414293",
    "stackedEmbeddingBandKeys 4x8" ->
      "<int,bigint> [0|0|0|0] [150|34|24|72] [0|0|0|0] [190|206|198|91] [228|122|12|249] [95|151|231|138] [193|34|60|164] [170|94|7|23] [79|133|99|82] [228|122|12|249] [23|197|195|202] [227|179|56|55]",
    "stackedEmbeddingBandKeys 2x16" ->
      "<int,bigint> [0|0] [8854|18456] [0|0] [52926|23494] [31460|63756] [38751|35559] [8897|42044] [24234|5895] [34127|21091] [31460|63756] [50455|51907] [46051|14136]",
    "lshBucket 8" ->
      "<int> 0 150 0 190 228 95 193 170 79 228 23 227",
    "lshBucket 31" ->
      "<int> 0 1209541270 0 1539755710 2030861028 182949727 607920833 386358954 1382253903 2030861028 1254343959 926462947")
}
