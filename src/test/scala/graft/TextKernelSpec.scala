package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.{Dedup, TextAnalysis}

/** Golden values for the curation text kernels: `shingles`,
  * `bandKeysArray` (and `withBandKeys`), `qualityExpr`, `quality()` and
  * `lineQualityCuration`, over edge inputs — null, empty and blank text,
  * doubled/leading/trailing spaces, documents exactly n−1 and n tokens
  * long, repeated shingles, one-char multibyte tokens, and a 200-token
  * document. The literals were recorded from the higher-order-function
  * expression trees these functions used to be, so the table pins the
  * native kernels to those outputs bit for bit (doubles are compared by
  * their exact decimal rendering). Runs in memory, no test data.
  *
  * Each table is checked twice: once through whole-stage codegen, and
  * once with codegen off entirely, so the generated and interpreted
  * paths of every expression are held to the same values.
  */
class TextKernelSpec extends SparkSuite {
  import TextKernelSpec._

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def check(actual: Seq[(String, String)]): Unit = {
    val (got, want) = (actual.map(_._1), Golden.map(_._1))
    assert(got == want, s"golden case list drifted: only computed " +
      s"${got.diff(want).take(5)}, only pinned ${want.diff(got).take(5)}")
    val diffs = actual.zip(Golden).collect {
      case ((k, got), (_, want)) if got != want =>
        s"$k:\n  got  $got\n  want $want"
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("text kernels reproduce the golden values (whole-stage codegen)") {
    check(table(spark))
  }

  test("text kernels reproduce the golden values (interpreted evaluation)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      check(table(spark))
    }
  }

  test("withBandKeys appends the same keys as bandKeysArray and keeps " +
      "the frame's own columns") {
    val docs = inputFrame(spark)
    val viaWith = Dedup.withBandKeys(docs, "text", "bks", 8, 2)
    assert(viaWith.columns.toSeq == Seq("id", "text", "bks"))
    val a = viaWith.select(col("id"), col("bks")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = docs.select(col("id"), Dedup.bandKeysArray(col("text"), 8, 2))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b)
  }
}

object TextKernelSpec {

  /** The 200-token document: repeats, one-char tokens and a multibyte
    * token, so every gate and the distinct counting see real work. */
  val Long200: String = (0 until 200).map { i =>
    if (i % 7 == 0) "x" else if (i % 11 == 0) "的" else s"w${(i * 31) % 53}"
  }.mkString(" ")

  val Inputs: Seq[(String, String)] = Seq(
    "null" -> null,
    "empty" -> "",
    "space" -> " ",
    "one" -> "a",
    "double" -> "a  b c",
    "edges" -> " a b c d ",
    "n3m1" -> "a b",
    "n3" -> "a b c",
    "n5m1" -> "a b c d",
    "n5" -> "a b c d e",
    "repeat" -> "a b a b a b a b a b",
    "multibyte" -> "é 的 x é 的 yy é",
    "clean" -> ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron"),
    "long200" -> Long200)

  def inputFrame(spark: SparkSession): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      Inputs.zipWithIndex.map { case ((_, t), i) => Row(i.toLong, t) }, 2),
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true))))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** One value as text (strings quoted, so `[]`, `[""]` and null differ);
    * renderings over 160 chars are pinned by digest. */
  def render(v: Any): String = {
    val s = v match {
      case null => "null"
      case s: String => q(s)
      case d: Double => java.lang.Double.toString(d)
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", "|", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case other => other.toString
    }
    if (s.length > 160) s"md5:${md5Hex(s)}/len${s.length}" else s
  }

  /** (function/input, rendered output) for every function × input. */
  def table(spark: SparkSession): Seq[(String, String)] = {
    val docs = inputFrame(spark)
    val t = col("text")
    val exprs = Seq(
      "shingles3" -> Dedup.shingles(t, 3),
      "shingles5" -> Dedup.shingles(t, 5),
      "bandKeys8x2" -> Dedup.bandKeysArray(t, 8, 2),
      "bandKeys2x4" -> Dedup.bandKeysArray(t, 2, 4),
      "qualityExpr" -> TextAnalysis.qualityExpr(t))
    val perRow = docs.select(col("id") +: exprs.map(_._2): _*).collect()
      .map(r => r.getLong(0) -> r).toMap
    val quality = TextAnalysis.quality(docs, idCol = "id").collect()
      .map(r => r.getLong(0) -> Row(r.get(1), r.get(2), r.get(3))).toMap
    def lines(df: DataFrame): Map[Long, Row] = df.collect()
      .map(r => r.getLong(0) -> Row(r.get(1), r.get(2), r.get(3))).toMap
    val lineDefault = lines(TextAnalysis.lineQualityCuration(docs,
      idCol = "id"))
    val linePermissive = lines(TextAnalysis.lineQualityCuration(docs,
      wordsPerLine = 2, minWords = 1, distinctNum = 1, distinctDen = 2,
      docKeepNum = 0, docKeepDen = 1, idCol = "id"))
    val ids = Inputs.indices.map(_.toLong)
    def rowsOf(name: String)(f: Long => Any): Seq[(String, String)] =
      ids.map(i => s"$name/${Inputs(i.toInt)._1}" -> render(f(i)))
    exprs.zipWithIndex.flatMap { case ((name, _), j) =>
      rowsOf(name)(i => perRow(i).get(j + 1))
    } ++ rowsOf("quality")(i => quality(i)) ++
      rowsOf("lineDefault")(i => lineDefault.getOrElse(i, "dropped")) ++
      rowsOf("linePermissive")(i => linePermissive.getOrElse(i, "dropped"))
  }

  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  val Golden: Seq[(String, String)] = Seq(
    "shingles3/null" -> "[\"\"]",
    "shingles3/empty" -> "[\"\"]",
    "shingles3/space" -> "[\" \"]",
    "shingles3/one" -> "[\"a\"]",
    "shingles3/double" -> "[\"a  b\"|\" b c\"]",
    "shingles3/edges" -> "[\" a b\"|\"a b c\"|\"b c d\"|\"c d \"]",
    "shingles3/n3m1" -> "[\"a b\"]",
    "shingles3/n3" -> "[\"a b c\"]",
    "shingles3/n5m1" -> "[\"a b c\"|\"b c d\"]",
    "shingles3/n5" -> "[\"a b c\"|\"b c d\"|\"c d e\"]",
    "shingles3/repeat" -> "[\"a b a\"|\"b a b\"|\"a b a\"|\"b a b\"|\"a b a\"|\"b a b\"|\"a b a\"|\"b a b\"]",
    "shingles3/multibyte" -> "[\"é 的 x\"|\"的 x é\"|\"x é 的\"|\"é 的 yy\"|\"的 yy é\"]",
    "shingles3/clean" -> "md5:71c765a1261c3a4f9c7164563952764f/len234",
    "shingles3/long200" -> "md5:4aeb26d80d158ec04ab7727ceee3a730/len2416",
    "shingles5/null" -> "[\"\"]",
    "shingles5/empty" -> "[\"\"]",
    "shingles5/space" -> "[\" \"]",
    "shingles5/one" -> "[\"a\"]",
    "shingles5/double" -> "[\"a  b c\"]",
    "shingles5/edges" -> "[\" a b c d\"|\"a b c d \"]",
    "shingles5/n3m1" -> "[\"a b\"]",
    "shingles5/n3" -> "[\"a b c\"]",
    "shingles5/n5m1" -> "[\"a b c d\"]",
    "shingles5/n5" -> "[\"a b c d e\"]",
    "shingles5/repeat" -> "[\"a b a b a\"|\"b a b a b\"|\"a b a b a\"|\"b a b a b\"|\"a b a b a\"|\"b a b a b\"]",
    "shingles5/multibyte" -> "[\"é 的 x é 的\"|\"的 x é 的 yy\"|\"x é 的 yy é\"]",
    "shingles5/clean" -> "md5:2f1d587179ab736cbc2bef2b84f1bbb4/len321",
    "shingles5/long200" -> "md5:fc89016cded3594635b1c366e50a75ab/len3726",
    "bandKeys8x2/null" -> "md5:5b8d9cc2af3aa239ddd4ffaf30331ab8/len281",
    "bandKeys8x2/empty" -> "md5:5b8d9cc2af3aa239ddd4ffaf30331ab8/len281",
    "bandKeys8x2/space" -> "md5:86f31b340ee9cd423da31f8ed7d36236/len281",
    "bandKeys8x2/one" -> "md5:ab8e5b8a7ee2ce5c7ad0db28eb2c7357/len281",
    "bandKeys8x2/double" -> "md5:6e2d3e7b1d49b57302c23975c03b1dc9/len281",
    "bandKeys8x2/edges" -> "md5:12e88caf198a229425fe0aa0c8b67a80/len281",
    "bandKeys8x2/n3m1" -> "md5:4924f30dbdb3bbc1f39afd115ce3dfa4/len281",
    "bandKeys8x2/n3" -> "md5:2567e5b9df1c34d0073ecb50a9a5b7c5/len281",
    "bandKeys8x2/n5m1" -> "md5:a06c06713321c63455e0811992fefb73/len281",
    "bandKeys8x2/n5" -> "md5:3f800e93c241656f25b199d9cc907224/len281",
    "bandKeys8x2/repeat" -> "md5:27ac4b46c738d988f0d2eb19a79ac749/len281",
    "bandKeys8x2/multibyte" -> "md5:6017b9de89e6f874eab63b493c40a59e/len281",
    "bandKeys8x2/clean" -> "md5:39dbc9113e02cf3413e4cd9018fe45ce/len281",
    "bandKeys8x2/long200" -> "md5:78b629b1be49aadd703853153a460ef2/len281",
    "bandKeys2x4/null" -> "[\"19db1b871758d9a2cad7302c5bb94c49\"|\"e726f297844c1646b0965735c826dbe0\"]",
    "bandKeys2x4/empty" -> "[\"19db1b871758d9a2cad7302c5bb94c49\"|\"e726f297844c1646b0965735c826dbe0\"]",
    "bandKeys2x4/space" -> "[\"5d5692976b7f10def9e60e7a9bd2adf4\"|\"e81c9cc5636d21fc55aaae4debddd9b1\"]",
    "bandKeys2x4/one" -> "[\"f0a6ed22e74eca6b619b4c9c5d6664b6\"|\"5d82b0c8adbfb60a6140df39ac6ca423\"]",
    "bandKeys2x4/double" -> "[\"f08c63ca9b4e2ce18501f1fa8fc9e8f9\"|\"95d5e2a7ccbe06599ac3e1b42554665c\"]",
    "bandKeys2x4/edges" -> "[\"e84eb2a4d260099006dfb6f6fc735951\"|\"a2656089c01d3cda81d96ca24113779b\"]",
    "bandKeys2x4/n3m1" -> "[\"bdd6a4fadc994e265b5281142616d790\"|\"d31dbc783a56133b95474961fe8695b5\"]",
    "bandKeys2x4/n3" -> "[\"fbfd4c481e35201d13883600119656f3\"|\"4080b91d55d604d8696a36edf3a70f37\"]",
    "bandKeys2x4/n5m1" -> "[\"2eab6563a938dfc6785a711e9f02179d\"|\"4b3793a3ed4a7b963a49f4b8eb80ca21\"]",
    "bandKeys2x4/n5" -> "[\"75f3fdb6f1e549da350fa26ae80cc9e9\"|\"ed00ce125229671874ba29f129d3a579\"]",
    "bandKeys2x4/repeat" -> "[\"0f55abdc72e174254a6e248960c316e5\"|\"c82568b49db305266537e1bc9dd0eb83\"]",
    "bandKeys2x4/multibyte" -> "[\"ddfdfc24cec10c92117772ae4a821a8a\"|\"741d0eb0e1dc9e28a02c8071faf166c1\"]",
    "bandKeys2x4/clean" -> "[\"93766cecf1667901dc7419eb31ec87b0\"|\"fb597c33bd37a579fa677aba8d342491\"]",
    "bandKeys2x4/long200" -> "[\"0cf0b1b48c452c920b6676f1dc7c7234\"|\"5f6de01b9c63af99db6f8eeed81b2f99\"]",
    "qualityExpr/null" -> "null",
    "qualityExpr/empty" -> "1.0",
    "qualityExpr/space" -> "0.5",
    "qualityExpr/one" -> "0.0",
    "qualityExpr/double" -> "0.25",
    "qualityExpr/edges" -> "0.27777777777777785",
    "qualityExpr/n3m1" -> "0.0",
    "qualityExpr/n3" -> "0.0",
    "qualityExpr/n5m1" -> "0.0",
    "qualityExpr/n5" -> "0.0",
    "qualityExpr/repeat" -> "0.0",
    "qualityExpr/multibyte" -> "0.08163265306122451",
    "qualityExpr/clean" -> "1.0",
    "qualityExpr/long200" -> "0.21312500000000004",
    "quality/null" -> "(null,null,null)",
    "quality/empty" -> "(1.0,0.0,1.0)",
    "quality/space" -> "(0.5,0.0,0.5)",
    "quality/one" -> "(1.0,1.0,0.0)",
    "quality/double" -> "(1.0,0.75,0.25)",
    "quality/edges" -> "(0.8333333333333334,0.6666666666666666,0.27777777777777785)",
    "quality/n3m1" -> "(1.0,1.0,0.0)",
    "quality/n3" -> "(1.0,1.0,0.0)",
    "quality/n5m1" -> "(1.0,1.0,0.0)",
    "quality/n5" -> "(1.0,1.0,0.0)",
    "quality/repeat" -> "(0.2,1.0,0.0)",
    "quality/multibyte" -> "(0.5714285714285714,0.8571428571428571,0.08163265306122451)",
    "quality/clean" -> "(1.0,0.0,1.0)",
    "quality/long200" -> "(0.275,0.225,0.21312500000000004)",
    "lineDefault/null" -> "\"dropped\"",
    "lineDefault/empty" -> "\"dropped\"",
    "lineDefault/space" -> "\"dropped\"",
    "lineDefault/one" -> "\"dropped\"",
    "lineDefault/double" -> "\"dropped\"",
    "lineDefault/edges" -> "\"dropped\"",
    "lineDefault/n3m1" -> "\"dropped\"",
    "lineDefault/n3" -> "\"dropped\"",
    "lineDefault/n5m1" -> "\"dropped\"",
    "lineDefault/n5" -> "\"dropped\"",
    "lineDefault/repeat" -> "\"dropped\"",
    "lineDefault/multibyte" -> "\"dropped\"",
    "lineDefault/clean" -> "(3,3,\"alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron\")",
    "lineDefault/long200" -> "(40,40,md5:9fc31de882e30fc4c3d9e6c29d71320c/len680)",
    "linePermissive/null" -> "\"dropped\"",
    "linePermissive/empty" -> "(1,1,\"\")",
    "linePermissive/space" -> "(1,1,\" \")",
    "linePermissive/one" -> "(1,0,\"\")",
    "linePermissive/double" -> "(2,0,\"\")",
    "linePermissive/edges" -> "(3,0,\"\")",
    "linePermissive/n3m1" -> "(1,0,\"\")",
    "linePermissive/n3" -> "(2,0,\"\")",
    "linePermissive/n5m1" -> "(2,0,\"\")",
    "linePermissive/n5" -> "(3,0,\"\")",
    "linePermissive/repeat" -> "(5,0,\"\")",
    "linePermissive/multibyte" -> "(4,0,\"\")",
    "linePermissive/clean" -> "(8,8,\"alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron\")",
    "linePermissive/long200" -> "(100,57,md5:f61faf430f926827e3076e2d6c90e307/len433)")
}
