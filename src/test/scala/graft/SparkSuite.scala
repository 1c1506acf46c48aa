package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession (one per suite, lazy) + frame assertion
  * helpers mirroring the reference's testing.py assert_frame_equal.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Build a small frame from (name, values) columns; dtype inferred from
    * the first element, nullable everywhere (like object columns).
    */
  def frame(cols: (String, Seq[Any])*): DataFrame = {
    val fields = cols.map { case (n, vs) =>
      val dt = vs.collectFirst {
        case i: Int => IntegerType
        case l: Long => LongType
        case d: Double => DoubleType
        case s: String => StringType
        case b: Boolean => BooleanType
        case a: Seq[_] => ArrayType(a.headOption match {
          case Some(_: Int) => IntegerType
          case Some(_: Long) => LongType
          case Some(_: Double) => DoubleType
          case Some(_: String) => StringType
          case _ => IntegerType
        })
      }.getOrElse(StringType)
      StructField(n, dt, nullable = true)
    }
    val n = cols.head._2.size
    val rows = (0 until n).map(i => Row.fromSeq(cols.map(_._2(i))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2), StructType(fields))
  }

  def collectCol[T](df: DataFrame, c: String): Seq[T] =
    df.select(c).collect().toSeq.map(_.getAs[T](0))

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = GraftConf.localProfile(SparkSession.builder(), 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
