package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the generated parquet test tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under `\$dir/\$name.parquet`. Reads go
  * through `spark.read.parquet`, so Catalyst column pruning and filter
  * pushdown reach the scan for free. At cluster scale these would be
  * partitioned directories; the API is identical.
  *
  * Inferring a parquet schema starts a Spark job that reads the footer, so
  * each table's inferred `StructType` is memoized and later reads pass it
  * to `spark.read.schema(s)`, which starts none. The memo is keyed on:
  *  - the path as the file system resolves it, so two spellings of one
  *    file share an entry;
  *  - the session's parquet SQL confs (every set key containing
  *    `parquet`), because they change the inferred types: [[events]] sets
  *    `spark.sql.legacy.parquet.nanosAsLong`, which turns TIMESTAMP(NANOS)
  *    into a long (so after a session's first events read, each other
  *    table is inferred once more).
  * Each entry also holds the file's length and modification time, read by
  * one stat per call; a rewritten file differs in either, and is inferred
  * again. Inference runs outside any lock: concurrent first reads of one
  * table may both infer, and the later one replaces an equal schema.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(length: Long, modified: Long, schema: StructType)
  private val schemas = new ConcurrentHashMap[(String, Map[String, String]), Inferred]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val stat = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path)
    val key = (stat.getPath.toString,
      spark.conf.getAll.filter { case (k, _) => k.contains("parquet") })
    val schema = Option(schemas.get(key)) match {
      case Some(i) if i.length == stat.getLen && i.modified == stat.getModificationTime =>
        i.schema
      case _ =>
        val inferred = spark.read.parquet(path.toString).schema
        schemas.put(key, Inferred(stat.getLen, stat.getModificationTime, inferred))
        inferred
    }
    spark.read.schema(schema).parquet(path.toString)
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** The events table's `ts` arrives in either of two parquet physical
    * types depending on the generator vintage: TIMESTAMP(NANOS) (which
    * Spark only reads as a long, via `nanosAsLong`) or TIMESTAMP(MICROS)
    * (read natively, as NTZ under `inferTimestampNTZ`). Both are exposed
    * under one loader contract: `ts_ns` = nanos-since-epoch long, `ts` =
    * microsecond TimestampType — so every downstream query and oracle is
    * schema-vintage-agnostic.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // 64-bit integer division: `/` would go through double and lose
        // sub-256ns precision at 2024-era epochs (±1µs on real rows)
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        // TIMESTAMP(MICROS): NTZ→LTZ cast is value-preserving because the
        // session timezone is pinned to UTC (GraftConf); nanos = micros·1000
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register every table as a temp view named after itself (mirrors what the
    * DuckDB oracle does), so `spark.sql` text can be shared with the oracle.
    * events goes through its typed loader (nanos handling). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
