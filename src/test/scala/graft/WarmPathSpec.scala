package graft

import java.nio.file.{Files, StandardCopyOption}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

/** A warm query pays neither codegen nor schema inference: the generated-
  * class cache holds the query surface (GraftConf) and Tables memoizes
  * each table's inferred schema, keyed so a rewritten or re-typed file is
  * inferred again.
  */
class WarmPathSpec extends SparkSuite {
  // the seed-42 tables of TESTDATA.md, where perfbench also looks for them
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `f` with its jobs in a fresh job group and returns the ids of
    * the jobs it started. Listener events arrive asynchronously but in
    * order, so once a marker job run after `f` is visible, every job `f`
    * started is too. */
  private def jobsOf(f: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"warm-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, marker)
    try spark.range(1).collect() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty,
      "the marker job never reached the status tracker")
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  // together they generate more classes than Spark's default cache (100)
  // holds, so with that cache the warm pass recompiles; q45 reads all ten
  // tables (registerViews)
  private val warmQueries = Seq(
    "q14_join_nway_revenue", "q48_parts_not_in", "q51_analytics",
    "q42_nation_volume", "q41_shipping_priority", "q11_join_inner",
    "q13_join_outer", "q25_pivot", "q01_pricing_summary", "q45_shared_sql")

  test("a warm query compiles no class and its build starts no Spark job") {
    val queries = SparkEntry.queries
    // Tables.events sets nanosAsLong for the session, a conf in the schema
    // memo's key: read it first, so the cold pass runs under the conf the
    // warm pass sees (q45 reads events too)
    Tables.events(spark, dir)
    // the queries whose build started jobs
    def pass(): Seq[(String, Seq[Int])] = warmQueries.flatMap { n =>
      var df: DataFrame = null
      val jobs = jobsOf { df = queries(n)(spark, dir) }
      df.collect()
      if (jobs.isEmpty) None else Some(n -> jobs)
    }
    pass()
    val c0 = compiles
    val buildJobs = pass()
    assert(buildJobs.isEmpty, s"building these frames started jobs: $buildJobs")
    assert(compiles == c0, s"the warm pass compiled ${compiles - c0} classes")
  }

  /** Writes `df` as ONE parquet file at `target`, the layout Tables reads. */
  private def writeSingleFile(df: DataFrame, target: java.nio.file.Path): Unit = {
    val tmp = Files.createTempDirectory("warm_write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("Tables memoizes a schema until its file is rewritten") {
    val d = Files.createTempDirectory("warm_tables")
    val file = d.resolve("t.parquet")
    writeSingleFile(spark.range(3).selectExpr("id", "cast(id AS string) AS s"), file)
    assert(Tables(spark, d.toString, "t").columns.toSeq == Seq("id", "s"))
    val again = jobsOf { Tables(spark, d.toString, "t") }
    assert(again.isEmpty, s"a memoized read started jobs $again")
    writeSingleFile(spark.range(5).selectExpr("cast(id * 2 AS double) AS x"), file)
    val t = Tables(spark, d.toString, "t")
    assert(t.columns.toSeq == Seq("x"))
    assert(t.collect().map(_.getDouble(0)).sorted.toSeq == Seq(0.0, 2.0, 4.0, 6.0, 8.0))
  }

  test("toggling nanosAsLong changes the schema Tables returns") {
    val d = Files.createTempDirectory("warm_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(d.resolve("events.parquet").toString),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000000000001L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    def tsType(nanosAsLong: Boolean) = {
      spark.conf.set(key, nanosAsLong.toString)
      Try(Tables(spark, d.toString, "events").schema("ts").dataType)
    }
    try {
      assert(tsType(nanosAsLong = true).toOption.contains(LongType))
      val off = tsType(nanosAsLong = false)
      assert(!off.toOption.contains(LongType),
        s"nanosAsLong=false returned the memoized long schema: $off")
      assert(tsType(nanosAsLong = true).toOption.contains(LongType))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
