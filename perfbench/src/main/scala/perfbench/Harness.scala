package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops.{Checkpoints, StageCache}

/** One JVM of the benchmark: sets up a session, runs one workload's closed
  * loop against `graft.SparkEntry.queries`, and writes what it measured to
  * `--out` for `run.py` to check and summarize:
  *
  *  - `ops.jsonl`: one line per timed query (latency, digest, error);
  *  - `run.json`: set-up time, per-pass StageCache/checkpoint state, memory;
  *  - `spans.jsonl` (traced runs only): workload → pass → query → phase →
  *    Spark job spans;
  *  - `results/<query>/`: the first result of every query, as parquet, for
  *    the DuckDB oracle compare.
  *
  * A timed query is the call of its build function (which runs any eager
  * barriers), the planning of the returned frame, and the collection of
  * every row and column to the driver: what a caller of the library
  * receives.
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sfDir: String, out: String, queries: Seq[String],
      first: Seq[String], checkPass: Boolean)

  /** One timed query as the client saw it. */
  final case class Op(pass: Int, query: String, startMs: Double,
      latencyMs: Double, digest: String, rows: Long, error: String)

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty)
    val conf = Conf(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("sf-dir"), m("out"), list("queries"), list("first"),
      m("check-pass") == "1")
    new File(conf.out).mkdirs()

    // Set-up is what a service pays before its first answer: JVM start, the
    // query registry (SparkEntry assembles it on every call), a session, a
    // warm-up and, where the workload has one, the check pass. `setup_s`
    // runs from JVM start to the start of the first timed query.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapWatch.install()
    val queries = graft.SparkEntry.queries
    val spark = session(conf.out)
    warmUp(spark, conf.sfDir)
    val missing = conf.queries.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    // reliable checkpoints, as graft.Verify and production runs use them
    val ckptDir = new File(conf.out, "checkpoints")
    spark.sparkContext.setCheckpointDir(ckptDir.getPath)
    spark.conf.set(Checkpoints.RequireReliableKey, "true")

    val spans = if (conf.trace) Some(new Spans) else None
    val run = new Run(spark, conf, queries, spans, ckptDir)
    val checkS = if (conf.checkPass) run.checkPass() else 0.0
    val tracer = spans.map(new JobTracer(_))
    tracer.foreach(spark.sparkContext.addSparkListener)
    HeapWatch.reset()
    val t0 = System.nanoTime()
    val passes = run.passes()
    val wallS = (System.nanoTime() - t0) / 1e9
    val setupS = (run.ops.asScala.map(_.startMs).min - jvmStartMs) / 1e3
    tracer.foreach(_.drain(spark.sparkContext))

    writeLines(new File(conf.out, "ops.jsonl"), run.ops.asScala.toSeq.map(o => json(Map(
      "pass" -> o.pass, "query" -> o.query, "start_ms" -> o.startMs,
      "latency_ms" -> o.latencyMs, "digest" -> o.digest, "rows" -> o.rows,
      "error" -> Option(o.error)))))
    spans.foreach(s => writeLines(new File(conf.out, "spans.jsonl"), s.all.map(x => json(x.toMap))))
    writeLines(new File(conf.out, "run.json"), Seq(json(Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "setup_s" -> setupS,
      "check_pass_s" -> checkS, "timed_wall_s" -> wallS, "passes" -> passes,
      "dumped" -> run.dumped.asScala.toSeq.sorted,
      "check_digests" -> run.checkDigests.asScala.toMap,
      "peak_rss_mb" -> peakRssMb(),
      "heap_live_peak_mb" -> HeapWatch.peakLiveBytes / 1048576.0))))
    spark.stop()
  }

  private def session(out: String): SparkSession =
    graft.GraftConf.localProfile(SparkSession.builder(),
        Runtime.getRuntime.availableProcessors)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()

  /** Fixed, workload-independent warm-up: a scan, an aggregate, string
    * hashing and a shuffle on the workload's tables. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.range(200000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().collect()
    graft.Tables.documents(spark, sfDir).selectExpr("md5(text) AS h")
      .groupBy("h").count().selectExpr("count(*)").collect()
  }

  private def writeLines(f: File, lines: Seq[String]): Unit =
    Files.writeString(f.toPath, lines.map(_ + "\n").mkString)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  /** Total size of the files under `f`, in bytes. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  /** Compiles done so far by Spark's code generator. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Writes the DuckDB oracle SQL (`SparkEntry.oracleSql`) of the queries
  * named in args(1) (comma-separated) to args(0)/oracle_sql.json. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    new File(args(0)).mkdirs()
    Files.writeString(new File(args(0), "oracle_sql.json").toPath, Harness.json(
      args(1).split(',').toSeq.flatMap(q => oracle.get(q).map(q -> _)).toMap) + "\n")
  }
}

/** Largest heap occupancy seen right after a garbage collection: the live
  * data the workload held. Process RSS also counts garbage not yet
  * collected and native memory. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  def peakLiveBytes: Long = peak
  def reset(): Unit = synchronized { peak = 0L }

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          HeapWatch.synchronized { if (used > peak) peak = used }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** One workload run: its single client's passes, ops and traced spans. */
final class Run(spark: SparkSession, conf: Harness.Conf,
    fns: Map[String, (SparkSession, String) => DataFrame],
    spans: Option[Spans], ckptDir: File) {
  import Harness.Op

  val ops = new ConcurrentLinkedQueue[Op]
  val dumped = new ConcurrentLinkedQueue[String]
  val checkDigests = new ConcurrentHashMap[String, String]
  private val firstSeen = ConcurrentHashMap.newKeySet[String]()
  private val sc = spark.sparkContext

  private def now(): Long = System.nanoTime()

  private def span[T](parent: Long, kind: String, name: String,
      attrs: => Map[String, Any] = Map.empty)(body: Long => T): T = spans match {
    case None => body(0L)
    case Some(s) =>
      val id = s.newId()
      val t0 = now()
      val prevProp = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      try body(id)
      finally {
        sc.setLocalProperty(Trace.SpanKey, prevProp)
        s.add(Span(id, parent, kind, name, s.toMs(t0), s.toMs(now()), attrs))
      }
  }

  /** Runs one query the way a caller does and returns its rows. */
  private def execute(query: String, parent: Long, pass: Int): (DataFrame, Array[Row]) = {
    sc.setJobGroup(s"perfbench-${conf.workload}", s"${conf.workload} pass $pass $query")
    var planMs = 0.0
    val cg0 = Harness.codegenCompiles
    try span(parent, "query", query,
        Map("pass" -> pass, "plan_ms" -> planMs,
          "codegen_compiles" -> (Harness.codegenCompiles - cg0))) { qid =>
      val df: DataFrame = span(qid, "phase", "build")(_ => fns(query)(spark, conf.sfDir))
      span(qid, "phase", "plan")(_ => df.queryExecution.executedPlan)
      val rows = span(qid, "phase", "consume")(_ => df.collect())
      planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      (df, rows)
    } finally sc.clearJobGroup()
  }

  /** Times one query and records it; the first result of each query is
    * kept for the oracle compare. */
  private def timedOp(query: String, parent: Long, pass: Int): Unit = {
    val startMs = System.currentTimeMillis().toDouble
    val t0 = now()
    val ((df, rows), err) =
      try (execute(query, parent, pass), null)
      catch { case e: Throwable => ((null, null), s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val latencyMs = (now() - t0) / 1e6
    val digest = if (rows == null) "" else Digest.of(rows)
    if (rows != null && firstSeen.add(query)) dump(query, df, rows)
    ops.add(Op(pass, query, startMs, latencyMs, digest,
      if (rows == null) 0L else rows.length.toLong, err))
  }

  /** Writes a collected result as parquet, for the DuckDB oracle compare. */
  private def dump(query: String, df: DataFrame, rows: Array[Row]): Unit = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(new File(new File(conf.out, "results"), query).getPath)
    dumped.add(query)
  }

  /** Untimed pass over the workload's queries, one thread per core, before
    * the timed pass: warms the JIT and the code generator as a long-running
    * service has them warm, and records each query's reference result. */
  def checkPass(): Double = {
    val t0 = now()
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try {
      conf.queries.map { q =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              val df = fns(q)(spark, conf.sfDir)
              val rows = df.collect()
              checkDigests.put(q, Digest.of(rows))
              if (firstSeen.add(q)) dump(q, df, rows)
            } catch { case e: Throwable => checkDigests.put(q, s"error: ${e.getMessage}") }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    (now() - t0) / 1e9
  }

  /** The timed closed loop: whole passes until `seconds` have passed (at
    * least one). A pass starts on a new snapshot (an empty StageCache),
    * runs the `first` queries, then the others in a seeded shuffle.
    * Returns one summary per pass. */
  def passes(): Seq[Map[String, Any]] = {
    val deadline = now() + (conf.seconds * 1e9).toLong
    val rng = new Random(conf.seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    span(0L, "workload", conf.workload, Map("seed" -> conf.seed)) { wid =>
      var pass = 0
      while (pass == 0 || now() < deadline) {
        val order = conf.first ++ rng.shuffle(conf.queries.filterNot(conf.first.contains))
        StageCache.clear()
        val (h0, m0) = (StageCache.hits, StageCache.misses)
        val ck0 = Harness.treeBytes(ckptDir)
        span(wid, "pass", s"pass $pass") { pid => order.foreach(q => timedOp(q, pid, pass)) }
        val ck1 = Harness.treeBytes(ckptDir)
        val entries = StageCache.size
        // the pass's snapshot is retired: whatever outlives this is a leak
        StageCache.clear()
        System.gc()
        out += Map("pass" -> pass, "order" -> order,
          "stagecache_hits" -> (StageCache.hits - h0),
          "stagecache_misses" -> (StageCache.misses - m0),
          "stagecache_residual_entries" -> entries,
          "ckpt_bytes" -> (ck1 - ck0), "ckpt_residual_bytes" -> Harness.treeBytes(ckptDir),
          "persisted_rdds" -> sc.getPersistentRDDs.size)
        pass += 1
      }
    }
    out.toSeq
  }
}
