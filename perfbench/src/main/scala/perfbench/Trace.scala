package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval of the traced run: a workload, pass, query, phase or
  * Spark job. Times are epoch milliseconds; `parent` is 0 for the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** Span store of a traced run. Spans stay in memory until the run ends. */
final class Spans {
  private val ids = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]
  // nanoTime is monotonic but has no epoch; Spark's listener events carry
  // epoch milliseconds, so bench spans are put on the same clock
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Long = ids.getAndIncrement()
  def toMs(nanoTime: Long): Double = (nanoTime + epochOffsetNs) / 1e6
  def add(s: Span): Unit = done.add(s)
  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Turns Spark jobs into child spans of the bench span that was current on
  * the submitting thread, with their stages' task metrics summed in.
  *
  * The submitting thread names its span in the [[Trace.SpanKey]] local
  * property; Spark copies local properties to the threads it starts for
  * broadcasts and subqueries, so their jobs land under the same span.
  */
final class JobTracer(spans: Spans) extends SparkListener {
  private final class JobAcc(val id: Int, val parent: Long, val startMs: Long,
      val site: String, val owner: String, val execId: String) {
    val sums = new ConcurrentHashMap[String, java.lang.Double]
    def add(k: String, v: Double): Unit =
      sums.merge(k, v, (a, b) => a + b): Unit
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]
  // SQL execution id -> call stack of the thread that started it
  private val execStacks = new ConcurrentHashMap[String, String]
  @volatile private var drainSeen = -1

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => execStacks.put(x.executionId.toString, x.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = spanOf(e.properties)
    // Jobs of a SQL execution (adaptive query stages included, which Spark
    // submits from its own threads) take the stack of the thread that
    // started the execution; other jobs (RDD actions such as a checkpoint
    // write) the stack in their final stage's details.
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    val stack = Option(execStacks.get(execId)).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    val files = Trace.codeFiles(stack)
    val acc = new JobAcc(e.jobId, parent, e.time,
      files.headOption.getOrElse("other"),
      files.find(f => !Trace.Helpers(f)).orElse(files.headOption).getOrElse("other"),
      execId)
    jobs.put(e.jobId, acc)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  // Per-task slot wait (launch - stage submission), summed per job;
  // run.py reports the mean over tasks.
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { acc =>
      val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      acc.add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - submitted).toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { acc =>
      acc.add("stages", 1)
      acc.add("tasks", info.numTasks.toDouble)
      val m = info.taskMetrics
      if (m != null) {
        acc.add("run_ms", m.executorRunTime.toDouble)
        acc.add("cpu_ms", m.executorCpuTime / 1e6)
        acc.add("gc_ms", m.jvmGCTime.toDouble)
        acc.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        acc.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        acc.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        acc.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        acc.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        acc.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { acc =>
      if (acc.parent == Trace.DrainSpan) drainSeen = acc.id
      else {
        val attrs = acc.sums.asScala.map { case (k, v) => k -> (v.doubleValue: Any) }.toMap ++
          Map("site" -> acc.site, "owner" -> acc.owner, "exec_id" -> acc.execId,
            "job_id" -> acc.id,
            "ok" -> (e.jobResult == JobSucceeded))
        spans.add(Span(spans.newId(), acc.parent, "job", s"job ${acc.id}",
          acc.startMs.toDouble, e.time.toDouble, attrs))
      }
    }

  /** Listener events arrive asynchronously. Runs a marker job and waits
    * until its end event is seen: every job before it has then been
    * recorded. */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    sc.setLocalProperty(Trace.SpanKey, Trace.DrainSpan.toString)
    val before = drainSeen
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Trace.SpanKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (drainSeen == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def spanOf(p: Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey)))
      .flatMap(_.toLongOption).getOrElse(0L)
}

object Trace {
  /** Local property carrying the id of the bench span a job belongs to. */
  val SpanKey = "perfbench.span"
  private[perfbench] val DrainSpan = -1L
  private val Frame = """(?m)^\s*(?:graft|perfbench)\.[^(]*\(([A-Za-z0-9_$-]+\.scala):""".r
  /** Barrier helpers: a job they run is owned by the module that called them. */
  val Helpers = Set("Checkpoints.scala", "StageCache.scala", "ExprUtil.scala")

  /** Source files of this code base on a call stack, innermost first. A
    * job's `site` is the first of them (e.g. Checkpoints.scala for a
    * materialize barrier), its `owner` the first that is not a barrier
    * helper (e.g. Dedup.scala, which asked for the barrier). */
  def codeFiles(stack: String): Seq[String] =
    Frame.findAllMatchIn(stack).map(_.group(1)).toSeq
}
