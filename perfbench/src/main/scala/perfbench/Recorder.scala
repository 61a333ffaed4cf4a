package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark process.
  *
  * Spans come from the harness (around each call into the program); the
  * engine's side comes from Spark's public listener APIs: job, stage and
  * task events and SQL execution start/end from a `SparkListener`, the
  * output path and SQL metrics of every write command plus planning phase
  * times from a `QueryExecutionListener`, and micro-batch progress from a
  * `StreamingQueryListener`. Everything is kept as JSON fragments and
  * written once, at the end; attribution to spans is done offline from
  * the timestamps (the load is one closed-loop client, so every engine
  * event falls inside exactly one operation's span).
  *
  * `enabled` gates every handler, so the traced run can alternate traced
  * and untraced rounds inside one process and report the difference as
  * the tracing overhead.
  */
final class Recorder {
  @volatile var enabled = false

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable to the listener events' `System.currentTimeMillis` stamps.
    */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[String]()
  private val events = new ConcurrentLinkedQueue[String]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` inside a span named after the program module it calls. */
  def span[T](name: String, parent: Int = -1)(body: Int => T): T = {
    if (!enabled) return body(-1)
    val id = nextSpan.incrementAndGet()
    val t0 = nowMs()
    try body(id)
    finally spans.add(
      s"""{"id":$id,"name":${Json.str(name)},"parent":$parent,"start":$t0,"end":${nowMs()}}""")
  }

  private def emit(json: => String): Unit = if (enabled) events.add(json)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = emit {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-1")
      s"""{"ev":"job_start","job":${e.jobId},"time":${e.time},"exec":$exec,""" +
        s""""stages":[${e.stageIds.mkString(",")}]}"""
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = emit(
      s"""{"ev":"job_end","job":${e.jobId},"time":${e.time}}""")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = emit {
      val s = e.stageInfo
      val scan = s.rddInfos.exists(_.name == "FileScanRDD")
      s"""{"ev":"stage","stage":${s.stageId},"attempt":${s.attemptNumber()},""" +
        s""""submit":${s.submissionTime.getOrElse(-1L)},"done":${s.completionTime.getOrElse(-1L)},""" +
        s""""tasks":${s.numTasks},"file_scan":$scan}"""
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = emit {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m == null) s"""{"ev":"task","stage":${e.stageId},"launch":${i.launchTime},"finish":${i.finishTime}}"""
      else {
        val sr = m.shuffleReadMetrics
        s"""{"ev":"task","stage":${e.stageId},"launch":${i.launchTime},"finish":${i.finishTime},""" +
          s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
          s""""sw":${m.shuffleWriteMetrics.bytesWritten},"sr":${sr.remoteBytesRead + sr.localBytesRead},""" +
          s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
          s""""in":${m.inputMetrics.bytesRead},"out":${m.outputMetrics.bytesWritten}}"""
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => emit(
        s"""{"ev":"sql_start","exec":${s.executionId},""" +
          s""""root":${s.rootExecutionId.getOrElse(s.executionId)},"time":${s.time}}""")
      case s: SparkListenerSQLExecutionEnd => emit(
        s"""{"ev":"sql_end","exec":${s.executionId},"time":${s.time}${link(s)}}""")
      case _ =>
    }
  }

  /** The query execution an SQL execution ran, by identity, and its
    * duration: the same object and nanoseconds the `QueryExecutionListener`
    * is called with for that execution. Spark keeps them in package-private
    * fields of the end event, so they are read reflectively.
    */
  private def link(e: SparkListenerSQLExecutionEnd): String =
    try {
      val qe = e.getClass.getMethod("qe").invoke(e)
      val ns = e.getClass.getMethod("duration").invoke(e)
      if (qe == null) "" else s""","qe":${System.identityHashCode(qe)},"dur_ns":$ns"""
    } catch { case _: ReflectiveOperationException => "" }

  /** Every physical node of an executed plan, looking through adaptive
    * wrappers, query stages and cached relations (whose build plan holds
    * the file scan that populated the cache).
    */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    Iterator.single(p) ++ inner.iterator.flatMap(nodes)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = emit {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum
      val all = nodes(qe.executedPlan).toSeq
      val write = all.collectFirst {
        case w: DataWritingCommandExec => w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            val m = c.metrics
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            s""","path":${Json.str(c.outputPath.toString)},"files":${v("numFiles")},""" +
              s""""rows":${v("numOutputRows")},"bytes":${v("numOutputBytes")}"""
          case _ => ""
        }
      }.getOrElse("")
      // file scans by identity, so a cached scan shared by two sinks is
      // counted once per run
      val scans = all.flatMap(n => n.metrics.get("numFiles")
        .filter(_ => n.nodeName.startsWith("Scan"))
        .map(m => s"[${System.identityHashCode(n)},${m.value}]"))
      s"""{"ev":"qe","qe":${System.identityHashCode(qe)},"func":${Json.str(funcName)},""" +
        s""""dur_ns":$durationNs,"plan_ms":$plan,"scans":[${scans.mkString(",")}]$write}"""
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = emit(
      s"""{"ev":"stream","time":${nowMs()},"progress":${e.progress.json}}""")
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener buses stop delivering events
    * (the last operation's task and SQL-end events arrive after it
    * returns), then return everything recorded.
    */
  def drain(): (Seq[String], Seq[String]) = {
    var last = -1
    while (events.size != last) { last = events.size; Thread.sleep(300) }
    (spans.asScala.toSeq, events.asScala.toSeq)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
