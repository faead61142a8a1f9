package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed region. Spans nest: a run root, one span per operation (query
  * execution or daily batch), and one child per layer call. An operation and
  * its children share a trace id, the operation's span id. `layer` is the
  * repo module the span's code lives in; spans with children carry no layer
  * of their own (their self time is the unattributed remainder).
  */
final class Span(val id: Int, val parent: Int, val trace: Int, val name: String,
                 val layer: String, val startNs: Long) {
  var endNs: Long = startNs
  var codegenCompiles: Long = 0L
  var codegenMs: Double = 0.0
  var gcMs: Long = 0L
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Per-span Spark accounting, filled from listener events. Everything the
  * scheduler reports is keyed by the span id that was the job group when the
  * job started, so builder-internal jobs land on `build`, write jobs on
  * `commit.*`, and so on.
  */
final class SpanStats {
  var jobs = 0L; var jobMs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var peakExecMem = 0L; var inputBytes = 0L
  var analysisMs = 0L; var optimizeMs = 0L; var planMs = 0L
  var planNodes = 0L; var exchanges = 0L; var codegenStages = 0L
}

/** Records spans in memory and, when tracing, attributes Spark jobs, tasks
  * and query executions to them through the job group. Nothing is written
  * until the run ends.
  */
final class Tracer(sc: SparkContext, val tracing: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val stats: mutable.Map[String, SpanStats] = mutable.HashMap.empty
  // listener-bus thread only
  private val execGroup = mutable.HashMap.empty[Long, String]
  private var pending: Option[Array[Long]] = None

  private val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def codegenSnapshot(): (Long, Double) = {
    val n = codegen.getCount
    (n, n * codegen.getSnapshot.getMean)
  }

  def all: Seq[Span] = spans.toSeq
  def current: Span = stack.head

  /** Time `body` as a child of the current span. While it runs, the span id
    * is the Spark job group, so the listener can attribute its jobs.
    */
  def span[T](name: String, layer: String = "")(body: => T): T = {
    val id = spans.length
    val (parent, trace) = stack.headOption match {
      case Some(p) if p.parent >= 0 => (p.id, p.trace)
      case Some(p) => (p.id, id)
      case None => (-1, id)
    }
    val s = new Span(id, parent, trace, name, layer, System.nanoTime())
    spans += s
    stack.push(s)
    val (cg0, cgMs0) = if (tracing) codegenSnapshot() else (0L, 0.0)
    val gc0 = if (tracing) gcMs() else 0L
    if (tracing) sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      if (tracing) {
        val (cg1, cgMs1) = codegenSnapshot()
        s.codegenCompiles = cg1 - cg0
        s.codegenMs = math.max(0.0, cgMs1 - cgMs0)
        s.gcMs = gcMs() - gc0
        restoreGroup()
      }
    }
  }

  /** Run harness work between spans (checks, reports, forced GC) with the
    * job group `none`, which is no span, so its jobs, tasks and query
    * executions are left out of every span's accounting.
    */
  def untimed[T](body: => T): T =
    if (!tracing) body
    else {
      sc.setJobGroup("none", "untimed", interruptOnCancel = false)
      try body finally restoreGroup()
    }

  /** Makes the enclosing span, if any, the job group again. */
  private def restoreGroup(): Unit = stack.headOption match {
    case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Registers the query listener before the Spark listener: both sit on
    * the shared listener-bus queue, so for every SQL execution end the
    * query listener's callback runs first and `listener` then pairs it
    * with the execution id (and through it the job group).
    */
  def install(spark: SparkSession): Unit = if (tracing) {
    spark.listenerManager.register(queryListener)
    sc.addSparkListener(listener)
  }

  private def statsFor(group: String): SpanStats = synchronized {
    stats.getOrElseUpdate(group, new SpanStats)
  }

  private val listener = new SparkListener {
    private val jobGroup = mutable.HashMap.empty[Int, String]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val stageGroup = mutable.HashMap.empty[Int, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageGroup(_) = g)
      statsFor(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      for (g <- jobGroup.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
        statsFor(g).jobMs += e.time - t0
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      statsFor(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = statsFor(stageGroup.getOrElse(e.stageId, "none"))
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskRunMs += m.executorRunTime
        st.taskCpuNs += m.executorCpuTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.diskBytesSpilled
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
        st.inputBytes += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup(s.executionId) = s.jobGroupId.getOrElse("none")
      case end: SparkListenerSQLExecutionEnd =>
        val group = execGroup.remove(end.executionId).getOrElse("none")
        for (r <- pending) {
          val st = statsFor(group)
          st.analysisMs += r(0); st.optimizeMs += r(1); st.planMs += r(2)
          st.planNodes += r(3); st.exchanges += r(4); st.codegenStages += r(5)
        }
        pending = None
      case _ => ()
    }
  }

  /** Catalyst accounting of the query execution whose end event is being
    * delivered; `listener` attributes it when it sees the same event.
    */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = Tracer.planNodes(qe.executedPlan)
      val exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike | _: ReusedExchangeExec => true
        case _ => false
      }
      val row = Array(phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"),
        nodes.size.toLong, exchanges.toLong, nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toLong)
      pending = Some(row)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

}

object Tracer {
  /** Every physical node of a plan, looking through adaptive wrappers and
    * query stages into the final plan, and into subqueries.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
