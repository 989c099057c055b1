package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the library, kept in memory
  * and written when the run ends. A span is named
  * `<module>.<Object>.<fn>`; its id rides the `perfbench.span` local
  * property, which Spark copies onto every job the driver thread (or a
  * thread it starts, such as a streaming query) submits, so jobs, tasks
  * and SQL executions are attributed to the span active at submission.
  * When tracing is off `span` only evaluates its body. */
object Trace {
  val SpanProp = "perfbench.span"
  val Root = "bench.iteration"

  final class Span(val id: Long, val parent: Long, val name: String, val startNs: Long) {
    var endNs: Long = 0L
    def secs: Double = (endNs - startNs) / 1e9
  }

  @volatile private var enabled = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    enabled = true
  }
  def stop(): Unit = { enabled = false; sc = null }
  def recorded: Seq[Span] = spans.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time per span id: its duration minus what its children cover.
    * Children run sequentially on the driver thread, so their durations
    * never overlap. */
  def selfSecs(all: Seq[Span]): Map[Long, Double] = {
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    all.map(s => s.id -> (s.secs - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Per-span engine counters. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var wscgMs = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var stagesRetried = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; tasksFailed += o.tasksFailed; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; wscgMs += o.wscgMs
    analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    stagesRetried += o.stagesRetried
  }
}

/** Aggregates scheduler and SQL events by span id (0 = no span: the
  * untimed output checks). */
final class EngineListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long]
  /** stage -> (max task shuffle read, total, tasks), spans only */
  private val stageRead = mutable.HashMap.empty[Int, (Long, Long, Long)]

  private def of(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toLong).getOrElse(0L)
    of(span).jobs += 1
    e.stageIds.foreach(s => stageSpan(s) = span)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0)
      of(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stagesRetried += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, 0L)
    val c = of(span)
    c.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) c.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      c.shuffleRead += read
      c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      val i = e.taskInfo
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      c.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting)
      if (span != 0L) {
        val (mx, tot, n) = stageRead.getOrElse(e.stageId, (0L, 0L, 0L))
        stageRead(e.stageId) = (math.max(mx, read), tot + read, n + 1)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      // The event carries its QueryExecution (not part of Spark's public
      // Scala surface, hence reflection); its tracker holds the Catalyst
      // phase times and its executed plan the final SQL metrics.
      val qe = try end.getClass.getMethod("qe").invoke(end)
        .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
        catch { case _: Exception => null }
      if (qe != null) {
        val c = of(execSpan.getOrElse(end.executionId, 0L))
        val ph = qe.tracker.phases
        c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        try c.wscgMs += EngineListener.codegenMs(qe.executedPlan)
        catch { case _: Exception => () }
      }
    }
    case _ => ()
  }

  /** Largest-shuffle stage's max task read over its mean task read. */
  def shuffleSkew: Double = synchronized {
    if (stageRead.isEmpty) 0.0
    else {
      val (mx, tot, n) = stageRead.values.maxBy(_._2)
      if (tot == 0L) 0.0 else mx.toDouble / (tot.toDouble / n)
    }
  }
}

object EngineListener {
  /** WholeStageCodegen pipeline time (ms, summed over tasks) of an
    * executed plan, through adaptive query stages and subqueries. */
  def codegenMs(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => codegenMs(a.executedPlan)
    case q: QueryStageExec => codegenMs(q.plan)
    case p =>
      val own = p match {
        case w: WholeStageCodegenExec => w.metrics.get("pipelineTime").map(_.value).getOrElse(0L)
        case _ => 0L
      }
      own + p.children.map(codegenMs).sum + p.subqueries.map(codegenMs).sum
  }
}

/** Janino compilations: count and time, process-wide. */
object Codegen {
  final case class Delta(compiles: Long, compileNs: Long) {
    def +(o: Delta): Delta = Delta(compiles + o.compiles, compileNs + o.compileNs)
  }
  private def now = Delta(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  /** Compilations done while `body` ran. */
  def during[T](body: => T): (T, Delta) = {
    val a = now
    val r = body
    val b = now
    (r, Delta(b.compiles - a.compiles, b.compileNs - a.compileNs))
  }
}

/** Progress of one streaming micro-batch. */
final case class StreamBatch(durationMs: Long, addBatchMs: Long, planningMs: Long,
    walCommitMs: Long, stateRows: Long, stateBytes: Long)

/** Micro-batch progress of every streaming query, in arrival order. */
final class BatchLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batches = mutable.ArrayBuffer.empty[StreamBatch]
  def snapshot: Seq[StreamBatch] = synchronized(batches.toSeq)
  def clear(): Unit = synchronized(batches.clear())
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches += StreamBatch(p.batchDuration, d("addBatch"), d("queryPlanning"), d("walCommit"),
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
  }
}
