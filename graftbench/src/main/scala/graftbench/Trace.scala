package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer's public function, made by the benchmark.
  * `parent` is the span that was open when it started (0 = none) and `op`
  * the operation it belongs to. Times are nanoTime readings. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, kind: String, t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spark work attributed to one span: everything its jobs ran. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var taskTimeMs = 0L
  var gcMs = 0L
  val executions = mutable.Set.empty[Long]
  val stageIds = mutable.Set.empty[Int]
}

/** Spans kept in memory plus the Spark listeners that attribute jobs,
  * stages and tasks to them. Off, it costs one branch per call: no
  * listener is registered and no job group or local property is set.
  *
  * Keying: every operation sets the job group `graftbench-op-<n>`, and
  * every span puts its id in the local property [[SpanProp]]; a job
  * carries both, so the listener maps job → stages → tasks → span. */
final class Tracer(val on: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1
  private var open: List[Int] = Nil
  private var op = 0
  private var sc: SparkContext = _

  /** Counters, written on the listener-bus thread; read after [[drain]]. */
  val work = mutable.Map.empty[Int, SparkWork]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** Task durations (ms) per stage, for the skew figure. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** QueryExecutionListener: query execution id → ns it took. */
  private val queryNs = mutable.Map.empty[Long, Long]
  /** Query execution id → SQL execution id, from execution-end events. */
  private val queryExecution = mutable.Map.empty[Long, Long]
  /** SQL execution id → the job group (so the op) it started under. */
  private val executionGroup = mutable.Map.empty[Long, String]

  private def workOf(span: Int) = work.getOrElseUpdate(span, new SparkWork)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val w = workOf(span)
      w.jobs += 1
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => w.executions += id.toLong)
      e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        stageSpan.get(id).foreach { span =>
          val w = workOf(span)
          w.stages += 1
          w.stageIds += id
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        s.jobGroupId.foreach(g => executionGroup(s.executionId) = g)
      }
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        GraftbenchAccess.queryExecutionId(end)
          .foreach(q => queryExecution(q) = end.executionId)
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = workOf(stageSpan.getOrElse(e.stageId, 0))
      w.tasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.taskTimeMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
      }
    }
  }

  private object Executions extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Tracer.this.synchronized {
      queryNs(qe.id) = durationNs
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Registers the listeners on `spark` (traced runs only). */
  def install(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
    spark.listenerManager.register(Executions)
  }

  /** Starts operation n+1: later jobs carry its job group. */
  def newOp(): Int = {
    op += 1
    if (on && sc != null)
      sc.setJobGroup(group(op), s"graftbench op $op", interruptOnCancel = false)
    op
  }

  /** (count, seconds) of the SQL executions op `n` completed, as the
    * QueryExecutionListener reported them. */
  def executionsOf(n: Int): (Int, Double) = {
    val ns = queryNs.toSeq.collect { case (q, t) if queryExecution.get(q)
      .flatMap(executionGroup.get).contains(group(n)) => t }
    (ns.size, ns.sum / 1e9)
  }

  /** Times `f` as a span of `layer` when tracing; otherwise just runs it. */
  def span[T](layer: String, name: String, kind: String = "")(f: => T): T = {
    if (!on) return f
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.getOrElse(0)
    val prev = if (sc != null) sc.getLocalProperty(SpanProp) else null
    if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      if (sc != null) sc.setLocalProperty(SpanProp, prev)
      spans += Span(id, parent, op, layer, name, kind, t0, t1)
    }
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit =
    if (on && sc != null) GraftbenchAccess.drain(sc)
}

object Tracer {
  val SpanProp = "graftbench.span"
  def group(op: Int): String = s"graftbench-op-$op"
}
