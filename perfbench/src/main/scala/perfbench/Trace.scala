package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.dataflow.{FlowAction, FlowContext, FlowEntities, core}
import graft.dataflow.spark.{CommitEntry, DataCommitter, SparkDataFlow, SparkFlowContext}

/** One timed interval at a layer boundary. `trace` is the round the span
  * belongs to; `parent` is the span that caused it (0 = the round root). */
final case class Span(id: Long, name: String, kind: String, startNs: Long, endNs: Long,
    parent: Long, trace: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans stay in memory and are written out once, when the
  * run ends. When `enabled` is false nothing is recorded and the wrappers
  * below are never installed, so an untraced round runs the program as is. */
final class Tracer {
  @volatile var enabled: Boolean = false
  @volatile var trace: Long = 0L
  /** Parent for spans opened on executor pool threads (the execute span). */
  @volatile var flowParent: Long = 0L
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, name: String, kind: String, startNs: Long, endNs: Long,
      parent: Long): Unit =
    if (enabled) spans.add(Span(id, name, kind, startNs, endNs, parent, trace))

  /** Times `f` on the calling thread. Spark jobs it starts carry the span id
    * as their job group, so the listener can attribute task metrics to it. */
  def span[T](sc: Option[SparkContext], name: String, kind: String,
      parent: Long = 0L)(f: => T): T = {
    val id = nextId()
    val prevGroup = sc.map(_.getLocalProperty("spark.jobGroup.id"))
    if (enabled) sc.foreach(_.setLocalProperty("spark.jobGroup.id", s"span-$id"))
    val t0 = System.nanoTime()
    try f
    finally {
      record(id, name, kind, t0, System.nanoTime(), parent)
      if (enabled) sc.foreach(_.setLocalProperty("spark.jobGroup.id", prevGroup.orNull))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def ofTrace(t: Long): Seq[Span] = all.filter(_.trace == t)
}

/** Wraps a flow action so its run is recorded as a span of `kind`. The
  * wrapper is scheduled exactly like the action it wraps: same labels, same
  * readiness, and `DataFlow.replaceAction` carries the tag and pool meta over. */
final class TracedAction[C <: FlowContext](val inner: FlowAction[C], tracer: Tracer,
    kind: String) extends FlowAction[C] {
  def inputLabels: List[String] = inner.inputLabels
  def outputLabels: List[String] = inner.outputLabels
  override val requiresAllInputs: Boolean = inner.requiresAllInputs
  override def actionName: String = inner.actionName
  override def description: String = inner.description

  def performAction(inputs: FlowEntities, context: C): Try[core.ActionResult] = {
    val sc = context match {
      case s: SparkFlowContext => Some(s.spark.sparkContext)
      case _ => None
    }
    tracer.span(sc, actionName, kind, tracer.flowParent)(inner.performAction(inputs, context))
  }
}

object TracedAction {
  /** Kind of a span from the action name the program gives it. */
  def kindOf(actionName: String): String = actionName.takeWhile(_ != ':') match {
    case "open" => "actions.open"
    case "commitStage" => "commit.stage"
    case "commitMove" => "commit.move"
    case "commitCleanup" => "commit.cleanup"
    case other => s"actions.$other"
  }

  /** Replaces every action of `flow` that is not yet wrapped. */
  def wrapAll(flow: SparkDataFlow, tracer: Tracer): SparkDataFlow =
    flow.actions.foldLeft(flow) {
      case (f, _: TracedAction[_]) => f
      case (f, a) => f.replaceAction(a, new TracedAction(a, tracer, kindOf(a.actionName)))
    }
}

/** Wraps a committer so the actions each commit phase adds are traced. */
final class TracedCommitter(inner: DataCommitter, tracer: Tracer) extends DataCommitter {
  private def wrapAdded(before: SparkDataFlow, after: SparkDataFlow): SparkDataFlow = {
    val old = before.actions.map(_.guid).toSet
    after.actions.filterNot(a => old(a.guid)).foldLeft(after) { (f, a) =>
      f.replaceAction(a, new TracedAction(a, tracer, TracedAction.kindOf(a.actionName)))
    }
  }

  def stage(name: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow =
    wrapAdded(flow, inner.stage(name, entries, flow))
  def move(name: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow =
    wrapAdded(flow, inner.move(name, entries, flow))
  def finish(name: String, entries: Seq[CommitEntry], flow: SparkDataFlow): SparkDataFlow =
    wrapAdded(flow, inner.finish(name, entries, flow))
  def validate(flow: SparkDataFlow, name: String, entries: Seq[CommitEntry]): Unit =
    inner.validate(flow, name, entries)
}

/** Task-level Spark counters, summed. */
final class SparkCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val outputBytes = new AtomicLong
}

/** Reads job descriptions and job groups at job start and sums task metrics
  * per job group (a span id) and in total. Ignores everything while
  * `enabled` is false. Descriptions are kept for the whole run. */
final class LayerListener extends SparkListener {
  @volatile var enabled: Boolean = false
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, SparkCounters]()
  val descriptions = new ConcurrentHashMap[String, String]()
  @volatile var total = new SparkCounters

  private def counters(group: String) = byGroup.computeIfAbsent(group, _ => new SparkCounters)

  /** Starts a new round: all counters go back to zero. */
  def reset(): Unit = {
    stageGroup.clear(); byGroup.clear()
    total = new SparkCounters
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .foreach(d => descriptions.putIfAbsent(group, d))
    e.stageIds.foreach(s => stageGroup.put(s, group))
    counters(group).jobs.incrementAndGet()
    total.jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
    val m = e.taskMetrics
    val group = Option(stageGroup.get(e.stageId)).getOrElse("none")
    Seq(counters(group), total).foreach { c =>
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def group(spanId: Long): Option[SparkCounters] = Option(byGroup.get(s"span-$spanId"))
}
