package graft.bench

import java.lang.management.ManagementFactory
import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{BenchListenerBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed interval: a whole iteration (parent = -1) or one call into
  * a layer (parent = the iteration's span id). Spans of one iteration
  * share `iteration`. */
final case class Span(id: Int, name: String, parent: Int, iteration: Int,
    startNs: Long, endNs: Long, gcMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-side totals of one span, filled from listener events. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** max / median task run time of the stage holding the longest task:
    * the straggler that sets the layer's critical path. */
  def taskSkew: Double = {
    val withTasks = stageTaskMs.values.filter(_.nonEmpty)
    if (withTasks.isEmpty) 1.0
    else {
      val worst = withTasks.maxBy(_.max).sorted
      worst.last.toDouble / math.max(worst(worst.size / 2), 1L).toDouble
    }
  }
}

/** Attributes every job, stage and task to the span whose job group was
  * active when the job was submitted. Attached only while tracing. */
final class SpanListener extends SparkListener {
  private val totals = mutable.Map.empty[Int, TaskTotals]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(props: Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.JobGroupKey)))
      .filter(_.startsWith(SpanListener.GroupPrefix))
      .map(_.stripPrefix(SpanListener.GroupPrefix).toInt)

  private def of(span: Int): TaskTotals = totals.getOrElseUpdate(span, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(of(_).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = of(span)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.diskBytesSpilled
      t.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def totalsOf(span: Int): TaskTotals = synchronized(totals.getOrElse(span, new TaskTotals))
}

object SpanListener {
  val GroupPrefix = "dedupbench-span-"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Spans around every call the benchmark makes into a layer. With
  * tracing off, `layer` only runs its body; with tracing on, it opens a
  * span, tags the call's Spark jobs with a job group naming the span,
  * and records the JVM's GC time across the call. Spans stay in memory
  * until the run writes them out. */
final class Tracer(sc: SparkContext) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var listener: Option[SpanListener] = None
  private var nextId = 0
  private var iterSpan = -1
  private var iterNo = 0

  def tracing: Boolean = listener.isDefined

  def start(): Unit = if (listener.isEmpty) {
    val l = new SpanListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def stop(): Unit = listener.foreach { l =>
    BenchListenerBus.drain(sc)
    sc.removeSparkListener(l)
    listener = None
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private def timed[T](name: String, parent: Int)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val tagged = tracing && parent >= 0
    if (tagged) sc.setJobGroup(SpanListener.GroupPrefix + id, name, interruptOnCancel = false)
    val out = try body finally if (tagged) sc.clearJobGroup()
    val span = Span(id, name, parent, iterNo, t0, System.nanoTime(), gcMs() - gc0)
    spans += span
    (out, span)
  }

  /** One iteration: its span is the parent of the layer spans opened in
    * `body`. Returns the body's value and the iteration span. */
  def iteration[T](no: Int)(body: => T): (T, Span) = {
    iterNo = no
    iterSpan = nextId
    try timed("iteration", -1)(body) finally iterSpan = -1
  }

  def layer[T](name: String)(body: => T): T =
    if (!tracing) body else timed(name, iterSpan)(body)._1

  /** Layer spans of the iteration whose span is `iter`, with their task
    * totals (listener events drained first). */
  def layersOf(iter: Span): Seq[(Span, TaskTotals)] = listener match {
    case None => Nil
    case Some(l) =>
      BenchListenerBus.drain(sc)
      spans.toSeq.filter(_.parent == iter.id).map(s => s -> l.totalsOf(s.id))
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iteration":${s.iteration},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"gc_ms":${s.gcMs}}"""
  }.mkString("[", ",\n", "]")
}
