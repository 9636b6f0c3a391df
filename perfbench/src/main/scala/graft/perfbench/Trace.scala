package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are nanoseconds on the
  * `System.nanoTime` clock; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans are opened only
  * on the driver thread that calls into the program, so a plain stack
  * gives each span its parent. With tracing off, `span` just runs the
  * body and records nothing. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Adds a closed span whose bounds were observed elsewhere (Spark's
    * own execution events) under `parent`. */
  def record(name: String, parent: Span, startNs: Long, endNs: Long): Unit =
    if (enabled) spans += Span(spans.length, parent.id, name, startNs, endNs)

  def all: Seq[Span] = spans.toSeq

  /** Self time of one span: its duration minus the part of its
    * interval covered by the union of its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  def json: String = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Task-level counters summed over one attribution key. */
final class Agg {
  var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  var inputBytes, outputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  def +=(o: Agg): Agg = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    this
  }
}

/** Spark's own counters, attributed at the same boundaries as the
  * spans. A job is keyed by the SQL execution that ran it (when it
  * has one) and by the `perfbench.layer` local property the driver
  * sets before each call into a layer; its stages and tasks inherit
  * the key. SQL execution ends are kept so a workload can turn them
  * into spans. */
final class Counters extends SparkListener with QueryExecutionListener {
  import Counters._

  private val aggs = new ConcurrentHashMap[(String, Long), Agg]()
  private val stageKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val executions = new ConcurrentHashMap[Long, Execution]()
  @volatile private var catalyst = 0L

  private def agg(k: (String, Long)): Agg = aggs.computeIfAbsent(k, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(LayerProp))).getOrElse("none")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val k = (layer, exec)
    e.stageIds.foreach(stageKey.put(_, k))
    val a = agg(k)
    a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val a = agg(k)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(Option(stageKey.get(e.stageId)).getOrElse(("none", -1L)))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, Execution(s.executionId, "", -1L,
        Option(s.description).getOrElse(""), Option(s.physicalPlanDescription).getOrElse("")))
    case s: SparkListenerSQLExecutionEnd =>
      Option(executions.get(s.executionId)).foreach(_.endMs = s.time)
    case _ =>
  }

  /** Catalyst time (analysis + optimization + planning) of every
    * query execution that finished, from its planning tracker. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    catalyst += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters summed over every key whose layer satisfies `p`. */
  def sum(p: String => Boolean): Agg =
    aggs.asScala.iterator.filter { case ((l, _), _) => p(l) }
      .foldLeft(new Agg) { case (acc, (_, a)) => a.synchronized(acc += a) }

  /** Counters of the jobs run by one SQL execution. */
  def ofExecution(id: Long): Agg =
    aggs.asScala.iterator.filter { case ((_, e), _) => e == id }
      .foldLeft(new Agg) { case (acc, (_, a)) => a.synchronized(acc += a) }

  /** Finished SQL executions in start order, with their layer key as
    * seen on their first job (empty if they ran no job). */
  def finishedExecutions: Seq[Execution] = {
    val layerOf = aggs.keySet.asScala.groupBy(_._2).map { case (e, ks) => e -> ks.head._1 }
    executions.values.asScala.filter(_.endMs >= 0).toSeq.sortBy(_.id)
      .map(x => x.copy(layer = layerOf.getOrElse(x.id, "")))
  }

  def catalystMs: Long = catalyst

  def reset(): Unit = {
    aggs.clear(); stageKey.clear(); executions.clear()
    catalyst = 0L
  }
}

object Counters {
  val LayerProp = "perfbench.layer"

  /** One SQL execution: its end (wall ms), call site and plan. */
  final case class Execution(id: Long, layer: String, var endMs: Long,
                             description: String, plan: String)

  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Blocks until Spark has delivered every queued listener event. */
  def drain(spark: SparkSession): Unit =
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)

  /** Runs `body` with the layer key set on the calling thread, so the
    * jobs it starts (and threads it creates) carry it. */
  def inLayer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, layer)
    try body finally sc.setLocalProperty(LayerProp, prev)
  }
}
