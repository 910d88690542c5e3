package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** One timed call into a layer: `op` is the benchmark operation it served,
  * `parent` the span that caused it (-1 for an operation's root span).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's own calls into the engine. Kept
  * in memory while the run lasts and written out once at the end. When
  * tracing is off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.top
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** One JSON line per span, with its self time: its duration minus the
    * part its child spans cover.
    */
  def write(path: java.nio.file.Path): Unit = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${(s.endNs - s.startNs - childNs(s.id)) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Spark-side work per layer, attributed through the `perfbench.layer`
  * local property the benchmark sets around each call. Read only after
  * [[org.apache.spark.graft.ListenerDrain.drain]].
  */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, waitMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
    var maxShareSum = 0.0
    var sharedStages = 0L
  }
  val byLayer = new ConcurrentHashMap[String, Acc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageTaskRun = new ConcurrentHashMap[Int, (Long, Long)]() // (sum, max)

  private def acc(layer: String): Acc = byLayer.computeIfAbsent(layer, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).map(_.getProperty("perfbench.layer")).orNull
    if (layer != null) {
      acc(layer).jobs += 1
      e.stageIds.foreach(id => stageLayer.put(id, layer))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    Option(stageLayer.get(info.stageId)).foreach { l =>
      acc(l).stages += 1
      stageSubmit.put(info.stageId, Long.box(info.submissionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLayer.get(e.stageId)).foreach { l =>
      val a = acc(l)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
          val (sum, mx) = Option(stageTaskRun.get(e.stageId)).getOrElse((0L, 0L))
          stageTaskRun.put(e.stageId, (sum + m.executorRunTime, math.max(mx, m.executorRunTime)))
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    Option(stageLayer.get(id)).foreach { l =>
      val a = acc(l)
      Option(stageTaskRun.remove(id)).foreach { case (sum, mx) =>
        if (e.stageInfo.numTasks > 1 && sum > 0) a.synchronized {
          a.maxShareSum += mx.toDouble / sum
          a.sharedStages += 1
        }
      }
    }
  }

  def get(layer: String): Acc = Option(byLayer.get(layer)).getOrElse(new Acc)
}

object Trace {

  /** Run `body` with its Spark jobs attributed to `layer`. */
  def inLayer[T](sc: SparkContext, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty("perfbench.layer")
    sc.setLocalProperty("perfbench.layer", layer)
    try body finally sc.setLocalProperty("perfbench.layer", prev)
  }

  /** Catalyst phase durations (ms) of a frame's query execution. */
  def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  /** Every node of the executed plan, stepping into adaptive and query-stage
    * wrappers. Read right after the action, while the frame is still held.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Row counts along the two-phase search: postings rows scanned, rows out
    * of the (tbl, hash) collision join, distinct (query, vector) candidates,
    * and rows kept by the k1 cut.
    */
  def knnRows(df: DataFrame): (Long, Long, Long, Long) = {
    val all = nodes(df.queryExecution.executedPlan)
    val postings = all.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => rows(s)
    }.sum
    val collisions = all.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "tbl")) => rows(j)
    }.sum
    val candidates = all.collectFirst {
      case a: HashAggregateExec
          if a.groupingExpressions.map(_.references.map(_.name).mkString).sorted == Seq("query_id", "vec_id") =>
        rows(a)
    }.getOrElse(0L)
    val k1 = all.collect {
      case f: FilterExec if f.condition.references.exists(_.name == "r1") => rows(f)
    }.sum
    (postings, collisions, candidates, k1)
  }
}
