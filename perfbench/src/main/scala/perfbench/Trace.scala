package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are ms since the epoch,
  * the clock Spark's planning tracker uses. `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      queryId: String, startMs: Double, endMs: Double)

/** Spans kept in memory and written out at the end. The clock is
  * `System.nanoTime` anchored once to the epoch, so spans have sub-ms
  * resolution and still line up with Spark's epoch-ms planning phases. */
final class Tracer {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  /** When off, `span` runs its body and records nothing. */
  var on = false

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String, layer: String, queryId: String)(body: => T): T =
    if (!on) body
    else {
      val id = buf.length
      val parent = stack.headOption.getOrElse(-1)
      buf += Span(id, parent, name, layer, queryId, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        buf(id) = buf(id).copy(endMs = nowMs)
      }
    }

  /** Adds a span measured elsewhere (a planning phase) under `parent`. */
  def add(parent: Int, name: String, layer: String, queryId: String,
          startMs: Double, endMs: Double): Unit =
    buf += Span(buf.length, parent, name, layer, queryId, startMs, endMs)

  def spans: Seq[Span] = buf.toSeq

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = Stats.selfTimes(spans)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""layer":${Json.str(s.layer)},"query":${Json.str(s.queryId)},""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Job-scoped local properties that tag every Spark job with the query
  * and the layer that started it. */
object Tags {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
  def of(props: Properties): (String, String) =
    if (props == null) ("", "")
    else (props.getProperty(Query, ""), props.getProperty(Phase, ""))
}

/** Execution counters per (query id, phase), from the listener bus. */
final class ExecCounters extends SparkListener {
  final class C {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, inputBytes, shuffleWrite, shuffleRead, spill = 0L
  }
  private val byKey = mutable.HashMap.empty[(String, String), C]
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private def c(k: (String, String)): C = byKey.getOrElseUpdate(k, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = Tags.of(e.properties)
    c(k).jobs += 1
    e.stageIds.foreach(stageKey(_) = k)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.properties != null) stageKey(e.stageInfo.stageId) = Tags.of(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(c(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = c(stageKey.getOrElse(e.stageId, ("", "")))
    x.tasks += 1
    if (e.reason != org.apache.spark.Success) x.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.runMs += m.executorRunTime
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
      x.inputBytes += m.inputMetrics.bytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of the jobs `phase` started for the query `queryId`. */
  def get(queryId: String, phase: String): Option[C] = synchronized(byKey.get((queryId, phase)))
}

/** Planning phases and final-plan exchange counts of every query
  * execution that finished, from Spark's own `QueryPlanningTracker`. */
final class PlanCapture extends QueryExecutionListener {
  import PlanCapture.P
  private val done = new ConcurrentLinkedQueue[P]()
  private object Walk extends AdaptiveSparkPlanHelper

  private def capture(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val plan = scala.util.Try(qe.executedPlan).toOption
    def count(pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]): Int =
      plan.map(p => Walk.collectWithSubqueries(p)(pf).size).getOrElse(0)
    done.add(P(phases,
      count { case _: ShuffleExchangeLike => 1 },
      count { case _: BroadcastExchangeLike => 1 }))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = capture(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = capture(qe)

  /** Every capture since the last call. */
  def take(): Seq[PlanCapture.P] = Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
}

object PlanCapture {
  /** phase name → (start ms, end ms), plus exchanges in the final plan. */
  final case class P(phases: Map[String, (Long, Long)], exchanges: Int, broadcasts: Int)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
