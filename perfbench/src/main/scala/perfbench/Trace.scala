package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the calls the benchmark makes into each layer.
  *
  * A span has a name `<layer>.<stage>`, start and end, the span that
  * caused it and the request it belongs to. While tracing is off,
  * [[span]] only runs its body. While it is on, the open span's id is
  * set as a Spark local property, so that the [[SparkStats]] listener
  * can attribute every Spark job, task and query plan to the span that
  * started it. Spans are written out when the run ends.
  */
object Trace {

  final class Span(val id: Int, val parent: Int, val name: String, val req: Long, val start: Long) {
    var end: Long = 0L
    var rowsIn: Long = -1L
    var rowsOut: Long = -1L
    def layer: String = name.takeWhile(_ != '.')
    def durNs: Long = end - start
  }

  /** handle a span body uses to record its row counts. */
  trait Rows { def in(n: Long): Unit; def out(n: Long): Unit }
  private object NoRows extends Rows { def in(n: Long): Unit = (); def out(n: Long): Unit = () }

  val Property = "perfbench.span"

  @volatile private var on = false
  private var sc: SparkContext = _
  private var req = 0L
  private var stack: List[Span] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** epoch-ms of nanoTime 0 — maps Spark's wall-clock events onto spans */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def attach(context: SparkContext): Unit = sc = context
  def enable(b: Boolean): Unit = on = b

  /** start a new request: later spans carry its id. */
  def request(id: Long): Unit = req = id

  def span[T](name: String)(body: Rows => T): T =
    if (!on) body(NoRows)
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, req, System.nanoTime())
      spans += s
      stack = s :: stack
      if (sc != null) sc.setLocalProperty(Property, s.id.toString)
      try body(new Rows { def in(n: Long): Unit = s.rowsIn = n; def out(n: Long): Unit = s.rowsOut = n })
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(Property, parent.map(_.id.toString).orNull)
      }
    }

  /** self time of each span: its duration minus what its children cover. */
  def selfNs(): Map[Int, Long] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.durNs)
    spans.map(s => s.id -> (s.durNs - child(s.id))).toMap
  }

  /** innermost span open at epoch-ms `t`, if any */
  def spanAt(tMs: Double): Option[Span] = {
    val tNs = ((tMs - epochOffsetMs) * 1e6).toLong
    spans.filter(s => s.start <= tNs && s.end >= tNs).maxByOption(_.start)
  }
}

/** Spark-side counters per span, read through a SparkListener (jobs,
  * tasks, busy time, GC, shuffle, spill) and a QueryExecutionListener
  * (planning time and the SQL metrics of the engine's aggregators in
  * the executed plan). */
final class SparkStats extends SparkListener with QueryExecutionListener {

  final class Acc {
    var jobs = 0L; var tasks = 0L; var busyMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var planMs = 0L; var aggTimeMs = 0L; var aggPeakMem = 0L; var aggRowsOut = 0L
    def +=(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
      planMs += o.planMs; aggTimeMs += o.aggTimeMs; aggPeakMem += o.aggPeakMem; aggRowsOut += o.aggRowsOut
    }
  }

  private val stageSpan = mutable.Map.empty[Int, Int]
  val perSpan: mutable.Map[Int, Acc] = mutable.Map.empty
  /** query plans are attributed by time once the spans are closed */
  private val queries = mutable.ArrayBuffer.empty[(Double, Acc)]

  private def acc(span: Int): Acc = perSpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Property)))
    id.foreach { s =>
      acc(s.toInt).jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = s.toInt)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = acc(s)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.busyMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val a = new Acc
    val phases = qe.tracker.phases
    a.planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val t = phases.get("planning").map(_.endTimeMs.toDouble).getOrElse(System.currentTimeMillis().toDouble)
    planNodes(qe.executedPlan).foreach {
      case agg: BaseAggregateExec =>
        val fns = agg.aggregateExpressions.collect {
          case ae if ae.aggregateFunction.isInstanceOf[ScalaAggregator[_, _, _]] =>
            (ae.aggregateFunction.asInstanceOf[ScalaAggregator[_, _, _]].agg.getClass.getSimpleName, ae.mode)
        }
        if (fns.exists(f => SparkStats.EngineAggs.contains(f._1))) {
          def metric(n: String): Long = agg.metrics.get(n).map(_.value).getOrElse(0L)
          a.aggTimeMs += metric("aggTime")
          a.aggPeakMem += metric("peakMemory")
          if (fns.exists(f => f._2 == Final || f._2 == Complete)) a.aggRowsOut += metric("numOutputRows")
        }
      case _ =>
    }
    synchronized { queries += ((t, a)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** fold query-plan records into the spans open when they were planned */
  def attributeQueries(): Unit = synchronized {
    queries.foreach { case (t, a) => Trace.spanAt(t).foreach(s => acc(s.id) += a) }
    queries.clear()
  }
}

object SparkStats {
  val EngineAggs: Set[String] = Set("DigestAgg", "MerkleRootAgg", "U256SumAgg")
}
