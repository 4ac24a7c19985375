package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, RDDScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent,
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out once, at the end of the run.
  * A disabled tracer records nothing and only runs the traced code.
  */
final class Tracer(@volatile var enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** Run `f` in a span named `name`, a child of this thread's open span. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = spans.synchronized {
        val s = Span(spans.size + 1, current.get, name, System.nanoTime(), 0L)
        spans += s; s
      }
      val outer = current.get
      current.set(s.id)
      try f finally { s.end = System.nanoTime(); current.set(outer) }
    }

  /** Id of this thread's open span (0 at the top), for handing to a
    * thread that works on its behalf.
    */
  def open: Int = current.get

  /** Run `f` on this thread as if inside span `parent`. */
  def under[T](parent: Int)(f: => T): T = {
    val outer = current.get
    current.set(parent)
    try f finally current.set(outer)
  }

  /** A position in the span list, for [[durationsMs]]. */
  def mark: Int = spans.synchronized(spans.size)

  /** Durations in ms of the finished spans called `name`, from `mark` on. */
  def durationsMs(name: String, from: Int): Seq[Double] = spans.synchronized {
    spans.drop(from).filter(s => s.name == name && s.end > 0)
      .map(s => (s.end - s.start) / 1e6).toSeq
  }

  def write(path: Path): Unit = if (enabled) {
    Files.createDirectories(path.getParent)
    val lines = spans.synchronized(spans.map { s =>
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.start),
        "end_ns" -> Json.num(s.end))
    }.toSeq)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Totals of the Spark scheduler's work, read from job and task events. */
final case class SparkTotals(jobs: Long, stages: Long, tasks: Long,
                             runMs: Long, cpuNs: Long, gcMs: Long,
                             shuffleWriteBytes: Long, spillBytes: Long,
                             recordsRead: Long) {
  private def zip(o: SparkTotals)(f: (Long, Long) => Long): SparkTotals = {
    val v = productIterator.zip(o.productIterator).map {
      case (a: Long, b: Long) => f(a, b)
      case _ => 0L
    }.toArray
    SparkTotals(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8))
  }
  def -(o: SparkTotals): SparkTotals = zip(o)(_ - _)
  def +(o: SparkTotals): SparkTotals = zip(o)(_ + _)
}

final class SparkCounters extends SparkListener {
  private val c = Array.fill(9)(new AtomicLong)

  // Stages and tasks are counted as each job's DAG declares them, skipped
  // stages included: which stages actually run can depend on timing (an
  // adaptive plan may drop a stage it no longer needs), the DAG does not.
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    c(1).addAndGet(e.stageInfos.size)
    c(2).addAndGet(e.stageInfos.map(_.numTasks.toLong).sum)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.executorCpuTime)
      c(5).addAndGet(m.jvmGCTime)
      c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(7).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(8).addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot: SparkTotals = {
    val v = c.map(_.get)
    SparkTotals(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8))
  }
}

/** Plan shape and planning time of one executed query. Scans are leaf
  * reads: files, data source V2, RDDs (a streaming source's micro-batch,
  * a checkpointed frame) and cached tables.
  */
final case class PlanStats(exchanges: Int, scans: Int, customNodes: Int, planningMs: Double)

object PlanStats {
  /** Every node of the executed plan, through adaptive stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan, planningMs: Double): PlanStats = {
    val all = nodes(plan)
    PlanStats(
      exchanges = all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      scans = all.count {
        case _: FileSourceScanExec | _: BatchScanExec | _: RDDScanExec |
             _: InMemoryTableScanExec => true
        case _ => false
      },
      customNodes = all.count(_.getClass.getName.startsWith("graft.")),
      planningMs = planningMs)
  }
}

/** Plan statistics of every query execution, in completion order. */
final class PlanCollector extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[PlanStats]

  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planningMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val stats = PlanStats.of(qe.executedPlan, planningMs)
    seen.synchronized(seen += stats)
  }

  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  def count: Int = seen.synchronized(seen.size)

  /** Statistics of the executions completed since `from` (see [[count]]). */
  def since(from: Int): Seq[PlanStats] = seen.synchronized(seen.drop(from).toSeq)
}

/** Micro-batch durations reported by Structured Streaming itself. */
final class ProgressCollector extends StreamingQueryListener {
  private val seen = ArrayBuffer.empty[(java.util.UUID, Long, Map[String, Long], Long)]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val ms = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala
      .map { case (k, v) => k -> v.longValue }.toMap
    seen.synchronized(seen += ((p.id, p.batchId, ms, p.numInputRows)))
  }

  /** (batchId, durationMs, numInputRows) of the batches of query `id`. */
  def of(id: java.util.UUID): Seq[(Long, Map[String, Long], Long)] =
    seen.synchronized(seen.filter(_._1 == id).map(x => (x._2, x._3, x._4)).toSeq)
}
