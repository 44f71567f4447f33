package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** What Spark reports for the work done inside one named span. */
final class Span(val name: String) {
  var wallS = 0.0
  var jobs = 0
  var cpuNs = 0L          // executor CPU time, summed over tasks
  var gcMs = 0L
  var shuffleWriteB = 0L
  var spillB = 0L         // memory + disk bytes spilled
  var catalystMs = 0L     // analysis + optimization + planning
  var scanRows = 0L       // rows out of parquet/csv scan nodes
  var nestedLoopRows = 0L // rows out of nested-loop / cartesian joins
  val taskMsByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def cpuS: Double = cpuNs / 1e9
  def tasks: Int = taskMsByStage.values.map(_.size).sum
  def cpuUtil(cores: Int): Double =
    if (wallS > 0) cpuS / (wallS * cores) else 0.0

  /** Max ÷ median task time in the stage with the most task time. */
  def taskSkew: Double =
    if (taskMsByStage.isEmpty) 0.0
    else {
      val ts = taskMsByStage.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }
}

/** Span tracer built on Spark's own listeners. `span` sets the Spark job
  * group to the span name, so the same numbers line up with the event
  * log. A SparkListener attributes jobs, task times, CPU, shuffle writes,
  * spill and GC by job group; a QueryExecutionListener adds Catalyst
  * phase time and the rows produced by scan and nested-loop join nodes.
  * Spans run one after another; the listener bus is drained at every
  * boundary. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.LinkedHashMap[String, Span]()
  private val stageSpan = mutable.Map[Int, Span]()
  @volatile private var current: Option[Span] = None

  private def spanFor(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .flatMap(g => synchronized(spans.get(g)))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanFor(e.properties).foreach { s =>
        Tracer.this.synchronized {
          s.jobs += 1
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageId).foreach { s =>
          s.taskMsByStage.getOrElseUpdate(e.stageId,
            mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
            s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = current.foreach { s =>
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      var scans = 0L
      var nlj = 0L
      Tracer.walk(qe.executedPlan) {
        case f: FileSourceScanExec => scans += Tracer.rows(f)
        case j: BroadcastNestedLoopJoinExec => nlj += Tracer.rows(j)
        case j: CartesianProductExec => nlj += Tracer.rows(j)
        case _ => ()
      }
      Tracer.this.synchronized {
        s.catalystMs += phases
        s.scanRows += scans
        s.nestedLoopRows += nlj
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)

  /** Runs `body` as span `name`; repeated names add up. */
  def span[T](name: String)(body: => T): T = {
    ListenerDrain(sc)
    val s = synchronized(spans.getOrElseUpdate(name, new Span(name)))
    current = Some(s)
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallS += (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      ListenerDrain(sc)
      current = None
    }
  }

  def get(name: String): Span = synchronized(spans.getOrElse(name, new Span(name)))
  def all: Seq[Span] = synchronized(spans.values.toSeq)
  def reset(): Unit = synchronized { spans.clear(); stageSpan.clear() }

  def close(): Unit = {
    ListenerDrain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  /** Runs `body` as span `name` of `tracer`, or untraced without one. */
  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** The local property Spark stores the job group under. */
  val GroupKey = "spark.jobGroup.id"

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Visits every operator of an executed plan, looking through adaptive
    * wrappers and materialized query stages (which are leaves). */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec => walk(q.plan)(f)
    case other =>
      f(other)
      other.children.foreach(walk(_)(f))
  }
}
