package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job-group Spark counters, collected from outside the engine. Job
  * groups are set by the harness around each public call ([[OpLog]]). */
final class JobCounters {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

final class TraceListener extends SparkListener with QueryExecutionListener {
  private val byGroup = new ConcurrentHashMap[String, JobCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile var broadcastBytes = 0L
  @volatile private var flushes = 0L

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(TraceListener.Unlabelled)
  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new JobCounters)

  private val flushJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    if (g == TraceListener.FlushGroup) flushJobs.add(e.jobId)
    else counters(g).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (flushJobs.remove(e.jobId)) flushes += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    if (g != TraceListener.FlushGroup) counters(g).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = Option(stageGroup.get(e.stageId)).getOrElse(TraceListener.Unlabelled)
    if (g == TraceListener.FlushGroup) return
    val c = counters(g)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = synchronized {
    broadcastBytes += Plans.nodes(qe.executedPlan).collect {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  /** Waits until the events of every job run before this call have been
    * delivered: runs a one-task marker job and waits for its end event,
    * which the listener bus delivers after all earlier events. */
  def flush(spark: SparkSession): Unit = {
    val want = synchronized(flushes) + 1
    val sc = spark.sparkContext
    sc.setJobGroup(TraceListener.FlushGroup, "trace flush", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (synchronized(flushes) < want && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def groups: Map[String, JobCounters] = byGroup.asScala.toMap
  /** Sum over the labelled job groups seen so far. Unlabelled work, such as
    * late events of an untraced round that the bus delivers after
    * `attach`, is left out. */
  def total: JobCounters = synchronized {
    val t = new JobCounters
    byGroup.asScala.filter(_._1 != TraceListener.Unlabelled).values.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks; t.runMs += c.runMs
      t.cpuNs += c.cpuNs; t.shuffleWriteBytes += c.shuffleWriteBytes; t.spillBytes += c.spillBytes
    }
    t
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object TraceListener {
  val FlushGroup = "trace.flush"
  val Unlabelled = "(none)"
}

/** Physical-plan helpers over executed (adaptive) plans. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** The refine predicate as planned: `st_point_in_polygon` resolves to
    * the static kernel call `K.pointInPolygon`. */
  private def isPip(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.toString.contains("pointInPolygon")

  private def mentionsPip(p: SparkPlan): Boolean = p match {
    case f: FilterExec => isPip(f.condition)
    case j: HashJoin => j.condition.exists(isPip)
    case _ => false
  }

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** (PIP-passing rows, cell-join candidates) of an executed spatial join:
    * the output of the operator that evaluates the PIP refine, and
    * the output of the nearest join below it, whose rows are the
    * candidate (point, polygon) pairs the refine tests. */
  def pipCounts(plan: SparkPlan): Option[(Long, Long)] =
    nodes(plan).find(mentionsPip).flatMap { pip =>
      val below = pip match {
        case j: HashJoin => nodes(if (j.buildSide == BuildRight) j.left else j.right)
        case other => other.children.flatMap(nodes)
      }
      for (hit <- rows(pip); cand <- below.collectFirst { case j: HashJoin => j }.flatMap(rows))
        yield (hit, cand)
    }
}
