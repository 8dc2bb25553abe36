package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds (microsecond resolution on Linux), the
  * one time base for spans, Spark task times and planner phase times. */
object Clock {
  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

final case class Span(name: String, op: Int, parent: Int, t0: Long, t1: Long)

/** One finished task, as the listener saw it (times in ms, sizes in bytes). */
final case class TaskRec(op: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, schedMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, peakMem: Long, inBytes: Long,
    outBytes: Long)

/** One executed query plan: its planner phases (analysis, optimisation,
  * planning) as (start, end) in ms, and node counts of the final (post-AQE)
  * physical plan. */
final case class PlanRec(op: Int, phasesMs: Seq[(Long, Long)], exchanges: Int,
    broadcasts: Int, native: Int)

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener and a QueryExecutionListener the benchmark registers
  * itself. Everything stays in memory until the run ends. When disabled,
  * `span` is a plain call and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile private var currentOp: Int = -1

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op")).map(_.drop(2).toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobs.merge(op, 1, Integer.sum)
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.merge(stageOp.getOrDefault(e.stageInfo.stageId, -1), 1, Integer.sum)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (i != null && m != null) {
        val dur = i.finishTime - i.launchTime
        val sched = math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        tasks.add(TaskRec(stageOp.getOrDefault(e.stageId, -1),
          i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, sched, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val nodes = Tracer.planNodes(qe.executedPlan)
      plans.add(PlanRec(currentOp, phases.map(p => (p.startTimeMs, p.endTimeMs)).toSeq,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        nodes.count(_.getClass.getName.startsWith("graft.plans."))))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `f` as operation `op`: its jobs carry the op's job group, and in
    * a traced run every listener event it caused is attributed before
    * the call returns. */
  def op[T](op: Int, name: String)(f: => T): T = {
    currentOp = op
    spark.sparkContext.setJobGroup(s"op$op", name, interruptOnCancel = false)
    try f
    finally {
      if (enabled) PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.clearJobGroup()
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(name, currentOp, parent, Clock.nowNs(), 0L)
      stack = idx :: stack
      try f
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(t1 = Clock.nowNs())
      }
    }

  /** Stop recording; later spans belong to no operation. */
  def close(): Unit = if (enabled) {
    currentOp = -1
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def planList: Seq[PlanRec] = plans.asScala.toSeq
}

object Tracer {
  /** Every node of a physical plan, looking through adaptive plans (their
    * final plan), query stages and command wrappers; each node once. */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children ++ p.subqueries ++
          p.innerChildren.collect { case c: SparkPlan => c }
      }
      kids.foreach(walk)
    }
    walk(root)
    out.toSeq
  }
}
