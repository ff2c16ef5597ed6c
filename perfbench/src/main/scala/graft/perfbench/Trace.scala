package graft.perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark did for one job group. */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, gcMs: Long = 0, inputRecords: Long = 0) {
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    gcMs + o.gcMs, inputRecords + o.inputRecords)
}

/** Sums jobs, stages and task metrics per job group (`spark.jobGroup.id`). */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, Totals]

  private def groupOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def add(g: String, t: Totals): Unit =
    totals(g) = totals.getOrElse(g, Totals()) + t

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => stageGroup(s) = g)
    add(g, Totals(jobs = 1))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    add(g, Totals(stages = 1))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) add(stageGroup.getOrElse(e.stageId, ""), Totals(
      tasks = 1, taskMs = m.executorRunTime,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled, gcMs = m.jvmGCTime,
      inputRecords = m.inputMetrics.recordsRead))
  }

  def get(group: String): Totals = synchronized(totals.getOrElse(group, Totals()))
  def all: Totals = synchronized(totals.values.foldLeft(Totals())(_ + _))
}

/** Every successful action's QueryExecution: the plan that actually ran. */
final class QeListener extends QueryExecutionListener {
  private val events = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def clear(): Unit = events.clear()
  def last: Option[QueryExecution] = events.asScala.lastOption
}

/** Facts read from the final adaptive plan of an executed query. */
final case class PlanFacts(finalPlan: Boolean, bhj: Int, smj: Int, planS: Double)

object PlanFacts extends AdaptiveSparkPlanHelper {
  def of(qe: QueryExecution): PlanFacts = {
    val root: SparkPlan = qe.executedPlan
    val aqe = mutable.ArrayBuffer.empty[AdaptiveSparkPlanExec]
    foreach(root) { case a: AdaptiveSparkPlanExec => aqe += a; case _ => }
    val bhj = collectWithSubqueries(root) { case j: BroadcastHashJoinExec => j }.size
    val smj = collectWithSubqueries(root) { case j: SortMergeJoinExec => j }.size
    // lazy phases only: analysis already ran when the DataFrame was built
    val planMs = Seq("optimization", "planning").flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    PlanFacts(aqe.forall(_.isFinalPlan), bhj, smj, planMs / 1e3)
  }
}

/** One timed operation: the call that returns a DataFrame (eager), the
  * planning and the execution of its materializing action. Plan and
  * Spark-work fields are filled in the traced run only. */
final case class Sample(
    kind: String, eagerS: Double, planS: Double, execS: Double,
    eager: Totals = Totals(), exec: Totals = Totals(),
    plan: Option[PlanFacts] = None) {
  def wallS: Double = eagerS + planS + execS
  def work: Totals = eager + exec
}

/**
 * Times calls into the library from outside. In a traced run each
 * phase of each operation runs under its own job group, a
 * [[GroupListener]] sums the group's work, and a [[QeListener]]
 * catches the QueryExecution of the materializing action.
 */
final class Probe(val spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val groups = new GroupListener
  private val qes = new QeListener
  private var seq = 0L
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Plans that were not final when read: a broken trace. */
  var nonFinalPlans = 0

  if (traced) {
    sc.addSparkListener(groups)
    spark.listenerManager.register(qes)
  }

  def drain(): Unit = if (traced) PerfbenchBus.drain(sc)

  private def inGroup[T](g: String)(f: => T): T =
    if (!traced) f
    else {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }

  /** Wall time of `f` in seconds, with its result. */
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `call`, then `materialize` its result; record a [[Sample]]. */
  def op[A, B](kind: String)(call: => A)(materialize: A => B): (B, Sample) = {
    seq += 1
    val id = s"$kind#$seq"
    val (a, eagerS) = time(inGroup(s"$id/eager")(call))
    drain() // the eager phase's own query events must not be read as the materialization's
    qes.clear()
    val (b, matS) = time(inGroup(s"$id/exec")(materialize(a)))
    val s =
      if (!traced) Sample(kind, eagerS, 0.0, matS)
      else {
        drain()
        val facts = qes.last.map(PlanFacts.of)
        if (facts.exists(!_.finalPlan)) nonFinalPlans += 1
        val planS = math.min(facts.fold(0.0)(_.planS), matS)
        Sample(kind, eagerS, planS, matS - planS,
          groups.get(s"$id/eager"), groups.get(s"$id/exec"), facts)
      }
    samples += s
    System.err.println(f"[perfbench] $kind%-24s eager ${s.eagerS}%.3f plan ${s.planS}%.3f exec ${s.execS}%.3f s")
    (b, s)
  }

  /** A call that returns no DataFrame: all of it is eager. */
  def call[A](kind: String)(f: => A): (A, Sample) = op(kind)(f)(identity)

  def of(kind: String): Seq[Sample] = samples.filter(_.kind == kind).toSeq
}
