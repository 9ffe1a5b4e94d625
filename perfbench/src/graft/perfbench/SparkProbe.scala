package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes the Spark engine from outside the program: a SparkListener for
  * jobs, stages and task metrics, and a QueryExecutionListener for driver
  * planning time and the SQL plan metrics of the LSH band-join and Jaccard
  * filter. Registered only in traced passes; read with [[snapshot]] after
  * the listener bus has drained.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  private var c = Counters()
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val stageTimes = mutable.HashMap.empty[Int, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    c = c.copy(stages = c.stages + 1,
      stagesFailed = c.stagesFailed + (if (i.failureReason.isDefined) 1 else 0))
    for (s <- i.submissionTime; f <- i.completionTime) stageTimes(i.stageId) = (s, f)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    val failed = if (info.successful) 0 else 1
    if (m == null) c = c.copy(tasks = c.tasks + 1, tasksFailed = c.tasksFailed + failed)
    else {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        ((m.executorRunTime, info.finishTime))
      val sr = m.shuffleReadMetrics
      c = c.copy(
        tasks = c.tasks + 1,
        tasksFailed = c.tasksFailed + failed,
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = c.shuffleReadB + sr.remoteBytesRead + sr.localBytesRead,
        fetchWaitMs = c.fetchWaitMs + sr.fetchWaitTime,
        spillB = c.spillB + m.diskBytesSpilled,
        inputB = c.inputB + m.inputMetrics.bytesRead,
        outputB = c.outputB + m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)

  private def onQuery(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val nodes = planNodes(qe.executedPlan)
    // The Jaccard threshold marks Dedup's LSH plan: a filter, or the verify
    // join once the optimizer has pushed the filter into its condition. The
    // band self-join is the equi-join on `band` with the doc_a < doc_b
    // condition.
    def isVerify(cond: Option[Expression]) =
      cond.exists(_.sql.toLowerCase.contains("jaccard"))
    val verify = nodes.collect {
      case f: FilterExec if isVerify(Some(f.condition)) => rows(f)
      case j: BaseJoinExec if isVerify(j.condition) => rows(j)
    }
    val candidates =
      if (verify.isEmpty) Nil
      else nodes.collect {
        case j: BaseJoinExec if j.condition.isDefined && !isVerify(j.condition) &&
            j.leftKeys.exists(_.references.exists(_.name == "band")) => rows(j)
      }
    synchronized {
      c = c.copy(planMs = c.planMs + planMs,
        lshCandidates = c.lshCandidates + candidates.sum,
        lshVerified = c.lshVerified + verify.sum)
    }
  }

  /** Waits for the bus, then copies the counters. */
  def snapshot(spark: SparkSession): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  /** Milliseconds of [t0, t1] during which no task ran. */
  def noTaskMs(t0: Long, t1: Long): Long = synchronized {
    var busy = 0L
    var end = t0
    intervals.map { case (s, f) => (math.max(s, t0), math.min(f, t1)) }
      .filter { case (s, f) => f > s }.sortBy(_._1).foreach { case (s, f) =>
        if (f > end) { busy += f - math.max(s, end); end = f }
      }
    (t1 - t0) - busy
  }

  /** The stage with the most task run time since `sinceMs`: its wall time,
    * max/mean task run time, and the finish time of its last task. */
  def heaviestStage(sinceMs: Long): Option[(Double, Double, Long)] = synchronized {
    stageTasks.toSeq
      .filter { case (id, _) => stageTimes.get(id).exists(_._1 >= sinceMs) }
      .sortBy { case (_, ts) => -ts.map(_._1).sum }
      .headOption.map { case (id, ts) =>
        val (s, f) = stageTimes(id)
        val mean = ts.map(_._1).sum.toDouble / ts.length
        ((f - s) / 1e3, if (mean > 0) ts.map(_._1).max / mean else 1.0,
          ts.map(_._2).max)
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object SparkProbe {
  final case class Counters(
      jobs: Long = 0, stages: Long = 0, stagesFailed: Long = 0,
      tasks: Long = 0, tasksFailed: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      shuffleWriteB: Long = 0, shuffleReadB: Long = 0, fetchWaitMs: Long = 0,
      spillB: Long = 0, inputB: Long = 0, outputB: Long = 0,
      planMs: Long = 0, lshCandidates: Long = 0, lshVerified: Long = 0) {
    def -(o: Counters): Counters = Counters(
      jobs - o.jobs, stages - o.stages, stagesFailed - o.stagesFailed,
      tasks - o.tasks, tasksFailed - o.tasksFailed, runMs - o.runMs,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWriteB - o.shuffleWriteB,
      shuffleReadB - o.shuffleReadB, fetchWaitMs - o.fetchWaitMs,
      spillB - o.spillB, inputB - o.inputB, outputB - o.outputB,
      planMs - o.planMs, lshCandidates - o.lshCandidates,
      lshVerified - o.lshVerified)

    def attrs: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "executor_run_ms" -> runMs, "shuffle_write_b" -> shuffleWriteB,
      "shuffle_read_b" -> shuffleReadB, "spill_b" -> spillB, "plan_ms" -> planMs)
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Every physical node of an executed plan, through AQE stages, reused
    * exchanges and command wrappers; each node once. */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case r: ReusedExchangeExec => visit(r.child)
        case c: CommandResultExec => visit(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(root)
    out.toSeq
  }
}
