package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Records jobs, stages, task metrics and query-planning phases from
  * outside the library: one SparkListener plus one QueryExecutionListener.
  * It is attached only during traced passes. Records carry wall-clock
  * epoch milliseconds, the clock Spark stamps its events with, so the
  * report can place each job and plan inside the query phase it ran in.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val tasks = mutable.Map.empty[(Int, Int), TaskAgg]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]

  final class TaskAgg {
    var n = 0; var runMs = 0L; var cpuNs = 0L; var delayMs = 0L
    var inputB = 0L; var shufReadB = 0L; var shufWriteB = 0L
    var spillB = 0L; var gcMs = 0L
    val durMs = mutable.ArrayBuffer.empty[Long]
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, st) =>
      jobs += Map("id" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
        "stages" -> st, "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
    val i = e.taskInfo
    val dur = i.finishTime - i.launchTime
    a.n += 1
    a.durMs += dur
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      // the scheduler delay as Spark's own stage page derives it
      a.delayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
      a.inputB += m.inputMetrics.bytesRead
      a.shufReadB += m.shuffleReadMetrics.totalBytesRead
      a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val a = tasks.remove((s.stageId, s.attemptNumber())).getOrElse(new TaskAgg)
    stages += Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> a.n, "task_ms" -> a.durMs.toSeq, "run_ms" -> a.runMs,
      "cpu_ns" -> a.cpuNs, "delay_ms" -> a.delayMs, "input_b" -> a.inputB,
      "shuffle_read_b" -> a.shufReadB, "shuffle_write_b" -> a.shufWriteB,
      "spill_b" -> a.spillB, "gc_ms" -> a.gcMs)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(funcName, qe, ok = false)

  private def recordPlan(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map {
      case (name, p) => Map("name" -> name, "start_ms" -> p.startTimeMs,
        "end_ms" -> p.endTimeMs)
    }
    var operators = 0
    var exchanges = 0
    Tracer.walk(qe.executedPlan) { p =>
      operators += 1
      if (p.isInstanceOf[Exchange]) exchanges += 1
    }
    val rec = Map("func" -> funcName, "ok" -> ok, "phases" -> phases,
      "operators" -> operators, "exchanges" -> exchanges)
    synchronized { plans += rec }
  }

  /** Everything recorded so far; clears the buffers. */
  def drain(): Map[String, Any] = synchronized {
    val out = Map("jobs" -> jobs.toList, "stages" -> stages.toList, "plans" -> plans.toList)
    jobs.clear(); stages.clear(); plans.clear()
    out
  }
}

object Tracer {
  /** Visits every operator of the final (post-AQE) physical plan and of
    * its subqueries. Codegen and AQE wrappers are looked through, not
    * counted; a reused exchange counts as an operator, not an exchange.
    */
  def walk(plan: SparkPlan)(f: SparkPlan => Unit): Unit = plan match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case s: QueryStageExec => walk(s.plan)(f)
    case w: WholeStageCodegenExec => walk(w.child)(f)
    case i: InputAdapter => walk(i.child)(f)
    case r: ReusedExchangeExec => f(r)
    case p =>
      f(p)
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
  }
}
