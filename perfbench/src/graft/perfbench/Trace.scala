package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. Times are epoch milliseconds; `parent` is the id of
  * the span that caused it (-1 for a root).
  */
case class Span(id: Int, parent: Int, name: String, startMs: Double,
                endMs: Double, attrs: Map[String, Any] = Map.empty)

/** Spans kept in memory for the whole traced run, written once at the end. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startMs: Double, endMs: Double,
          attrs: Map[String, Any] = Map.empty): Int = synchronized {
    buf += Span(buf.size, parent, name, startMs, endMs, attrs)
    buf.size - 1
  }
  def close(id: Int, endMs: Double): Unit = synchronized {
    buf(id) = buf(id).copy(endMs = endMs)
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spark-engine counters and root SQL-execution / non-SQL job intervals,
  * gathered by a SparkListener.
  */
final class EngineListener extends SparkListener {
  /** A root action (SQL execution) or a job outside any SQL execution. */
  case class Action(kind: String, startMs: Double, endMs: Double,
                    description: String, details: String, plan: String)

  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val actions  = mutable.ArrayBuffer.empty[Action]
  /** Worst max/median task-duration ratio over stages with >= 2 tasks. */
  var worstSkew = 0.0

  private val open     = mutable.Map.empty[Long, SparkListenerSQLExecutionStart]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val taskDur  = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        open(s.executionId) = s
      case end: SparkListenerSQLExecutionEnd =>
        open.remove(end.executionId).foreach { s =>
          actions += Action("sql", s.time.toDouble, end.time.toDouble,
            s.description, s.details, s.physicalPlanDescription)
        }
      case _ => ()
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val inSql = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isDefined
    if (!inSql) jobStart(j.jobId) = j.time
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach(t =>
      actions += Action("rdd_job", t.toDouble, j.time.toDouble, "", "", ""))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    counters("tasks") += 1
    if (!t.taskInfo.successful) counters("task_failures") += 1
    val m = t.taskMetrics
    if (m != null) {
      counters("executor_run_ms") += m.executorRunTime
      counters("executor_cpu_ns") += m.executorCpuTime
      counters("gc_ms") += m.jvmGCTime
      counters("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      counters("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      counters("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
    }
    taskDur.getOrElseUpdate((t.stageId, t.stageAttemptId),
      mutable.ArrayBuffer.empty) += t.taskInfo.duration
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    counters("stages") += 1
    taskDur.remove((s.stageInfo.stageId, s.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.size >= 2) {
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
      }
    }
  }

  /** Counters, actions and skew since the last call; resets them. */
  def take(): (Map[String, Double], Seq[Action], Double) = synchronized {
    val r = (counters.toMap, actions.toList, worstSkew)
    counters.clear(); actions.clear(); worstSkew = 0.0
    r
  }
}

/** Root actions seen by a QueryExecutionListener: their count and the
  * shuffle exchanges in their executed (adaptive, final) plans.
  */
final class ActionCounter extends QueryExecutionListener {
  private var actions = 0
  private var exchanges = 0

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    actions += 1
    exchanges += ActionCounter.exchanges(qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized {
    actions += 1
  }

  def take(): (Int, Int) = synchronized {
    val r = (actions, exchanges)
    actions = 0; exchanges = 0
    r
  }
}

object ActionCounter {
  def exchanges(p: SparkPlan): Int = {
    val here = p match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.innerChildren.collect {
        case c: SparkPlan => c }
    }
    here + below.map(exchanges).sum
  }
}
