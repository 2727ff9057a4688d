package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Whether listeners count what the engine does: true only during the
  * run calls the per-layer metrics describe (jobs are kept always,
  * because spans need them). The harness drains the listener bus before
  * each change, so an event is always seen under the state that caused
  * it. */
object Counting {
  @volatile var on: Boolean = false
}

final case class JobRec(id: Int, submitMs: Double, var endMs: Double)

/** Engine counters from the scheduler's events. */
final class EngineListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputRecords = 0L; var recordsWritten = 0L
  private val cached = mutable.Map.empty[String, Long]
  var cachePeak = 0L

  private def running = Counting.on

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = JobRec(e.jobId, e.time.toDouble, e.time.toDouble)
    jobs += j; byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (running) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (running && m != null) {
      tasks += 1
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      inputRecords += m.inputMetrics.recordsRead
      recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Block-manager bytes of cached RDD blocks; the peak is what the
    * pipeline's persisted fan-out streams held. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      if (info.storageLevel.isValid) cached(key) = info.memSize + info.diskSize
      else cached.remove(key)
      if (running) cachePeak = math.max(cachePeak, cached.values.sum)
    }
  }
}

/** Physical-plan shape of every query the pipeline ran, read from the
  * final (adaptive) plan. A cached stream's plan is counted once. */
final class PlanListener extends QueryExecutionListener {
  var exchanges = 0L; var sortMergeJoins = 0L; var broadcastJoins = 0L; var codegenStages = 0L
  private val seenCaches = mutable.Set.empty[Int]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { if (Counting.on) walk(qe.executedPlan) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case m: InMemoryTableScanExec =>
      if (seenCaches.add(System.identityHashCode(m.relation.cacheBuilder)))
        walk(m.relation.cachedPlan)
    case _ =>
      p match {
        case _: ShuffleExchangeExec => exchanges += 1
        case _: SortMergeJoinExec => sortMergeJoins += 1
        case _: BroadcastHashJoinExec => broadcastJoins += 1
        case _: WholeStageCodegenExec => codegenStages += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
  }
}

/** Micro-batch durations of the streaming engine, one entry per
  * progress event. */
final class StreamListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Map[String, Long]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (Counting.on) {
      val d = e.progress.durationMs
      val m = mutable.Map.empty[String, Long]
      d.forEach((k, v) => m(k) = v.longValue)
      batches += m.toMap
    }
  }
}
