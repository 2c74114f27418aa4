package perfbench

import java.util.{ArrayList => JList}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: one SparkListener, one QueryExecutionListener
  * and one StreamingQueryListener, all writing raw rows into memory.
  *
  * Every row carries the op it belongs to. The driver thread sets
  * [[Tracer.OpKey]] as a local property before each op, so a job names its
  * op; the bus is drained after each op, so rows without the property
  * (query-execution and streaming-progress callbacks, jobs from pool
  * threads) belong to [[current]]. A job whose property disagrees with
  * [[current]] — a pool thread that inherited an older op's property — is
  * counted in `misattributed` and charged to [[current]]. Stages and tasks
  * take their job's op. Times are epoch milliseconds, as Spark reports
  * them. Rows are written out once, when the run ends.
  *
  * Input bytes come from the file scans' "size of files read" SQL metric,
  * not from task input metrics, which show a few KB for an upsert round
  * that reads the whole multi-MB state. */
final class Tracer extends SparkListener {
  @volatile var current: Int = -1
  private val stageJob = mutable.Map.empty[Int, (Int, Int)] // stage -> (op, job)
  // stage key -> [op, stage, attempt, submit, complete, tasks, runMs,
  //              cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, output, job]
  private val stageRows = mutable.LinkedHashMap.empty[(Int, Int), Array[Long]]
  val jobs = new JList[Array[Long]]()     // [op, job, start, end, stages]
  val tasks = new JList[Array[Long]]()    // [op, stage, launch, finish]
  val phases = new JList[Array[Long]]()   // [op, analysisMs, optimizationMs, planningMs, scanBytes]
  val progress = new JList[Array[Long]]() // [op, batchId, rows, triggerMs]
  var misattributed = 0L
  private val openJobs = mutable.Map.empty[Int, Array[Long]]

  private def stageRow(stage: Int, attempt: Int): Array[Long] =
    stageRows.getOrElseUpdate((stage, attempt), {
      val r = new Array[Long](15)
      val (op, job) = stageJob.getOrElse(stage, (current, -1))
      r(0) = op; r(1) = stage; r(2) = attempt; r(14) = job
      r
    })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .map(_.toInt)
    if (prop.exists(_ != current)) misattributed += 1
    val op = current
    e.stageIds.foreach(s => stageJob(s) = (op, e.jobId))
    val row = Array[Long](op, e.jobId, e.time, -1L, e.stageIds.size)
    openJobs(e.jobId) = row
    jobs.add(row)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_(3) = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val r = stageRow(si.stageId, si.attemptNumber())
    r(3) = si.submissionTime.getOrElse(-1L)
    r(4) = si.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = stageRow(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    tasks.add(Array[Long](r(0), e.stageId, info.launchTime, info.finishTime))
    r(5) += 1
    val m = e.taskMetrics
    if (m != null) {
      r(6) += m.executorRunTime
      r(7) += m.executorCpuTime
      r(8) += m.jvmGCTime
      r(9) += m.shuffleReadMetrics.totalBytesRead
      r(10) += m.shuffleWriteMetrics.bytesWritten
      r(11) += m.memoryBytesSpilled + m.diskBytesSpilled
      r(12) += m.inputMetrics.bytesRead
      r(13) += m.outputMetrics.bytesWritten
    }
  }

  def stages: Seq[Array[Long]] = synchronized(stageRows.values.toSeq)

  private val seenScanMetrics = mutable.Set.empty[Long]

  /** Bytes of the files the plan's file scans read, each scan's metric
    * counted once however many plans share that scan. */
  private def scanBytes(plan: SparkPlan): Long = {
    val nested = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case p => p.children ++ p.subqueries
    }
    val own = plan.metrics.get("filesSize").filter(m => seenScanMetrics.add(m.id))
      .map(m => math.max(0L, m.value)).getOrElse(0L)
    own + nested.map(scanBytes).sum
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
      Tracer.this.synchronized {
        phases.add(Array[Long](current, ms("analysis"), ms("optimization"), ms("planning"),
          scanBytes(qe.executedPlan)))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized {
        progress.add(Array[Long](current, p.batchId, p.numInputRows, trigger))
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}
