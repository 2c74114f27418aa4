package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Per-stage structured observability — the engine counterpart of the
  * reference's stage-timing events (reference: src/func/log.py:15-41 dict
  * logs with stage/status, src/func/mongo.py:24-25,243-267 per-slice
  * wall-clock deltas). In Spark the natural "slice" is the STAGE, and the
  * scheduler already measures it — a SparkListener surfaces the same
  * `{"stage": ..., "status": ..., "duration_s": ...}` shape plus the
  * shuffle volumes the reference couldn't see.
  */
object StageMetrics {

  final case class StageEvent(stageId: Int, name: String, status: String,
                              durationS: Double, numTasks: Int,
                              shuffleReadBytes: Long, shuffleWriteBytes: Long,
                              recordsRead: Long) {
    def toJson: String =
      s"""{"stage":$stageId,"name":${graft.Jsons.quote(name)},""" +
        s""""status":"$status","duration_s":$durationS,"num_tasks":$numTasks,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""records_read":$recordsRead}"""
  }

  /** Collects one StageEvent per completed stage while registered. */
  final class Listener extends SparkListener {
    private val buf = ArrayBuffer.empty[StageEvent]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val m = info.taskMetrics
      val dur = (for (s <- info.submissionTime; c <- info.completionTime)
        yield (c - s) / 1000.0).getOrElse(0.0)
      buf.synchronized {
        buf += StageEvent(
          info.stageId, info.name,
          if (info.failureReason.isEmpty) "success" else "failed",
          math.round(dur * 10) / 10.0, // 0.1 s precision, like mongo.py:244
          info.numTasks,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.recordsRead)
      }
    }
    def events: Seq[StageEvent] = buf.synchronized(buf.toVector)
  }

  /** Runs `body` with a registered stage listener; returns the result and
    * the stage events observed during it (listener removed afterwards).
    * The listener bus is async, so it is drained before reading: every
    * stage that completed inside `body` has been delivered by then. */
  def withStageMetrics[T](spark: SparkSession)(body: => T): (T, Seq[StageEvent]) = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      (r, l.events)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
