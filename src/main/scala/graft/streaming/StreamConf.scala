package graft.streaming

import org.apache.spark.sql.SparkSession

/** Narrow `spark.sql.shuffle.partitions` for a streaming gate's body.
  *
  * Why: Structured Streaming pays per-partition fixed costs the batch
  * engine does not — every stateful operator commits one state-store
  * delta file PER SHUFFLE PARTITION per micro-batch, and a foreachBatch
  * fold re-plans its merge joins per batch, so a gate that drives 10
  * micro-batches through 2 stores at 32 partitions fsyncs ~640 tiny
  * files whose wall-clock swings 4× with filesystem pressure (q41
  * measured 5–22 s rep-to-rep at 32, 4.5–5.9 s at 8). The gates' state
  * is hundreds of windows/sessions/keys — 8 partitions hold it with
  * headroom.
  *
  * At 100 TB this is the SAME tuning, not a test hack: shuffle
  * partitions for a stateful stream are sized to the STATE and the
  * per-trigger increment, never to the static corpus — an operator that
  * inherits a batch-sized partition count commits mostly-empty state
  * files forever.
  *
  * The conf is read when a streaming query STARTS (the stream captures a
  * cloned session), so the wrapper must cover the `start()`; batch work
  * in the returned report frame runs after restore at the session's
  * normal width. Restore is in `finally` — the session is shared with
  * every later gate in the same run. */
object StreamConf {
  val StreamParts = 8

  def withShuffle[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StreamParts.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
