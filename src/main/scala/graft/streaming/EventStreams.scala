package graft.streaming

import graft.Parquets
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` fixture schema
  * (SURVEY.md §2B row 8; the reference has no streams — this is the
  * mandated extension, built entirely from Structured Streaming
  * primitives).
  *
  * Every transformation here is written against a plain DataFrame, so the
  * SAME code runs in batch (for the DuckDB-oracle gate, see
  * [[graft.operators.StreamingQueries]]) and under `readStream` with
  * incremental execution — that unification is the Spark-first design:
  * one logical plan, two execution modes.
  *
  * Scale: streaming state (window aggregates, session state, user state)
  * is partitioned by group key across executors exactly like a batch
  * shuffle; watermarks bound state size by evicting windows older than
  * the lateness horizon, which is what makes hour-window aggregation over
  * an unbounded event stream run in fixed memory at any throughput.
  */
object EventStreams {

  /** events schema as landed by the driver (ts arrives as µs timestamp
    * after [[graft.Tables.events]] nanos truncation; a streaming file
    * source gets the already-truncated long and converts the same way). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)

  /** Tumbling-window counts/sums per event type. `withWatermark` bounds
    * state: windows more than `lateness` behind the max seen ts finalize
    * (append mode) and evict; later-arriving rows for them are dropped. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
                     lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window (width, slide) value stats per event type. Emits the
    * sum alongside the average: the batch oracle gate compares on
    * sum_value/n_events (avg's division can land a multi-row double
    * aggregate arbitrarily close to a 4-dp round-half boundary, where
    * engines may disagree — the sum keeps the rounding-safety argument
    * the other gated aggregates rely on; avg stays for API use). */
  def slidingAvg(events: DataFrame, width: String = "1 hour",
                 slide: String = "30 minutes",
                 lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(round(avg(col("value")), 4).as("avg_value"),
        round(sum(col("value")), 4).as("sum_value"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("avg_value"), col("sum_value"), col("n_events"))

  /** Session windows per user: a session closes after `gap` of
    * inactivity. session_window.end = last event ts + gap. */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "2 hours"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom streaming state via flatMapGroupsWithState: running per-user
    * event count + value total, emitting the updated totals on every
    * batch that touches the user (Update mode). The state store holds one
    * UserTotals per user, partitioned by user_id. */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          batch.foreach { e => n += 1; total += e.value }
          val next = UserTotals(userId, n, total)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming exact dedup: drop repeats of `idCol` arriving within the
    * watermark horizon — the streaming form of [[graft.operators.Dedup]]'s
    * exact dedup, for at-least-once upstream sources (replayed events,
    * duplicated ingestion). `dropDuplicatesWithinWatermark` is the
    * bounded-state form: plain streaming dropDuplicates keys state on
    * every id EVER seen (state grows with stream history — the 100 TB
    * killer); the within-watermark variant evicts ids older than the
    * horizon, so state ∝ ids per lateness window, constant for a steady
    * stream. Batch callers get plain dropDuplicates semantics. */
  def dedupEvents(events: DataFrame, idCol: String = "event_id",
                  lateness: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(idCol)
    else events.dropDuplicates(idCol)

  /** Stream-stream event-time interval join — attribution shape: each
    * `left` event is matched to the `right` events of the SAME user whose
    * timestamp lands in `[l.ts, l.ts + horizon)` (e.g. click → purchases
    * within 30 minutes). Written against plain DataFrames, so the same
    * plan runs in batch (exact DuckDB oracle, q51) and as a genuine
    * stream-stream join under `readStream`.
    *
    * Scale: this is the one join family where BOTH sides are unbounded —
    * the watermarks plus the event-time range condition are what make it
    * runnable at all: each side's join state holds only rows younger than
    * watermark − horizon (Spark derives the eviction bound from the range
    * predicate), so state ∝ events per lateness+horizon window per user,
    * constant for a steady stream — never stream history. Without the
    * time-range condition the state is unbounded and the plan should be
    * rejected, not deployed. Inner-join matches emit as they are found
    * (append mode holds back nothing for inner joins), so end-of-stream
    * output equals the batch join exactly. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   horizon: String = "30 minutes",
                   lateness: String = "2 hours"): DataFrame = {
    val l = left.select(col("event_id").as("l_id"), col("user_id").as("l_user"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", lateness)
    val r = right.select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"), col("value").as("r_value"))
      .withWatermark("r_ts", lateness)
    l.join(r,
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") < col("l_ts") + expr(s"INTERVAL $horizon"))
      .select(col("l_id"), col("r_id"), col("l_user").as("user_id"),
        col("l_ts"), col("r_ts"), col("r_value"))
  }

  /** Streaming parquet source over a directory of event files (explicit
    * schema — file streaming sources cannot infer). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Streaming source over the DRIVER's events fixture. A file stream needs
    * a declared schema, and the fixture's physical `ts` encoding has varied
    * across driver generations (TIMESTAMP(NANOS) → long under `nanosAsLong`;
    * TIMESTAMP(MICROS, NTZ) → TIMESTAMP_NTZ) — so peek at the footer with a
    * one-off batch read and declare the matching schema, then normalize to µs
    * TimestampType exactly like [[graft.Tables.events]]. A streaming run over
    * the fixture therefore sees byte-identical timestamps to the batch
    * entries it is compared against (q41). */
  def readEventFixtureStream(spark: SparkSession, dir: String,
                             fileName: String = "events.parquet"): DataFrame = {
    val physicalTs = Parquets.read(spark, s"$dir/$fileName").schema("ts").dataType
    val rawSchema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = physicalTs)
      case f => f
    })
    // the fixture is a single FILE inside the sf directory; a file source
    // needs a directory basePath, so scan the dir with a name filter
    val raw = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", fileName).parquet(dir)
    physicalTs match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
