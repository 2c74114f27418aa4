package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Change-data-capture operators: apply an insert/update/delete changelog
  * to reconstruct the current snapshot (q115), build the SCD type-2
  * validity-interval history (q116), and fold the changelog into a
  * persistent snapshot incrementally, day-batch by day-batch (q121).
  *
  * The reference's bulk-upsert pipeline (src/update/statements.py — the
  * UpdateOne-per-row shape) is the UPSERT half of CDC; what it cannot
  * express is deletes and op ordering: a real changelog interleaves
  * inserts, updates, and deletes per key, possibly out of order within a
  * delivery batch, and "apply" means LAST-WRITER-WINS by change time with
  * tombstone semantics. This family adds that missing half.
  *
  * Fixture changelog: `events` re-read as a change stream — key
  * `user_id`, change time `(ts, event_id)` (event_id de-ties equal
  * timestamps, making the per-key order total), op `D` when
  * `event_type = 'error'` (the pretend account-close event) else `U`,
  * payload `(status = event_type, amount = value)`.
  *
  * Determinism: every aggregate is an integer count or a `max_by` /
  * `min_by` under a TOTAL per-key order — no double arithmetic anywhere,
  * so both engines pick identical rows.
  */
object Cdc {

  /** The shared changelog projection (see class doc). */
  def changelog(events: DataFrame): DataFrame =
    events.select(
      col("user_id"),
      col("ts"),
      col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("event_type").as("status"),
      col("value").as("amount"))

  private val changelogSql: String =
    """SELECT user_id, ts, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    event_type AS status, value AS amount
      |  FROM events""".stripMargin

  /** CDC APPLY — collapse a changelog to the current snapshot: per key
    * the LAST change by `(ts, event_id)` wins; keys whose last change is
    * a delete are absent; per-key op counters ride along as integer
    * audit columns.
    *
    * Scale: ONE hash-partitioned aggregate with map-side partial
    * combine — `max_by(payload, change-time)` folds each partition to
    * one candidate row per key before the exchange, so the shuffle
    * carries |keys| rows, not |changelog| rows. The window formulation
    * the oracle uses (rank per key, keep rn = 1) would sort every
    * partition by key and time instead; at a 100 TB changelog the
    * aggregate form is the difference between a shuffle bounded by the
    * key cardinality and one bounded by the change volume. */
  def applyChangelog(log: DataFrame): DataFrame = {
    val last = struct(col("op"), col("ts"), col("event_id"),
      col("status"), col("amount"))
    val ord = struct(col("ts"), col("event_id"))
    log.groupBy(col("user_id"))
      .agg(
        max_by(last, ord).as("last"),
        count(lit(1)).as("n_ops"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"))
      .filter(col("last.op") =!= "D")
      .select(
        col("user_id"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.status").as("status"),
        col("last.amount").as("amount"),
        col("n_ops"), col("n_deletes"))
  }

  def q115CdcSnapshot(spark: SparkSession, dir: String): DataFrame =
    applyChangelog(changelog(Tables.events(spark, dir)))
      .orderBy(col("user_id"))

  val q115CdcSnapshotSql: String =
    s"""WITH log AS ($changelogSql),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, event_id DESC) AS rn FROM log),
       |agg AS (SELECT user_id, count(*)::BIGINT AS n_ops,
       |        sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)::BIGINT AS n_deletes
       |        FROM log GROUP BY 1)
       |SELECT r.user_id, r.ts AS last_ts, r.event_id AS last_event_id,
       |       r.status, r.amount, agg.n_ops, agg.n_deletes
       |FROM r JOIN agg USING (user_id)
       |WHERE rn = 1 AND op <> 'D'
       |ORDER BY user_id""".stripMargin

  /** SCD TYPE-2 — the full validity-interval history of the same
    * changelog: every upsert opens an interval `[ts, next-change-ts)`
    * (null-open for the key's latest), a delete CLOSES the previous
    * interval without opening one (the tombstone contributes its ts as
    * the predecessor's `valid_to`, then vanishes), and `version` numbers
    * ALL changes per key so history rows stay aligned with the raw log
    * even where deletes punched holes.
    *
    * Scale: one shuffle on the key, one in-partition sort for the
    * window pair (`row_number` + `lead` share the same window frame, so
    * Catalyst evaluates both in a single Window operator — no second
    * exchange, no second sort). History building is the one CDC shape
    * where a per-key sort is irreducible (every change row is output,
    * not just the max), so the window IS the right plan — the q115
    * aggregate trick does not apply. */
  def scd2History(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    log
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .filter(col("op") === "U")
      .select(
        col("user_id"), col("version"),
        col("ts").as("valid_from"), col("valid_to"),
        col("status"), col("amount"),
        col("valid_to").isNull.as("is_current"))
  }

  def q116Scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2History(changelog(Tables.events(spark, dir)))
      .orderBy(col("user_id"), col("version"))

  val q116Scd2HistorySql: String =
    s"""WITH log AS ($changelogSql),
       |v AS (SELECT *,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id)::BIGINT AS version,
       |        lead(ts) OVER (PARTITION BY user_id
       |          ORDER BY ts, event_id) AS valid_to
       |      FROM log)
       |SELECT user_id, version, ts AS valid_from, valid_to, status, amount,
       |       (valid_to IS NULL) AS is_current
       |FROM v WHERE op = 'U'
       |ORDER BY user_id, version""".stripMargin

  /** INCREMENTAL CDC INGEST — q115's apply as the nightly fold a growing
    * snapshot actually runs (the q65 day-harness, CDC edition): the
    * changelog lands in day-ordered batches, each batch collapses to its
    * own per-key last change (`applyChangelog` WITH tombstones kept),
    * then folds into the persistent snapshot with
    *
    *  - last-writer-wins on the payload (the batch is newer by harness
    *    order, so a matched key takes the batch row),
    *  - ADDITIVE op counters (`n_ops`/`n_deletes` sum across the days),
    *  - tombstone RETENTION: a deleted key stays in the snapshot as a
    *    tombstone row so its counters survive a later re-insert — the
    *    final report filters tombstones, reproducing q115 exactly,
    *  - a re-delivery guard: each batch drops rows at or below the
    *    snapshot's global high-water mark `max(ts, event_id)` before
    *    folding, so at-least-once delivery of already-absorbed changes
    *    cannot double-count (day-ordered delivery makes the global
    *    watermark sound: an older-ts change for an unseen key cannot
    *    arrive after its day was processed).
    *
    * Scale: snapshot state lives on disk, not in executor memory; the
    * per-day cost is one batch-local aggregate (shuffle bounded by the
    * batch's key count) plus one key-partitioned full-outer join against
    * the snapshot — the exact shape of
    * [[graft.sinks.MergeSink.mergeInto]], with the watermark read adding
    * a broadcast single-row cross join, never a driver collect. */
  def foldCdcBatch(snapshot: DataFrame, batch: DataFrame): DataFrame = {
    val wm = snapshot.agg(
      max(struct(col("last_ts"), col("last_event_id"))).as("wm"))
    val fresh = batch
      .crossJoin(broadcast(wm))
      .filter(col("wm").isNull ||
        struct(col("ts"), col("event_id")) > col("wm"))
      .drop("wm")
    val delta = fresh.groupBy(col("user_id"))
      .agg(
        max_by(struct(col("op"), col("ts"), col("event_id"),
          col("status"), col("amount")),
          struct(col("ts"), col("event_id"))).as("last"),
        count(lit(1)).as("n_ops"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"))
      .select(
        col("user_id"),
        col("last.op").as("op"),
        col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.status").as("status"),
        col("last.amount").as("amount"),
        col("n_ops"), col("n_deletes"))
    val s = snapshot.as("s")
    val b = delta.as("b")
    s.join(b, s("user_id") === b("user_id"), "full_outer")
      .select(
        coalesce(s("user_id"), b("user_id")).as("user_id"),
        coalesce(b("op"), s("op")).as("op"),
        coalesce(b("last_ts"), s("last_ts")).as("last_ts"),
        coalesce(b("last_event_id"), s("last_event_id")).as("last_event_id"),
        coalesce(b("status"), s("status")).as("status"),
        coalesce(b("amount"), s("amount")).as("amount"),
        (coalesce(s("n_ops"), lit(0L)) + coalesce(b("n_ops"), lit(0L))).as("n_ops"),
        (coalesce(s("n_deletes"), lit(0L)) + coalesce(b("n_deletes"), lit(0L))).as("n_deletes"))
  }

  /** The empty snapshot (schema-complete so the first fold type-checks). */
  def emptySnapshot(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("user_id", LongType),
        StructField("op", StringType),
        StructField("last_ts", TimestampType),
        StructField("last_event_id", LongType),
        StructField("status", StringType),
        StructField("amount", DoubleType),
        StructField("n_ops", LongType),
        StructField("n_deletes", LongType))))
  }

  /** Disk-backed fold: read the persistent snapshot (or start empty),
    * fold `batch` ([[foldCdcBatch]]), publish through the commit-log
    * snapshot state ([[graft.sinks.SnapshotState]] — one commit-file
    * create, rename-free, loud under a concurrent folder). NO batchId
    * ledger, deliberately: the watermark guard IS the replay ledger
    * here — a replayed batch's rows are all at or below the post-fold
    * high-water mark, so the fold no-ops them, and the atomic publish
    * means a crash leaves either the pre- or the post-batch state, both
    * of which the replay handles. Additive state (q85) needs the
    * explicit ledger because it has no identity to guard on; keyed
    * last-writer state carries its own — and it absorbs upstream
    * re-delivered ROWS in a later batch too, which a ledger cannot.
    * The soundness condition is day-ordered delivery: an
    * older-than-watermark change for an unseen key would be wrongly
    * dropped, so batches must arrive in change-time order — which a CDC
    * tap (binlog reader, debezium-style) naturally produces. */
  def cdcIngest(spark: SparkSession, path: String, batch: DataFrame): Unit =
    graft.sinks.SnapshotState.fold(spark, path) { cur =>
      foldCdcBatch(cur.getOrElse(emptySnapshot(spark)), batch)
    }

  /** q122: the SAME fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed day
    * file, landed in day order as [[cdcIngest]] requires; the q87/q112
    * harness shape). Day files 2 and 3 RE-DELIVER a slice of the prior
    * day (q121's harness), so the watermark guard is exercised under
    * streaming delivery too. Final snapshot minus tombstones must equal
    * q115's batch answer — oracle shared verbatim. */
  def q122StreamCdc(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types._
    import graft.streaming.StreamingFold
    val base = java.nio.file.Files.createTempDirectory("graft_q122_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/cdc_state"
      val log = changelog(Tables.events(spark, dir))
      val day = dayofmonth(col("ts"))
      val days = Seq(
        log.filter(day <= 10),
        log.filter(day > 10 && day <= 20)
          .unionByName(log.filter(day <= 10 && col("event_id") % 7 === 0)),
        log.filter(day > 20)
          .unionByName(log.filter(day > 10 && day <= 20 && col("event_id") % 7 === 0)))
      days.zipWithIndex.foreach { case (d, i) =>
        StreamingFold.land(d, srcDir, s"day_$i.parquet")
      }
      val changeSchema = StructType(Seq(
        StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("event_id", LongType), StructField("op", StringType),
        StructField("status", StringType), StructField("amount", DoubleType)))
      StreamingFold.drain(StreamingFold.files(spark, changeSchema, srcDir),
          s"$base/ckpt", "stream_cdc") { (batch, _) =>
        cdcIngest(spark, statePath, batch)
        Nil
      }
      graft.sinks.SnapshotState.read(spark, statePath).get
        .filter(col("op") =!= "D")
        .select(col("user_id"), col("last_ts"), col("last_event_id"),
          col("status"), col("amount"), col("n_ops"), col("n_deletes"))
        .orderBy(col("user_id"))
        .localCheckpoint(true) // materialize before the state dir is deleted
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  val q122StreamCdcSql: String = q115CdcSnapshotSql

  /** q121: three day-ordered batches (the events span January; cut at
    * day 10 and day 20), batches 2 and 3 each RE-DELIVER a slice of the
    * prior batch (every 7th event id) that the watermark guard must
    * absorb as a no-op. Final snapshot minus tombstones must equal
    * q115's batch answer row-for-row — the oracle IS q115's. */
  def q121CdcIngest(spark: SparkSession, dir: String): DataFrame = {
    val log = changelog(Tables.events(spark, dir))
    val day = dayofmonth(col("ts"))
    val b1 = log.filter(day <= 10)
    val b2 = log.filter(day > 10 && day <= 20)
      .unionByName(log.filter(day <= 10 && col("event_id") % 7 === 0))
    val b3 = log.filter(day > 20)
      .unionByName(log.filter(day > 10 && day <= 20 && col("event_id") % 7 === 0))
    val finalSnap = Seq(b1, b2, b3).foldLeft(emptySnapshot(spark)) {
      (snap, batch) => foldCdcBatch(snap, batch).localCheckpoint()
    }
    finalSnap.filter(col("op") =!= "D")
      .select(col("user_id"), col("last_ts"), col("last_event_id"),
        col("status"), col("amount"), col("n_ops"), col("n_deletes"))
      .orderBy(col("user_id"))
  }

  val q121CdcIngestSql: String = q115CdcSnapshotSql
}
