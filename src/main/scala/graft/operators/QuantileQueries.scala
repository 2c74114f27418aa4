package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Kll

/** MERGEABLE QUANTILES ON CONTINUOUS DOMAINS — the [[graft.functions.Kll]]
  * sketch under the driver's gate, closing the house
  * batch → incremental → streamed triple for float metrics.
  *
  * The exact-quantile family (q161–q163) is bounded-domain by
  * construction: [[Audit]] histQuantiles folds an additive e4
  * fixed-point histogram, which a genuinely continuous metric (model
  * loss, embedding norm, latency) cannot use, and the built-in
  * `percentile_approx` is single-shot — not persistable, not mergeable
  * with tomorrow's batch. KLL is the missing state: kilobyte-sized,
  * associative merge, proven rank-error bound.
  *
  * CERTIFICATION (the q50/q104 sketch-gate discipline): a sketch's
  * internals are run-order dependent (Spark's partition merge order is
  * not fixed), so the gates never pin sketch values — they certify
  *  (a) the EXACT anchors the sketch carries losslessly (n, min, max)
  *      against the data, and
  *  (b) for each probe φ ∈ {1,10,25,50,75,90,99}%, that the TRUE rank
  *      of the sketch's φ-estimate sits within a conservative ±3%·n
  *      band (theory: ~1.65% at 99% confidence for k=200) — computed
  *      by re-ranking the estimates against the full column in ONE
  *      broadcast-join pass.
  * A sketch that forgets rows, merges wrong, or serializes lossily
  * fails (a); a sketch whose compaction is biased fails (b).
  *
  * Scale: the sketch aggregation is map-side partials + a log-depth
  * merge (the shuffle carries ~3k-double sketches, never values); the
  * band check broadcasts 7 probe rows against one narrow scan. The
  * incremental state is ONE kilobyte-scale binary row behind the
  * batchId ledger — the 100 TB fold ships kilobytes per day. */
object QuantileQueries {

  private[graft] val KllK = 200
  private[graft] val Band = 0.03
  private val Probes = Seq("p01" -> 0.01, "p10" -> 0.10, "p25" -> 0.25,
    "p50" -> 0.50, "p75" -> 0.75, "p90" -> 0.90, "p99" -> 0.99)

  private def values(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("value"))
      .filter(col("value").isNotNull)

  /** Aggregate a column into one KLL sketch (1-row collect of a
    * kilobyte-scale binary — driver-safe by construction). */
  def kllOf(df: DataFrame, valueCol: String, k: Int = KllK): Kll.KllSketch = {
    val agg = udaf(new Kll.KllAggregator(k))
    Kll.deserialize(
      df.filter(col(valueCol).isNotNull)
        .select(agg(col(valueCol).cast("double")).as("sk"))
        .head().getAs[Array[Byte]]("sk"))
  }

  /** The band-certificate report: exact anchors + per-probe true-rank
    * bands (see object doc). Output (sect, k, ok) — the oracle expects
    * every `ok` true. */
  def kllBandReport(data: DataFrame, valueCol: String, sk: Kll.KllSketch,
                    band: Double = Band): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val d = data.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .localCheckpoint(true) // consumed by the anchors and the band pass
    val est = Probes.map { case (name, p) => (name, p, sk.quantile(p)) }
      .toDF("k", "phi", "est")
    val probes = d.crossJoin(broadcast(est))
      .groupBy(col("k"), col("phi"), col("est"))
      .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("rank_le"),
        count(lit(1)).as("n"))
      .select(lit("quantile").as("sect"), col("k"),
        (abs(col("rank_le") - col("phi") * col("n")) <=
          lit(band) * col("n")).as("ok"))
    val a = d.agg(count(lit(1)).as("cnt"), min(col("v")).as("mn"),
      max(col("v")).as("mx"))
    val anchors = Seq(
      a.select(lit("anchor").as("sect"), lit("n").as("k"),
        (col("cnt") === lit(sk.n)).as("ok")),
      a.select(lit("anchor").as("sect"), lit("min").as("k"),
        (col("mn") === lit(sk.minV)).as("ok")),
      a.select(lit("anchor").as("sect"), lit("max").as("k"),
        (col("mx") === lit(sk.maxV)).as("ok")))
      .reduce(_ unionByName _)
    anchors.unionByName(probes).orderBy(col("sect"), col("k"))
  }

  /** q205: the BATCH gate — one KLL fold over the clickstream's
    * continuous `value` column, band-certified against exact ranks. */
  def q205KllBatch(spark: SparkSession, dir: String): DataFrame = {
    val d = values(spark, dir)
    kllBandReport(d, "value", kllOf(d, "value"))
  }

  val q205KllBatchSql: String =
    """SELECT * FROM (VALUES
      |  ('anchor', 'max', true), ('anchor', 'min', true),
      |  ('anchor', 'n', true),
      |  ('quantile', 'p01', true), ('quantile', 'p10', true),
      |  ('quantile', 'p25', true), ('quantile', 'p50', true),
      |  ('quantile', 'p75', true), ('quantile', 'p90', true),
      |  ('quantile', 'p99', true)) t(sect, k, ok)
      |ORDER BY sect, k""".stripMargin

  /** INCREMENTAL KLL STATE — the sketch folded per batch behind the
    * batchId ledger ([[graft.sinks.LedgeredState]]): state is ONE
    * binary row; each batch aggregates its own sketch (map-side
    * partials) and merges it into the snapshot — the mergeability the
    * exact-histogram path has for bounded domains, restored for
    * continuous ones. Whole-batch replays are ledger no-ops. */
  def kllIngest(spark: SparkSession, path: String, batch: DataFrame,
                valueCol: String, batchId: String,
                k: Int = KllK,
                beforePublish: () => Unit = () => ()): Boolean = {
    import graft.sinks.LedgeredState
    import spark.implicits._
    val bsk = kllOf(batch, valueCol, k) // state-independent: fold once
    // contention-safe fold: the merge re-derives against exactly the
    // head each publish attempt CAS-checks, so a racing writer's
    // contribution is never dropped (q217) and a racing duplicate of
    // the SAME batch resolves to one fold
    LedgeredState.commitFold(spark, path, batchId,
      beforePublish = beforePublish) { snap =>
      val merged = snap.part("kll") match {
        case Some(st) =>
          // 1-row kilobyte state — driver-safe by construction; merge
          // mutates the DESERIALIZED copy, never bsk (retry-safe)
          Kll.deserialize(st.head().getAs[Array[Byte]]("sk")).merge(bsk)
        case None => bsk
      }
      Seq("kll" -> Seq(merged.serialize()).toDF("sk"))
    }
  }

  /** The committed state's sketch (for reports and the gates). */
  def kllFromState(spark: SparkSession, path: String): Kll.KllSketch = {
    import graft.sinks.LedgeredState
    Kll.deserialize(LedgeredState.readPart(spark, path, "kll")
      .getOrElse(throw new IllegalStateException(
        s"no KLL state committed at $path"))
      .head().getAs[Array[Byte]]("sk"))
  }

  /** q206: the KLL fold INCREMENTAL — the clickstream in two
    * event-id-parity batches (both straddle the value range, so a
    * per-batch sketch provably differs from the merged one), a
    * whole-batch replay proven a ledger no-op, and the report derived
    * from the SNAPSHOT sketch band-checked against the full column.
    * Oracle IS q205's verbatim. */
  def q206KllIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q206_")
    val fs = new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val path = s"$base/kll_state"
      val ev = Tables.events(spark, dir)
      val halves = Seq(
        ev.filter(col("event_id") % 2 === 0L),
        ev.filter(col("event_id") % 2 =!= 0L))
      halves.zipWithIndex.foreach { case (h, i) =>
        require(kllIngest(spark, path, h, "value", s"day_$i"),
          s"day_$i must apply")
      }
      // at-least-once: replaying day 0 wholesale is a ledger no-op
      require(!kllIngest(spark, path, halves.head, "value", "day_0"),
        "replay must be a ledger no-op")
      kllBandReport(values(spark, dir), "value", kllFromState(spark, path))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally fs.delete(new Path(base.toString), true)
  }

  def q206KllIngestSql: String = q205KllBatchSql

  // ---------------------------------------------------------------------
  // GROUPED KLL — per-stratum continuous-domain quantiles (the
  // exact-histogram family has per-stratum q161; this restores it for
  // float metrics): one sketch per group via the same Aggregator under
  // groupBy().agg(udaf), map-side partials per (partition, stratum),
  // the shuffle carries ≤ |strata| kilobyte sketches.
  // ---------------------------------------------------------------------

  /** One KLL sketch per group (≤ |strata| kilobyte rows collected —
    * driver-safe by construction; strata are event types / languages,
    * never keys). */
  def kllByGroup(df: DataFrame, groupCol: String, valueCol: String,
                 k: Int = KllK): Map[String, Kll.KllSketch] = {
    val agg = udaf(new Kll.KllAggregator(k))
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(agg(col(valueCol).cast("double")).as("sk"))
      .collect()
      .map(r => r.getString(0) -> Kll.deserialize(r.getAs[Array[Byte]]("sk")))
      .toMap
  }

  /** [[kllBandReport]] per stratum: exact anchors (n, min, max per
    * group) + per-probe true-rank bands, all groups certified in ONE
    * broadcast-join pass over the column (|strata|×7 probe rows — the
    * data never shuffles per group). Output (groupCol, sect, k, ok). */
  def kllBandReportByGroup(data: DataFrame, groupCol: String,
                           valueCol: String,
                           sks: Map[String, Kll.KllSketch],
                           band: Double = Band): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val d = data.select(col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && col("g").isNotNull)
      .localCheckpoint(true) // consumed by the anchors and the band pass
    val est = sks.toSeq.flatMap { case (g, sk) =>
      Probes.map { case (name, p) => (g, name, p, sk.quantile(p)) }
    }.toDF("g", "k", "phi", "est")
    val probes = d.join(broadcast(est), Seq("g"))
      .groupBy(col("g"), col("k"), col("phi"), col("est"))
      .agg(sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("rank_le"),
        count(lit(1)).as("n"))
      .select(col("g"), lit("quantile").as("sect"), col("k"),
        (abs(col("rank_le") - col("phi") * col("n")) <=
          lit(band) * col("n")).as("ok"))
    val skAnchors = sks.toSeq.map { case (g, sk) => (g, sk.n, sk.minV, sk.maxV) }
      .toDF("g", "sk_n", "sk_mn", "sk_mx")
    val a = d.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
      .join(broadcast(skAnchors), Seq("g"), "full_outer")
      .localCheckpoint(true) // three anchor projections below
    val anchors = Seq(
      a.select(col("g"), lit("anchor").as("sect"), lit("n").as("k"),
        (col("cnt") === col("sk_n")).as("ok")),
      a.select(col("g"), lit("anchor").as("sect"), lit("min").as("k"),
        (col("mn") === col("sk_mn")).as("ok")),
      a.select(col("g"), lit("anchor").as("sect"), lit("max").as("k"),
        (col("mx") === col("sk_mx")).as("ok")))
      .reduce(_ unionByName _)
    anchors.unionByName(probes)
      .select(col("g").as(groupCol), col("sect"), col("k"),
        coalesce(col("ok"), lit(false)).as("ok"))
      .orderBy(col(groupCol), col("sect"), col("k"))
  }

  /** q210: the grouped BATCH gate — one KLL per event type over the
    * clickstream's continuous `value`, every stratum band-certified
    * against its own exact ranks (a sketch that mixes strata, loses a
    * group, or merges across groups fails its group's anchors). */
  def q210KllByType(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    kllBandReportByGroup(ev, "event_type", "value",
      kllByGroup(ev, "event_type", "value"))
  }

  val q210KllByTypeSql: String =
    """SELECT t.event_type, v.sect, v.k, TRUE AS ok
      |FROM (SELECT DISTINCT event_type FROM events
      |      WHERE value IS NOT NULL AND event_type IS NOT NULL) t,
      |     (VALUES ('anchor', 'max'), ('anchor', 'min'), ('anchor', 'n'),
      |             ('quantile', 'p01'), ('quantile', 'p10'),
      |             ('quantile', 'p25'), ('quantile', 'p50'),
      |             ('quantile', 'p75'), ('quantile', 'p90'),
      |             ('quantile', 'p99')) v(sect, k)
      |ORDER BY event_type, sect, k""".stripMargin

  /** INCREMENTAL grouped KLL behind the batchId ledger — the state is
    * ONE (group, sketch) row per stratum; each batch folds its own
    * per-group sketches into the snapshot (driver-side merge over
    * ≤ |strata| kilobyte rows). Whole-batch replays are ledger no-ops. */
  def kllIngestByGroup(spark: SparkSession, path: String, batch: DataFrame,
                       groupCol: String, valueCol: String, batchId: String,
                       k: Int = KllK): Boolean = {
    import graft.sinks.LedgeredState
    import spark.implicits._
    val bsk = kllByGroup(batch, groupCol, valueCol, k) // state-independent
    LedgeredState.commitFold(spark, path, batchId) { snap =>
      val old = snap.part("kll_by_group") match {
        case Some(st) => st.collect() // ≤ |strata| kilobyte rows
          .map(r => r.getString(0) -> Kll.deserialize(r.getAs[Array[Byte]](1)))
          .toMap
        case None => Map.empty[String, Kll.KllSketch]
      }
      val merged = (old.keySet ++ bsk.keySet).toSeq.sorted.map { g =>
        val m = (old.get(g), bsk.get(g)) match {
          // merge into the state-side copy (fresh each attempt), never
          // into bsk's sketches — a retry must not double-fold
          case (Some(a), Some(b)) => a.merge(b)
          case (Some(a), None) => a
          case (None, Some(b)) => b
          case _ => Kll.empty(k) // unreachable
        }
        (g, m.serialize())
      }
      Seq("kll_by_group" -> merged.toDF("g", "sk"))
    }
  }

  /** The committed per-group sketches (for reports and the gates). */
  def kllByGroupFromState(spark: SparkSession,
                          path: String): Map[String, Kll.KllSketch] = {
    import graft.sinks.LedgeredState
    LedgeredState.readPart(spark, path, "kll_by_group")
      .getOrElse(throw new IllegalStateException(
        s"no grouped KLL state committed at $path"))
      .collect() // ≤ |strata| kilobyte rows
      .map(r => r.getString(0) -> Kll.deserialize(r.getAs[Array[Byte]](1)))
      .toMap
  }

  /** q211: the grouped fold INCREMENTAL — two event-id-parity batches
    * (every stratum straddles both), a whole-batch replay proven a
    * ledger no-op, and the report derived from the SNAPSHOT sketches
    * band-checked per stratum. Oracle IS q210's verbatim. */
  def q211KllByTypeIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q211_")
    val fs = new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val path = s"$base/kll_state"
      val ev = Tables.events(spark, dir)
      val halves = Seq(
        ev.filter(col("event_id") % 2 === 0L),
        ev.filter(col("event_id") % 2 =!= 0L))
      halves.zipWithIndex.foreach { case (h, i) =>
        require(kllIngestByGroup(spark, path, h, "event_type", "value",
          s"day_$i"), s"day_$i must apply")
      }
      require(!kllIngestByGroup(spark, path, halves.head, "event_type",
        "value", "day_0"), "replay must be a ledger no-op")
      kllBandReportByGroup(ev, "event_type", "value",
          kllByGroupFromState(spark, path))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally fs.delete(new Path(base.toString), true)
  }

  def q211KllByTypeIngestSql: String = q210KllByTypeSql

  /** q212: the q211 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed
    * parity file). Per-stratum tail dashboards (per-event-type latency,
    * per-language loss) read the snapshot sketches instead of
    * re-scanning the corpus. Oracle IS q210's — the per-stratum
    * continuous-quantile triple closes. */
  def q212StreamKllByType(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
      import graft.streaming.{EventStreams, StreamingFold}
      val base = java.nio.file.Files.createTempDirectory("graft_q212_")
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(base.toString).getFileSystem(conf)
      try {
        val srcDir = s"$base/arrivals"
        val statePath = s"$base/kll_state"
        val ev = Tables.events(spark, dir)
        StreamingFold.land(ev.filter(col("event_id") % 2 === 0L), srcDir, "half_0.parquet")
        StreamingFold.land(ev.filter(col("event_id") % 2 =!= 0L), srcDir, "half_1.parquet")
        StreamingFold.drain(StreamingFold.files(spark, EventStreams.eventSchema, srcDir),
            s"$base/ckpt", "stream_kll_by_group") { (batch, batchId) =>
          StreamingFold.applied(kllIngestByGroup(spark, statePath, batch,
            "event_type", "value", s"batch_$batchId"))
        }
        kllBandReportByGroup(ev, "event_type", "value",
            kllByGroupFromState(spark, statePath))
          .localCheckpoint(true) // materialize before the state dir dies
      } finally fs.delete(new Path(base.toString), true)
    }

  def q212StreamKllByTypeSql: String = q210KllByTypeSql

  /** q207: the q206 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed
    * parity file). Tail-latency/loss dashboards read the snapshot
    * sketch instead of re-scanning the corpus. Oracle IS q205's — the
    * continuous-quantile triple closes. */
  def q207StreamKll(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
      import graft.streaming.{EventStreams, StreamingFold}
      val base = java.nio.file.Files.createTempDirectory("graft_q207_")
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(base.toString).getFileSystem(conf)
      try {
        val srcDir = s"$base/arrivals"
        val statePath = s"$base/kll_state"
        val ev = Tables.events(spark, dir)
        StreamingFold.land(ev.filter(col("event_id") % 2 === 0L), srcDir, "half_0.parquet")
        StreamingFold.land(ev.filter(col("event_id") % 2 =!= 0L), srcDir, "half_1.parquet")
        StreamingFold.drain(StreamingFold.files(spark, EventStreams.eventSchema, srcDir),
            s"$base/ckpt", "stream_kll") { (batch, batchId) =>
          StreamingFold.applied(
            kllIngest(spark, statePath, batch, "value", s"batch_$batchId"))
        }
        kllBandReport(values(spark, dir), "value",
            kllFromState(spark, statePath))
          .localCheckpoint(true) // materialize before the state dir dies
      } finally fs.delete(new Path(base.toString), true)
    }

  def q207StreamKllSql: String = q205KllBatchSql

  /** q217: LEDGERED-FOLD WRITER CONTENTION — the q209/q214 interleave
    * applied to the additive-state family: day 0 seeds the sketch
    * state; then writer A (one event-id third) has its merge DERIVED
    * against the day-0 head and, BEFORE A publishes, writer B (another
    * third) commits through the seam. A's CAS loses and
    * [[graft.sinks.LedgeredState.commitFold]] re-derives A's merge from
    * B's head — the final sketch holds every batch exactly once. The
    * gate is the q205 band report on the snapshot sketch: its `n`
    * anchor is EXACT, so a dropped fold (B's contribution overwritten
    * by A's stale derivation — what plain commit would do) or a
    * doubled one fails the hash outright. */
  def q217KllContention(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q217_")
    val fs = new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val path = s"$base/kll_state"
      val ev = Tables.events(spark, dir)
      val day0 = ev.filter(col("event_id") % 3 === 0L)
      val dayA = ev.filter(col("event_id") % 3 === 1L)
      val dayB = ev.filter(col("event_id") % 3 === 2L)
      require(kllIngest(spark, path, day0, "value", "day_0"))
      require(kllIngest(spark, path, dayA, "value", "day_A",
        beforePublish = () => {
          require(kllIngest(spark, path, dayB, "value", "day_B"),
            "writer B must land through the seam")
        }), "writer A must land after re-deriving")
      kllBandReport(values(spark, dir), "value", kllFromState(spark, path))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally fs.delete(new Path(base.toString), true)
  }

  def q217KllContentionSql: String = q205KllBatchSql
}
