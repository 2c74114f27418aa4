package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality audits (north-star mandate — the reference trusts its
  * inputs; a 100 TB pipeline cannot: a nightly rebuild wants referential
  * integrity and per-column profiles asserted BEFORE training jobs
  * consume the snapshot, the same gate-first posture the reference's
  * row-count accounting gestures at, made relational).
  *
  * Both operators are pure aggregates: their output is O(#relationships)
  * or O(#columns) rows regardless of corpus size, and every emitted
  * number is an integer — no float hazards anywhere in the family.
  */
object Audit {

  /** One audit row for `child(fkCol) → parent(pkCol)`: child cardinality,
    * NULL foreign keys, and orphans (non-null keys with no parent).
    *
    * Scale: keys project FIRST (the anti join never carries payload
    * columns), and the parent side deduplicates to its key set before
    * joining — a dimension-sized parent broadcasts, a fact-sized parent
    * shuffles only keys. The three counts ride one aggregate over the
    * anti-join-annotated child keys. */
  def fkAudit(child: DataFrame, fkCol: String, parent: DataFrame, pkCol: String,
              label: String): DataFrame = {
    val keys = child.select(col(fkCol).as("fk"))
    val parents = parent.select(col(pkCol).as("pk")).distinct()
    val orphans = keys.filter(col("fk").isNotNull)
      .join(parents, col("fk") === col("pk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    val base = keys.agg(count(lit(1)).as("n_child"),
      sum(when(col("fk").isNull, 1L).otherwise(0L)).as("n_null_fk"))
    base.crossJoin(orphans)
      .select(lit(label).as("fk"), col("n_child"), col("n_null_fk"),
        col("n_orphans"), (col("n_null_fk") === 0L && col("n_orphans") === 0L).as("intact"))
  }

  /** q101: the referential-integrity audit of the whole TPC-H-ish
    * schema — all seven real foreign keys plus one DELIBERATELY broken
    * derived relation (parent = orders minus `o_orderkey % 7 = 3`, the
    * q82 plant-your-own-fixture pattern) so the gate proves the orphan
    * counter counts, not just that the fixture is clean. */
  def q101FkAudit(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val checks = Seq(
      fkAudit(orders, "o_custkey", Tables.customer(spark, dir), "c_custkey",
        "orders.o_custkey->customer"),
      fkAudit(li, "l_orderkey", orders, "o_orderkey", "lineitem.l_orderkey->orders"),
      fkAudit(li, "l_partkey", Tables.part(spark, dir), "p_partkey",
        "lineitem.l_partkey->part"),
      fkAudit(li, "l_suppkey", Tables.supplier(spark, dir), "s_suppkey",
        "lineitem.l_suppkey->supplier"),
      fkAudit(Tables.customer(spark, dir), "c_nationkey", Tables.nation(spark, dir),
        "n_nationkey", "customer.c_nationkey->nation"),
      fkAudit(Tables.supplier(spark, dir), "s_nationkey", Tables.nation(spark, dir),
        "n_nationkey", "supplier.s_nationkey->nation"),
      fkAudit(Tables.nation(spark, dir), "n_regionkey", Tables.region(spark, dir),
        "r_regionkey", "nation.n_regionkey->region"),
      fkAudit(li, "l_orderkey", orders.filter(col("o_orderkey") % 7 =!= 3),
        "o_orderkey", "planted.l_orderkey->orders_subset"))
    checks.reduce(_ unionByName _).orderBy(col("fk"))
  }

  val q101FkAuditSql: String = {
    def check(label: String, childT: String, fk: String,
              parentT: String, pk: String): String =
      s"""SELECT '$label' AS fk,
         |  (SELECT count(*) FROM $childT)::BIGINT AS n_child,
         |  (SELECT count(*) FROM $childT WHERE $fk IS NULL)::BIGINT AS n_null_fk,
         |  (SELECT count(*) FROM $childT ch WHERE ch.$fk IS NOT NULL
         |     AND NOT EXISTS (SELECT 1 FROM $parentT p WHERE p.$pk = ch.$fk))::BIGINT AS n_orphans,
         |  ((SELECT count(*) FROM $childT WHERE $fk IS NULL) = 0 AND
         |   (SELECT count(*) FROM $childT ch WHERE ch.$fk IS NOT NULL
         |      AND NOT EXISTS (SELECT 1 FROM $parentT p WHERE p.$pk = ch.$fk)) = 0) AS intact""".stripMargin
    Seq(
      check("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      check("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      check("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      check("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      check("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      check("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      check("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      check("planted.l_orderkey->orders_subset", "lineitem", "l_orderkey",
        "(SELECT * FROM orders WHERE o_orderkey % 7 != 3)", "o_orderkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
  }

  /** ONE-PASS column profile of a frame: per column, row count, NULL
    * count, and EXACT distinct cardinality — the pre-flight snapshot
    * audit (schema drift shows up as a distinct-count cliff or a NULL
    * spike before it shows up as a training regression).
    *
    * Scale: a naive profiler runs one query per column (N scans); this
    * is a SINGLE aggregate — Spark plans multi-column `count(DISTINCT)`
    * with one Expand (×#columns row replication of the projected
    * columns only) and partial aggregation, so the table is scanned
    * once no matter how many columns are profiled. The single result
    * row then unpivots to one row per column (stack — driver never sees
    * data). */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        count_distinct(col(c)).as(s"dist_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column_name"), col(s"null_$c").as("n_null"),
        col(s"dist_$c").as("n_distinct"))
    }
    one.select(col("n_rows"), explode(array(stacked: _*)).as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_null"),
        col("p.n_distinct"))
      .orderBy(col("column_name"))
  }

  /** The SKETCH path of [[columnProfile]] for high-cardinality columns:
    * the same one-pass shape with `approx_count_distinct` (HLL++,
    * mergeable, constant memory per column) computed ALONGSIDE the
    * exact distinct. At 100 TB the exact Expand pass is what you run
    * when you need the truth; the HLL pass is what you run nightly —
    * this operator certifies the sketch against the exact answer
    * (q50's band pattern: the gate emits exact anchors plus a literal
    * TRUE the oracle can assert), so swapping the profiler to
    * sketch-only is a measured decision, not a hope. Band: 5·rsd
    * relative (HLL++ standard error is rsd; 5σ makes the fixed-fixture
    * boolean a property, not a flake) with a +5 absolute floor for
    * tiny cardinalities. */
  def columnProfileSketch(df: DataFrame, cols: Seq[String],
                          rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "columnProfileSketch needs at least one column")
    // One single-distinct aggregate PER column, unioned, instead of one
    // multi-distinct aggregate over all of them: k distinct aggregates in
    // one Aggregate force Catalyst's Expand rewrite — every input row is
    // replicated k+1 times (all columns carried, mostly null) through two
    // shuffled aggregates. A single distinct child per branch plans
    // without Expand (partial dedup on the value, then count), each
    // branch's parquet scan reads ONLY its own column, and the k branches
    // are independent leaf stages the scheduler runs concurrently — so
    // total IO equals one full scan and no row is ever replicated.
    val nRows = df.agg(count(lit(1)).as("n_rows"))
    val perCol = cols.map { c =>
      df.select(col(c)).agg(
          count_distinct(col(c)).as("n_distinct"),
          approx_count_distinct(col(c), rsd).as("approx"))
        .select(lit(c).as("column_name"), col("n_distinct"),
          (abs(col("approx") - col("n_distinct")).cast("double") <=
            greatest(lit(5.0), lit(5.0 * rsd) * col("n_distinct").cast("double")))
            .as("approx_in_band"))
    }.reduce(_ unionAll _)
    perCol.crossJoin(broadcast(nRows))
      .select(col("column_name"), col("n_rows"), col("n_distinct"),
        col("approx_in_band"))
      .orderBy(col("column_name"))
  }

  /** q104: the sketch-certified profile of `lineitem` — cardinalities
    * from 3 (returnflag) to ~n_rows/4 (orderkey) in one scan. */
  def q104ProfileSketch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    columnProfileSketch(li, li.columns.toSeq.sorted)
  }

  val q104ProfileSketchSql: String = {
    val cols = Seq("l_discount", "l_extendedprice", "l_linenumber", "l_linestatus",
      "l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate",
      "l_suppkey", "l_tax")
    val aggs = cols.map(c => s"count(DISTINCT $c)::BIGINT AS dist_$c").mkString(",\n  ")
    val rows = cols.map { c =>
      s"SELECT '$c' AS column_name, n_rows, dist_$c AS n_distinct, TRUE AS approx_in_band FROM s"
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT count(*)::BIGINT AS n_rows,
       |  $aggs
       |  FROM lineitem)
       |$rows
       |ORDER BY column_name""".stripMargin
  }

  /** PROFILE-DRIVEN ANOMALY GATE over an event stream's ingest days:
    * per-day row count and exact distinct-user count, plus low/high
    * volume anomaly flags against the corpus-wide mean — the check a
    * nightly ingest runs BEFORE publishing a snapshot ("did a source
    * go dark / double-deliver yesterday?").
    *
    * Determinism discipline: the flags are integer cross-
    * multiplications — `low ⇔ lowDen·n·D < lowNum·T` (n below
    * lowNum/lowDen of the mean daily volume) and
    * `high ⇔ highDen·n·D > highNum·T` — no division anywhere, so both
    * engines agree exactly on every flag, always (the q96 numerator
    * discipline applied to thresholds).
    *
    * Scale: one map-side count aggregate to an O(#days) frame, a
    * 1-row totals fold broadcast back, narrow flag arithmetic. The
    * stream is scanned once; nothing else moves. Overflow: n·D fits
    * BIGINT until ~10¹⁴ daily rows × 10⁴ days. */
  def dayAnomalies(events: DataFrame, tsCol: Column, userCol: Column,
                   lowNum: Int = 1, lowDen: Int = 2,
                   highNum: Int = 2, highDen: Int = 1): DataFrame =
    anomalyTail(events
      .groupBy(to_date(tsCol).as("day"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(userCol).as("n_users")),
      lowNum, lowDen, highNum, highDen)

  /** The anomaly comparator over a prepared per-day
    * (day, n_events, n_users) frame — shared by the batch scan and the
    * state-derived paths so every gate flags with ONE rule. Exact
    * cross-multiplied integer comparisons, never a mean/float. */
  private def anomalyTail(perDay: DataFrame, lowNum: Int, lowDen: Int,
                          highNum: Int, highDen: Int): DataFrame = {
    val tot = perDay.agg(count(lit(1)).as("n_days"),
      sum(col("n_events")).as("total_events"))
    perDay.crossJoin(broadcast(tot))
      .select(col("day"), col("n_events"), col("n_users"),
        (col("n_events") * col("n_days") * lowDen <
          col("total_events") * lowNum).as("low_anomaly"),
        (col("n_events") * col("n_days") * highDen >
          col("total_events") * highNum).as("high_anomaly"))
      .orderBy(col("day"))
  }

  /** INCREMENTAL DAY-ANOMALY STATE — per-(day, user) event counts,
    * folded per batch with the batchId ledger. The key-level grain is
    * the point (the q189 Unique argument over again): per-day DISTINCT
    * users are not additive across batches that split a day — a user
    * active in both halves would double-count — but per-(day, user)
    * counts are, and both report columns derive from them exactly
    * (n_events = Σc, n_users = row count). State size = days ×
    * active-users-per-day, type-bounded like the vocab family. Row
    * duplicates across batches are the upstream's to prevent — and are
    * precisely what the HIGH detector exists to flag when they happen
    * at day scale. */
  def anomalyIngest(spark: SparkSession, path: String, batch: DataFrame,
                    tsCol: Column, userCol: Column, batchId: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val b = batch.groupBy(to_date(tsCol).as("day"), userCol.as("user_id"))
      .agg(count(lit(1)).as("c"))
    val merged = LedgeredState.readPart(spark, path, "day_user") match {
      case Some(st) => st.unionByName(b).groupBy(col("day"), col("user_id"))
        .agg(sum(col("c")).as("c"))
      case None => b
    }
    LedgeredState.commit(spark, path, batchId, Seq("day_user" -> merged))
    true
  }

  /** The anomaly report off the persistent state — state-sized math. */
  def anomaliesFromState(dayUser: DataFrame,
                         lowNum: Int = 1, lowDen: Int = 2,
                         highNum: Int = 2, highDen: Int = 1): DataFrame =
    anomalyTail(dayUser.groupBy(col("day"))
        .agg(sum(col("c")).as("n_events"), count(lit(1)).as("n_users")),
      lowNum, lowDen, highNum, highDen)

  /** q107's planted-defect event view (day 3 dark, day 27 delivered
    * thrice), shared by the batch gate and the incremental/streamed
    * ones. */
  private[graft] def anomalyFixture(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val keep = lit(TrainingData.rateThreshold(DropKeep))
    val dropped = ev.filter(dayofmonth(col("ts")) =!= DropDay ||
      TrainingData.hashBucket(col("event_id"), "evdrop") < keep)
    val dup = ev.filter(dayofmonth(col("ts")) === DupDay)
    dropped.unionAll(dup).unionAll(dup)
  }

  /** q197: the anomaly monitor INCREMENTAL — q107's planted-defect view
    * folded in two batches split by EVENT-ID PARITY, the adversarial
    * split: every day and most USERS straddle both batches, so a
    * per-batch distinct-user count provably double-counts and only the
    * (day, user) state grain survives; whole-batch replay must no-op
    * via the ledger. Oracle IS q107's verbatim. */
  def q197AnomalyIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q197_")
    try {
      val path = s"$base/anomaly_state"
      val v = anomalyFixture(spark, dir)
      def ingest(d: DataFrame, id: String): Boolean =
        anomalyIngest(spark, path, d, col("ts"), col("user_id"), id)
      require(ingest(v.filter(col("event_id") % 2 === 0L), "even"))
      require(ingest(v.filter(col("event_id") % 2 =!= 0L), "odd"))
      require(!ingest(v.filter(col("event_id") % 2 =!= 0L), "odd"),
        "replayed batch must be a ledger no-op")
      anomaliesFromState(LedgeredState.readPart(spark, path, "day_user").get)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q107's. */
  def q197AnomalyIngestSql: String = q107DayAnomalySql

  /** q198: the q197 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed
    * file; the two parity files are each day-straddling, so the stream
    * exercises the same adversarial grain). The delivery monitor that
    * flags a source going dark or a duplicating upstream WHILE the day
    * lands. Oracle IS q107's — the anomaly family's triple closes. */
  def q198StreamAnomaly(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import graft.sinks.LedgeredState
    import graft.streaming.{EventStreams, StreamingFold}
    val base = java.nio.file.Files.createTempDirectory("graft_q198_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/anomaly_state"
      val v = anomalyFixture(spark, dir)
      StreamingFold.land(v.filter(col("event_id") % 2 === 0L), srcDir, "half_0.parquet")
      StreamingFold.land(v.filter(col("event_id") % 2 =!= 0L), srcDir, "half_1.parquet")
      StreamingFold.drain(StreamingFold.files(spark, EventStreams.eventSchema, srcDir),
          s"$base/ckpt", "stream_anomaly") { (batch, batchId) =>
        StreamingFold.applied(anomalyIngest(spark, statePath, batch,
          col("ts"), col("user_id"), s"batch_$batchId"))
      }
      anomaliesFromState(LedgeredState.readPart(spark, statePath, "day_user").get)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  def q198StreamAnomalySql: String = q107DayAnomalySql

  private val DropDay = 3
  private val DropKeep = 0.3
  private val DupDay = 27

  /** q107: [[dayAnomalies]] over the events fixture with PLANTED
    * defects (the q101 non-vacuity pattern): day 3 keeps only a seeded
    * 30% of its events (a source going dark mid-day) and day 27 is
    * delivered three times (a duplicating upstream). The gate proves
    * both detectors fire — exactly day 3 low, exactly day 27 high at
    * both fixture scales (measured: 100 vs the ~174 low cut, 1023 vs
    * the ~696 high cut at sf0.01) — and that clean days stay silent. */
  def q107DayAnomaly(spark: SparkSession, dir: String): DataFrame =
    dayAnomalies(anomalyFixture(spark, dir), col("ts"), col("user_id"))

  val q107DayAnomalySql: String = {
    val thr = TrainingData.rateThreshold(DropKeep)
    s"""WITH v AS (
       |  SELECT * FROM events WHERE date_part('day', ts) != $DropDay
       |    OR ('0x' || substring(md5('evdrop:' || event_id), 1, 8))::BIGINT < $thr
       |  UNION ALL SELECT * FROM events WHERE date_part('day', ts) = $DupDay
       |  UNION ALL SELECT * FROM events WHERE date_part('day', ts) = $DupDay),
       |d AS (SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_events,
       |        count(DISTINCT user_id)::BIGINT AS n_users FROM v GROUP BY 1),
       |t AS (SELECT count(*)::BIGINT AS n_days, sum(n_events)::BIGINT AS total_events FROM d)
       |SELECT day, n_events, n_users,
       |  (n_events * n_days * 2 < total_events * 1) AS low_anomaly,
       |  (n_events * n_days * 1 > total_events * 2) AS high_anomaly
       |FROM d, t ORDER BY day""".stripMargin
  }

  /** q102: the profile of `orders` — every column, exact counts. */
  def q102ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    columnProfile(orders, orders.columns.toSeq)
  }

  val q102ColumnProfileSql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val aggs = cols.map { c =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_$c, count(DISTINCT $c)::BIGINT AS dist_$c"
    }.mkString(",\n  ")
    val rows = cols.map { c =>
      s"SELECT '$c' AS column_name, n_rows, null_$c AS n_null, dist_$c AS n_distinct FROM s"
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (SELECT count(*)::BIGINT AS n_rows,
       |  $aggs
       |  FROM orders)
       |$rows
       |ORDER BY column_name""".stripMargin
  }

  // q144 parameters: jackknife group count + metric fixed-point scales.
  private val JkBuckets = 32
  private val JkSeed = "jack"

  /** METRIC UNCERTAINTY via delete-group jackknife — a corpus report
    * that says "mean quality is 0.6931 ± 0.0004", not just the point
    * estimate: partition documents into [[JkBuckets]] seeded hash
    * groups, recompute the mean with each group deleted, and fold the
    * leave-one-out spread into a standard error,
    *
    *   se² = (B−1)/B · Σ_b (θ₍b₎ − θ)²,   θ₍b₎ = (S−s_b)/(N−n_b),
    *
    * (the delete-group jackknife of Shao & Tu 1995, with the full-
    * sample θ as the center — the common practical form, and the form
    * this operator CONTRACTS in its output columns). The release-audit
    * use: a nightly snapshot whose mean quality moved 3 standard
    * errors is a real shift, not bucket noise — q96's drift gate with
    * an uncertainty floor under it.
    *
    * Determinism — integers end to end: the per-doc metric is qe4
    * (quality·10⁴, exact — the rounded-4dp double times an exact power
    * of ten, rounded once), group sums are integer aggregates, every
    * mean is integer floor division in micro-qe4 units (quality·10¹⁰ —
    * divide emitted values by 10¹⁰ to read them as quality), the spread
    * is Σ of squared integer deviations (bounded: |d| ≤ 10¹⁰ even at
    * full qe4 range, so Σ_32 d² < 2⁶³), and the final sqrt is one
    * correctly-rounded IEEE op on an integer — identical everywhere.
    *
    * Scale: ONE corpus scan into a 32-row map-side-partial groupBy;
    * everything after runs on the 32-row frame (window + 1-row
    * aggregate, broadcast back). Output is B rows regardless of corpus
    * size — the family invariant. */
  def jackknifeQuality(docs: DataFrame, idCol: String,
                       qualityCol: String): DataFrame = {
    val qe4 = round(col(qualityCol) * 10000).cast("long")
    jackknifeFromGroups(docs
      .select(TrainingData.hashBucket(col(idCol), JkSeed)
          .mod(JkBuckets.toLong).as("bucket"),
        qe4.as("qe4"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qe4")).as("sum_qe4")))
  }

  /** The jackknife tail over prepared per-bucket integer sums
    * `(bucket, n_docs, sum_qe4)` — shared by the direct scan (q144)
    * and the moments-snapshot derivation (q152). */
  private[operators] def jackknifeFromGroups(grouped: DataFrame): DataFrame = {
    val tot = grouped.agg(sum(col("n_docs")).as("n_total"),
      sum(col("sum_qe4")).as("s_total"))
    val loo = grouped.crossJoin(broadcast(tot))
      .withColumn("loo_mean_micro",
        expr("((s_total - sum_qe4) * 1000000) div (n_total - n_docs)"))
      .withColumn("theta_micro", expr("(s_total * 1000000) div n_total"))
      .withColumn("d", col("loo_mean_micro") - col("theta_micro"))
    val spread = loo.agg(sum(col("d") * col("d")).as("ss"))
    loo.crossJoin(broadcast(spread))
      .withColumn("jk_se_micro",
        round(sqrt(col("ss").cast("double") * (JkBuckets - 1) / JkBuckets))
          .cast("long"))
      .select(col("bucket"), col("n_docs"), col("sum_qe4"),
        col("loo_mean_micro"), col("theta_micro"), col("jk_se_micro"))
      .orderBy(col("bucket"))
  }

  /** q144: jackknife standard error of mean document quality (q16's
    * composite) — all 32 group rows plus the shared point estimate and
    * SE, every value an exact integer. */
  def q144Jackknife(spark: SparkSession, dir: String): DataFrame =
    jackknifeQuality(TrainingData.scoredDocs(spark, dir),
      "doc_id", "quality")

  val q144JackknifeSql: String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT doc_id,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |m AS (SELECT doc_id,
       |  round(round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) * 10000)::BIGINT AS qe4,
       |  ('0x' || substring(md5('$JkSeed:' || doc_id), 1, 8))::BIGINT % $JkBuckets AS bucket
       |FROM r),
       |g AS (SELECT bucket, count(*)::BIGINT AS n_docs, sum(qe4)::BIGINT AS sum_qe4
       |  FROM m GROUP BY bucket),
       |tt AS (SELECT sum(n_docs)::BIGINT AS n_total, sum(sum_qe4)::BIGINT AS s_total FROM g),
       |loo AS (SELECT g.*, tt.n_total, tt.s_total,
       |  ((s_total - sum_qe4) * 1000000) // (n_total - n_docs) AS loo_mean_micro,
       |  (s_total * 1000000) // n_total AS theta_micro
       |  FROM g, tt),
       |sp AS (SELECT sum((loo_mean_micro - theta_micro)
       |              * (loo_mean_micro - theta_micro))::BIGINT AS ss FROM loo)
       |SELECT bucket, n_docs, sum_qe4, loo_mean_micro, theta_micro,
       |  round(sqrt(ss::DOUBLE * ${JkBuckets - 1} / $JkBuckets))::BIGINT AS jk_se_micro
       |FROM loo, sp ORDER BY bucket""".stripMargin
  }

  // q161/q162 parameters: the report's quantile points, in e4 units.
  private[operators] val QuantPs: Seq[Long] = Seq(5000L, 9000L, 9900L)

  /** EXACT quantiles from BOUNDED integer value-counts — the tail
    * statistics the corpus report (q85) lacks: the mean hides a p99
    * length blowup or a p50 quality collapse, and the moments state
    * (q152/q153) only reaches mean/σ. For an e4 fixed-point metric the
    * value domain is ≤ 10001 integers, so the per-stratum DISTRIBUTION
    * itself is bounded state: one value-count groupBy (map-side
    * partial) and every quantile is EXACT — no t-digest/KLL
    * approximation needed, because the metric was integer-quantized
    * before the distribution was formed (the q77 fixed-point
    * discipline applied to order statistics).
    *
    * Definition, engine-identical by construction: q(p) = the k-th
    * smallest value with k = ⌈n·p/10⁴⌉ (integer ceiling) = min x whose
    * running count reaches k. Pure integer comparisons — no
    * interpolation, nothing for float dust to flip.
    *
    * Scale: the counts frame is ≤ |strata|·10001 rows regardless of
    * corpus size; the cumsum window sorts ≤ 10001 rows per stratum. */
  def histQuantiles(counts: DataFrame, psE4: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = counts.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("stratum")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("n")).over(w))
    val tot = counts.groupBy(col("stratum")).agg(sum(col("n")).as("n_rows"))
    cum.join(broadcast(tot), "stratum")
      .crossJoin(broadcast(psE4.toDF("p_e4")))
      .withColumn("k", expr("(n_rows * p_e4 + 9999) div 10000"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("stratum"), col("p_e4"))
      .agg(max(col("n_rows")).as("n_rows"), max(col("k")).as("k"),
        min(col("x")).as("q_x"))
      .select(col("stratum"), col("p_e4"), col("n_rows"), col("k"), col("q_x"))
  }

  /** The bounded value-count distribution: (stratum, x, n). */
  def histCounts(docs: DataFrame, strataCol: String, metricE4: Column): DataFrame =
    docs.select(col(strataCol).as("stratum"), metricE4.as("x"))
      .groupBy(col("stratum"), col("x")).agg(count(lit(1)).as("n"))

  /** q161: per-language p50/p90/p99 of the e4 quality score, exact. */
  def q161HistQuantiles(spark: SparkSession, dir: String): DataFrame =
    histQuantiles(
        histCounts(TrainingData.scoredDocs(spark, dir), "lang",
          round(col("quality") * 10000).cast("long")),
        QuantPs)
      .withColumnRenamed("stratum", "lang")
      .orderBy(col("lang"), col("p_e4"))

  val q161HistQuantilesSql: String = {
    val stops = graft.functions.TextFunctions.stopwords
      .map(s => s"'$s'").mkString(", ")
    val ps = QuantPs.mkString("(", "), (", ")")
    s"""WITH t AS (SELECT doc_id, lang, text, ${TextQueries.tokSqlExpr} AS toks FROM documents),
       |r AS (SELECT doc_id, lang,
       |  len(toks)::bigint AS n_tokens,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::double / len(text) END AS alpha_raw,
       |  CASE WHEN len(text) = 0 THEN 0.0 ELSE len(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::double / len(text) END AS punct_raw,
       |  CASE WHEN len(toks) = 0 THEN 0.0 ELSE len(list_filter(toks, x -> x IN ($stops)))::double / len(toks) END AS stop_raw
       |FROM t),
       |m AS (SELECT lang,
       |  round(round(0.25 * alpha_raw + 0.25 * stop_raw
       |      + 0.25 * least(1.0, n_tokens::double / 100.0)
       |      + 0.25 * (1.0 - punct_raw), 4) * 10000)::BIGINT AS x
       |FROM r),
       |c AS (SELECT lang, x, count(*)::BIGINT AS n FROM m GROUP BY lang, x),
       |cc AS (SELECT lang, x, n,
       |  sum(n) OVER (PARTITION BY lang ORDER BY x
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
       |  sum(n) OVER (PARTITION BY lang)::BIGINT AS n_rows FROM c),
       |p(p_e4) AS (VALUES $ps)
       |SELECT lang, p_e4::BIGINT AS p_e4, max(n_rows) AS n_rows,
       |  max((n_rows * p_e4 + 9999) // 10000) AS k,
       |  min(x) AS q_x
       |FROM cc, p WHERE cum >= (n_rows * p_e4 + 9999) // 10000
       |GROUP BY lang, p_e4 ORDER BY lang, p_e4""".stripMargin
  }

  /** INCREMENTAL DISTRIBUTION STATE — [[histCounts]] folded per batch
    * into a persistent additive (stratum, x, n) snapshot, committed
    * atomically with its batch ledger via
    * [[graft.sinks.LedgeredState]] (additive state double-counts on
    * replay without one — the q110 contract). The report derives from
    * the snapshot on demand ([[histQuantiles]]) — q131's
    * model-state/selection split, here for order statistics: nightly
    * p50/p90/p99 without re-scanning history, state bounded by
    * |strata|·10001 rows forever. */
  def histIngest(spark: SparkSession, path: String, batch: DataFrame,
                 strataCol: String, metricE4: Column,
                 batchId: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val bs = histCounts(batch, strataCol, metricE4)
    val merged = LedgeredState.readPart(spark, path, "counts") match {
      case Some(st) => st.unionByName(bs)
        .groupBy(col("stratum"), col("x")).agg(sum(col("n")).as("n"))
      case None => bs
    }
    LedgeredState.commit(spark, path, batchId, Seq("counts" -> merged))
    true
  }

  /** q162: the quantile report derived from the INGESTED distribution
    * snapshot under the day-split + whole-batch-replay schedule
    * (q131's harness — additive state, hence the ledger); must equal
    * the whole-corpus batch answer — oracle IS q161's, verbatim. */
  def q162HistIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_q162_")
    try {
      val path = s"$base/hist_state"
      val m = TrainingData.scoredDocs(spark, dir)
        .select(col("doc_id"), col("lang"),
          round(col("quality") * 10000).cast("long").as("qe4"))
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      require(histIngest(spark, path, m.filter(col("doc_id") <= cut),
        "lang", col("qe4"), "day1"))
      require(histIngest(spark, path, m.filter(col("doc_id") > cut),
        "lang", col("qe4"), "day2"))
      require(!histIngest(spark, path, m.filter(col("doc_id") > cut),
        "lang", col("qe4"), "day2"),
        "replayed batch must be a ledger no-op")
      histQuantiles(graft.sinks.LedgeredState.readPart(spark, path, "counts").get, QuantPs)
        .withColumnRenamed("stratum", "lang")
        .orderBy(col("lang"), col("p_e4"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q161's. */
  def q162HistIngestSql: String = q161HistQuantilesSql

  /** q163: the q162 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed day
    * file; disjoint day files, the additive-state input contract) —
    * q87's pattern for the distribution ledger. Oracle IS q161's. */
  def q163StreamHist(spark: SparkSession, dir: String): DataFrame = 
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.StreamingFold
    val base = java.nio.file.Files.createTempDirectory("graft_q163_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/hist_state"
      val m = TrainingData.scoredDocs(spark, dir)
        .select(col("doc_id"), col("lang"),
          round(col("quality") * 10000).cast("long").as("qe4"))
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      Seq(m.filter(col("doc_id") <= cut), m.filter(col("doc_id") > cut))
        .zipWithIndex.foreach { case (d, i) =>
          StreamingFold.land(d, srcDir, s"day_$i.parquet")
        }
      val scored = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("qe4", LongType)))
      StreamingFold.drain(StreamingFold.files(spark, scored, srcDir),
          s"$base/ckpt", "stream_hist") { (batch, batchId) =>
        StreamingFold.applied(histIngest(spark, statePath, batch,
          "lang", col("qe4"), s"batch_$batchId"))
      }
      histQuantiles(graft.sinks.LedgeredState.readPart(spark, statePath, "counts").get, QuantPs)
        .withColumnRenamed("stratum", "lang")
        .orderBy(col("lang"), col("p_e4"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  def q163StreamHistSql: String = q161HistQuantilesSql

  /** INCREMENTAL MOMENT STATE — one additive snapshot serving every
    * downstream statistic: per (stratum, jackknife-bucket) the integer
    * (n, Σx, Σx²) triple, folded per batch with the q110 batchId
    * ledger. The point is that FIRST and SECOND moments are the whole
    * interface both q144 (uncertainty) and q147 (allocation) consume —
    * so one \|strata\|·32-row state keeps the corpus report AND the
    * annotation budget current without ever re-scanning history:
    * jackknife sums the strata out (per-bucket marginals), Neyman sums
    * the buckets out (per-stratum marginals), and both marginalizations
    * are exact because integer addition is associative — the additive
    * twin of the monotone-mergeable states' free lunch. Per-batch cost
    * is the batch's own scan into a map-side-partial groupBy. */
  def momentsIngest(spark: SparkSession, path: String, batch: DataFrame,
                    idCol: String, strataCol: String, metricE4: Column,
                    batchId: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val bs = batch
      .select(col(strataCol).as("stratum"),
        TrainingData.hashBucket(col(idCol), JkSeed)
          .mod(JkBuckets.toLong).as("bucket"),
        metricE4.as("x"))
      .groupBy(col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
    val merged = LedgeredState.readPart(spark, path, "moments") match {
      case Some(st) => st.unionByName(bs)
        .groupBy(col("stratum"), col("bucket"))
        .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
          sum(col("s2")).as("s2"))
      case None => bs
    }
    // moments + ledger in ONE atomic commit — no window where the fold
    // is applied but unrecorded (a replay would double-count)
    LedgeredState.commit(spark, path, batchId, Seq("moments" -> merged))
    true
  }

  /** The q152/q153 shared harness: fold the scored corpus into a
    * moments snapshot under the day-split + whole-batch-replay
    * schedule (q131's — additive state, hence the ledger), then hand
    * the snapshot to `derive`. */
  private def withMomentsSnapshot(spark: SparkSession, dir: String)
                                 (derive: DataFrame => DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_mom_")
    try {
      val path = s"$base/moments"
      val m = TrainingData.scoredDocs(spark, dir)
        .select(col("doc_id"), col("lang"),
          round(col("quality") * 10000).cast("long").as("qe4"))
      val cut = m.agg(max(col("doc_id"))).head().getLong(0) / 2
      require(momentsIngest(spark, path, m.filter(col("doc_id") <= cut),
        "doc_id", "lang", col("qe4"), "day1"))
      require(momentsIngest(spark, path, m.filter(col("doc_id") > cut),
        "doc_id", "lang", col("qe4"), "day2"))
      require(!momentsIngest(spark, path, m.filter(col("doc_id") > cut),
        "doc_id", "lang", col("qe4"), "day2"),
        "replayed batch must be a ledger no-op")
      derive(graft.sinks.LedgeredState.readPart(spark, path, "moments").get)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** q152: the jackknife report derived from the moments SNAPSHOT —
    * strata marginalized out into per-bucket sums, then q144's exact
    * tail; oracle IS q144's, verbatim. */
  def q152JkIngest(spark: SparkSession, dir: String): DataFrame =
    withMomentsSnapshot(spark, dir) { st =>
      jackknifeFromGroups(st.groupBy(col("bucket"))
        .agg(sum(col("n")).as("n_docs"), sum(col("s1")).as("sum_qe4")))
    }

  /** q153: the Neyman annotation draw whose ALLOCATION comes from the
    * moments snapshot (buckets marginalized out into per-stratum
    * moments) while the draw itself re-scans the corpus — q131's
    * model-state/selection split; oracle IS q147's, verbatim. */
  def q153NeymanIngest(spark: SparkSession, dir: String): DataFrame =
    withMomentsSnapshot(spark, dir) { st =>
      val g = st.groupBy(col("stratum"))
        .agg(sum(col("n")).as("nh"), sum(col("s1")).as("s1"),
          sum(col("s2")).as("s2"))
      val m = TrainingData.scoredDocs(spark, dir)
        .select(col("doc_id").as("id"), col("lang").as("stratum"))
      TrainingData.neymanDraw(m,
          TrainingData.neymanAllocFromMoments(g, TrainingData.NeyBudget),
          TrainingData.NeySeed)
        .select(col("stratum").as("lang"), col("nh"), col("k_alloc"),
          col("rank"), col("id").as("doc_id"))
        .orderBy(col("lang"), col("rank"))
    }

  /** A DECLARATIVE DATA CONTRACT over one table: row predicates that
    * must hold, key-uniqueness assertions, and referential rules — the
    * dbt-test / Great-Expectations-style suite a corpus publisher runs
    * against every release before consumers see it. Declared once,
    * validated in one report (q186). */
  sealed trait ContractRule { def name: String }
  /** Row-level predicate that must HOLD on every row; a NULL predicate
    * value counts as a violation (three-valued logic never hides one). */
  final case class Check(name: String, holds: Column) extends ContractRule
  /** Every value of `key` must occur exactly once; all members of a
    * duplicated key count as violations (the consumer sees them all). */
  final case class Unique(name: String, key: Column) extends ContractRule
  /** Every non-null `fk` must exist in `parent.pk`. */
  final case class RefIntegrity(name: String, fk: Column,
                                parent: DataFrame, pk: Column) extends ContractRule

  /** Validate a contract: ONE report row per rule —
    * (rule, n_checked, n_violations, first_bad_key, pass) with
    * `first_bad_key` the minimum offending `keyCol` rendered as a
    * string (uniform schema across key types), null when the rule
    * passes (for Unique rules it is the minimum duplicated KEY value).
    *
    * Scale: each Check is one aggregate over the scan (Catalyst merges
    * the per-rule scans of a cached frame; at 100 TB run the suite off
    * one materialized pass). Unique is a key-grouped count (map-side
    * partials, key-width shuffle). RefIntegrity is one left join against
    * the distinct parent keys (AQE broadcasts a small parent) — the
    * q101 fkAudit shape with the report folded into the same row
    * schema. Nothing shuffles row payloads; every rule's report is one
    * row. */
  def contractValidate(df: DataFrame, keyCol: String,
                       rules: Seq[ContractRule]): DataFrame = {
    require(rules.nonEmpty, "contract needs at least one rule")
    require(rules.map(_.name).distinct.size == rules.size,
      "duplicate rule names would make the report ambiguous")
    val key = col(keyCol)
    val reports = rules.map {
      case Check(name, holds) =>
        val bad = !coalesce(holds, lit(false))
        df.agg(count(lit(1)).as("n_checked"),
            sum(bad.cast("long")).as("n_violations"),
            min(when(bad, key)).cast("string").as("first_bad_key"))
          .select(lit(name).as("rule"), col("n_checked"),
            coalesce(col("n_violations"), lit(0L)).as("n_violations"),
            col("first_bad_key"))
      case Unique(name, ukey) =>
        df.groupBy(ukey.as("k")).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_checked"),
            coalesce(sum(when(col("c") > 1L, col("c")).otherwise(0L)), lit(0L))
              .as("n_violations"),
            min(when(col("c") > 1L, col("k"))).cast("string").as("first_bad_key"))
          .select(lit(name).as("rule"), col("n_checked"),
            col("n_violations"), col("first_bad_key"))
      case RefIntegrity(name, fk, parent, pk) =>
        df.select(key.as("__key"), fk.as("__fk"))
          .join(parent.select(pk.as("__pk")).distinct(),
            col("__fk") === col("__pk"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum((col("__fk").isNotNull && col("__pk").isNull).cast("long"))
              .as("n_violations"),
            min(when(col("__fk").isNotNull && col("__pk").isNull, col("__key")))
              .cast("string").as("first_bad_key"))
          .select(lit(name).as("rule"), col("n_checked"),
            coalesce(col("n_violations"), lit(0L)).as("n_violations"),
            col("first_bad_key"))
    }
    reports.reduce(_.unionByName(_))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("rule"))
  }

  /** INCREMENTAL CONTRACTS — fold a batch's contract evidence into a
    * persistent report state so a GROWING table's release report stays
    * current without re-validating the corpus. Every rule kind is
    * mergeable:
    *
    *  - Check / RefIntegrity reduce per batch to ONE
    *    (rule, n_checked, n_violations, first_bad) row, merged by
    *    (sum, sum, min) — counts are additive and the global first
    *    offender is the min of per-batch minima. RefIntegrity folds
    *    additively ONLY against a STATIC parent (a dimension): a
    *    growing parent could legitimize yesterday's orphan, which an
    *    additive count cannot retract — re-derive from the snapshot in
    *    that regime.
    *  - Unique keeps per-key counts (rule, k, c) — additive — and the
    *    report derives from them on demand, so a key duplicated ACROSS
    *    batches is caught (a per-batch violation count would miss it).
    *
    * The incremental path requires a NUMERIC key (state stores the
    * offender as a BIGINT so min merges exactly; the batch path stays
    * string-generic). Both parts commit atomically with the q110
    * batchId ledger. Row duplicates across batches are the upstream's
    * to prevent for the additive Check counts — though the Unique
    * rule's per-key counts CATCH such a duplicate, which is its job. */
  def contractIngest(spark: SparkSession, path: String, batch: DataFrame,
                     batchId: String, keyCol: String,
                     rules: Seq[ContractRule]): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val key = col(keyCol).cast("long")
    def aggRow(name: String, bad: Column, checked: Column): DataFrame =
      batch.agg(count(checked).as("n_checked"),
          coalesce(sum(bad.cast("long")), lit(0L)).as("n_violations"),
          min(when(bad, key)).as("first_bad"))
        .select(lit(name).as("rule"), col("n_checked"),
          col("n_violations"), col("first_bad"))
    val bAgg = rules.collect {
      case Check(name, holds) =>
        aggRow(name, !coalesce(holds, lit(false)), lit(1))
      case RefIntegrity(name, fk, parent, pk) =>
        val joined = batch.select(key.as("__key"), fk.as("__fk"))
          .join(parent.select(pk.as("__pk")).distinct(),
            col("__fk") === col("__pk"), "left")
        val bad = col("__fk").isNotNull && col("__pk").isNull
        joined.agg(count(lit(1)).as("n_checked"),
            coalesce(sum(bad.cast("long")), lit(0L)).as("n_violations"),
            min(when(bad, col("__key"))).as("first_bad"))
          .select(lit(name).as("rule"), col("n_checked"),
            col("n_violations"), col("first_bad"))
    }.reduceOption(_.unionByName(_))
    val bKeys = rules.collect { case Unique(name, ukey) =>
      batch.groupBy(ukey.cast("long").as("k")).agg(count(lit(1)).as("c"))
        .select(lit(name).as("rule"), col("k"), col("c"))
    }.reduceOption(_.unionByName(_))
    val parts = Seq.newBuilder[(String, DataFrame)]
    bAgg.foreach { b =>
      val merged = LedgeredState.readPart(spark, path, "agg_rules") match {
        case Some(st) => st.unionByName(b).groupBy(col("rule"))
          .agg(sum(col("n_checked")).as("n_checked"),
            sum(col("n_violations")).as("n_violations"),
            min(col("first_bad")).as("first_bad"))
        case None => b
      }
      parts += ("agg_rules" -> merged)
    }
    bKeys.foreach { b =>
      val merged = LedgeredState.readPart(spark, path, "key_counts") match {
        case Some(st) => st.unionByName(b).groupBy(col("rule"), col("k"))
          .agg(sum(col("c")).as("c"))
        case None => b
      }
      parts += ("key_counts" -> merged)
    }
    LedgeredState.commit(spark, path, batchId, parts.result())
    true
  }

  /** The contract report derived from the persistent state —
    * state-sized math, the same (rule, n_checked, n_violations,
    * first_bad_key, pass) schema [[contractValidate]] emits. */
  def contractReportFromState(aggRules: Option[DataFrame],
                              keyCounts: Option[DataFrame]): DataFrame = {
    val a = aggRules.map(_.select(col("rule"), col("n_checked"),
      col("n_violations"), col("first_bad").cast("string").as("first_bad_key")))
    val u = keyCounts.map(_.groupBy(col("rule"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_checked"),
        coalesce(sum(when(col("c") > 1L, col("c")).otherwise(0L)), lit(0L))
          .as("n_violations"),
        min(when(col("c") > 1L, col("k"))).cast("string").as("first_bad_key")))
    val parts = a.toSeq ++ u.toSeq
    require(parts.nonEmpty,
      "contractReportFromState: both state parts are empty — no batch has " +
        "been ingested into this state path yet")
    parts.reduce(_.unionByName(_))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("rule"))
  }

  /** The q186 rule suite, shared by the batch gate and the
    * incremental/streamed ones. */
  private[graft] def docContractRules(spark: SparkSession, dir: String): Seq[ContractRule] = Seq(
    Check("text_not_null", col("text").isNotNull),
    Check("nchars_consistent", col("n_chars") === length(col("text"))),
    Check("lang_accepted", col("lang").isin("en", "de", "es", "fr")),
    Check("nchars_range", col("n_chars").between(1L, 100000L)),
    Unique("doc_id_unique", col("doc_id")),
    RefIntegrity("embedding_fk", col("doc_id"),
      Tables.embeddings(spark, dir), col("vec_id")))

  /** q189: the contract report INCREMENTAL — q186's six rules folded
    * over a day split with a whole-batch replay (q131's harness), the
    * report derived from the snapshot, oracle IS q186's verbatim. The
    * split is adversarial for Unique by construction of the state (a
    * cross-batch duplicate would surface in key_counts where per-batch
    * validation cannot see it); embeddings is the STATIC parent the
    * RefIntegrity fold's contract requires. */
  def q189ContractsIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q189_")
    try {
      val path = s"$base/contract_state"
      val docs = Tables.documents(spark, dir)
      val rules = docContractRules(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      require(contractIngest(spark, path, docs.filter(col("doc_id") <= cut),
        "day1", "doc_id", rules))
      require(contractIngest(spark, path, docs.filter(col("doc_id") > cut),
        "day2", "doc_id", rules))
      require(!contractIngest(spark, path, docs.filter(col("doc_id") > cut),
        "day2", "doc_id", rules), "replayed batch must be a ledger no-op")
      contractReportFromState(
        LedgeredState.readPart(spark, path, "agg_rules"),
        LedgeredState.readPart(spark, path, "key_counts"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q186's. */
  def q189ContractsIngestSql: String = q186ContractsSql

  /** q190: the q189 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed
    * day file; disjoint day files, the additive-state input contract) —
    * q163's harness for the release contract: the monitor a publisher
    * runs WHILE a release lands instead of after. Oracle IS q186's. */
  def q190StreamContracts(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import graft.sinks.LedgeredState
    import graft.streaming.StreamingFold
    val base = java.nio.file.Files.createTempDirectory("graft_q190_")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base.toString).getFileSystem(conf)
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/contract_state"
      val docs = Tables.documents(spark, dir)
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      Seq(docs.filter(col("doc_id") <= cut), docs.filter(col("doc_id") > cut))
        .zipWithIndex.foreach { case (d, i) =>
          StreamingFold.land(d, srcDir, s"day_$i.parquet")
        }
      val rules = docContractRules(spark, dir)
      StreamingFold.drain(StreamingFold.files(spark, StreamingFold.docSchema, srcDir),
          s"$base/ckpt", "stream_contracts") { (batch, batchId) =>
        StreamingFold.applied(contractIngest(spark, statePath, batch,
          s"batch_$batchId", "doc_id", rules))
      }
      contractReportFromState(
        LedgeredState.readPart(spark, statePath, "agg_rules"),
        LedgeredState.readPart(spark, statePath, "key_counts"))
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      fs.delete(new Path(base.toString), true)
    }
  }

  def q190StreamContractsSql: String = q186ContractsSql

  /** q186: the release contract of the documents table — six rules
    * spanning all three rule kinds, with the fixture deliberately
    * violating one (`lang_accepted` excludes 'zh', so the violation
    * counter and first-offender probe are exercised, not just the happy
    * path): text non-null, n_chars consistent with the text it
    * summarizes, lang in the accepted set, n_chars in range, doc_id
    * unique, and every doc_id carrying an embedding. */
  def q186Contracts(spark: SparkSession, dir: String): DataFrame =
    contractValidate(Tables.documents(spark, dir), "doc_id",
      docContractRules(spark, dir))

  /** The q186 rule suite's oracle CTEs over an arbitrary source exposing
    * (doc_id, text, lang, source, n_chars) — shared by the batch gate
    * and the q200 release audit, so both validate with ONE SQL
    * restatement of the rules. */
  private[graft] def contractCtesSqlOver(src: String): String =
    s"""c1 AS (SELECT 'text_not_null' AS rule, count(*)::BIGINT AS n_checked,
       |    sum((NOT coalesce(text IS NOT NULL, false))::int)::BIGINT AS n_violations,
       |    min(CASE WHEN NOT coalesce(text IS NOT NULL, false) THEN doc_id END)::VARCHAR AS first_bad_key
       |  FROM $src),
       |c2 AS (SELECT 'nchars_consistent', count(*)::BIGINT,
       |    sum((NOT coalesce(n_chars = length(text), false))::int)::BIGINT,
       |    min(CASE WHEN NOT coalesce(n_chars = length(text), false) THEN doc_id END)::VARCHAR
       |  FROM $src),
       |c3 AS (SELECT 'lang_accepted', count(*)::BIGINT,
       |    sum((NOT coalesce(lang IN ('en','de','es','fr'), false))::int)::BIGINT,
       |    min(CASE WHEN NOT coalesce(lang IN ('en','de','es','fr'), false) THEN doc_id END)::VARCHAR
       |  FROM $src),
       |c4 AS (SELECT 'nchars_range', count(*)::BIGINT,
       |    sum((NOT coalesce(n_chars BETWEEN 1 AND 100000, false))::int)::BIGINT,
       |    min(CASE WHEN NOT coalesce(n_chars BETWEEN 1 AND 100000, false) THEN doc_id END)::VARCHAR
       |  FROM $src),
       |u AS (SELECT 'doc_id_unique', coalesce(sum(c), 0)::BIGINT,
       |    coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT,
       |    min(CASE WHEN c > 1 THEN k END)::VARCHAR
       |  FROM (SELECT doc_id AS k, count(*)::BIGINT AS c FROM $src GROUP BY 1)),
       |r AS (SELECT 'embedding_fk', count(*)::BIGINT,
       |    sum((d.doc_id IS NOT NULL AND e.vec_id IS NULL)::int)::BIGINT,
       |    min(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL THEN d.doc_id END)::VARCHAR
       |  FROM $src d LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e
       |    ON d.doc_id = e.vec_id)""".stripMargin

  /** The union of the six rule CTEs, column names from c1. */
  private[graft] val contractUnionSql: String =
    """SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3
      |      UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM u UNION ALL SELECT * FROM r""".stripMargin

  val q186ContractsSql: String =
    s"""WITH ${contractCtesSqlOver("documents")}
       |SELECT rule, n_checked, n_violations, first_bad_key,
       |  (n_violations = 0) AS pass
       |FROM ($contractUnionSql)
       |ORDER BY rule""".stripMargin
}
