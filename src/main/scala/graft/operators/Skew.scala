package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew mitigation primitives (SCALE.md "Skew"). AQE's runtime skew-join
  * splitting covers sort-merge joins; the explicit salted form below is
  * for the cases AQE can't rewrite — e.g. a shuffled hash join against a
  * dimension too big to broadcast but small enough to replicate, or a
  * deterministic plan needed ahead of time for a known-hot key.
  *
  * Shape: the BIG side gets a random salt in [0, salts); the SMALL side
  * is replicated once per salt value (explode over a literal range).
  * The join key becomes (key, salt), so one hot key's rows spread over
  * `salts` shuffle partitions instead of one. Cost: small side × salts.
  * Row-level semantics are identical to the unsalted equi-join — every
  * big row still meets every matching small row exactly once (exactly
  * one replica carries its salt).
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, salted `salts` ways. Inner or
    * left_outer (semantics preserved for both; the salt never changes
    * match cardinality). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, s"salts=$salts must be positive")
    require(joinType == "inner" || joinType == "left_outer",
      s"salting preserves semantics for inner/left_outer, not $joinType")
    val saltedBig = big.withColumn("__salt",
      (rand(42) * salts).cast("int"))
    val saltedSmall = small
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    val smallCols = small.columns.filterNot(_ == key)
    saltedBig.alias("b")
      .join(saltedSmall.alias("s"),
        col(s"b.$key") === col(s"s.$key") && col("b.__salt") === col("s.__salt"),
        joinType)
      .select(big.columns.map(c => col(s"b.$c")) ++
        smallCols.map(c => col(s"s.$c")): _*)
  }

  /** Salted two-phase aggregation for algebraic aggregates over a
    * hot-keyed groupBy when the per-key combine itself is the bottleneck:
    * phase 1 aggregates (key, salt) partials, phase 2 folds the partials
    * per key. For Spark's built-in algebraic aggs map-side combine
    * already does this implicitly; the explicit form exists for
    * aggregates whose partial state is expensive to merge row-at-a-time
    * (e.g. large collect-style buffers), and as the documented pattern. */
  def saltedSum(df: DataFrame, key: String, valueCol: String, salts: Int,
                out: String = "total"): DataFrame = {
    require(salts > 0)
    df.withColumn("__salt", (rand(42) * salts).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(out))
  }

  // ---- gated query --------------------------------------------------------

  /** q47: the skew primitives under the driver's gate — revenue per
    * market segment through `orders ⋈ customer` executed as
    * [[saltedJoin]] (8 salts), with the revenue total folded through
    * [[saltedSum]]'s explicit two-phase (key, salt) partials. Because
    * both rewrites are semantics-preserving, the oracle is the PLAIN
    * join + group-by: the gate proves the salted forms change the
    * shuffle layout and nothing else. The random salt values never leak
    * into the result — only match cardinality matters, and each big row
    * still meets exactly one replica of its key. */
  def q47SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .withColumnRenamed("o_custkey", "custkey")
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    // both aggregates read the joined frame: persist the join once
    val joined = saltedJoin(orders, cust, "custkey", salts = 8)
      .select(col("c_mktsegment"), col("o_totalprice")).persist()
    try {
      val counts = joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
      val revenue = saltedSum(joined, "c_mktsegment", "o_totalprice",
        salts = 8, out = "revenue_raw")
      counts.join(revenue, "c_mktsegment")
        .select(col("c_mktsegment"), col("n_orders"),
          round(col("revenue_raw"), 4).as("revenue"))
        .orderBy(col("c_mktsegment"))
        .localCheckpoint(true) // materialize before unpersist
    } finally { joined.unpersist(); () }
  }

  val q47SkewJoinSql: String =
    """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
      |  round(sum(o_totalprice), 4) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** RUNTIME BLOOM-FILTER JOIN PRUNING — the third join-scale lever
    * next to broadcasting (q2) and salting (q47): when the selective
    * side of a join is too big to broadcast, Spark's
    * `InjectRuntimeFilter` rule can still build a Bloom filter of its
    * join keys at runtime and push `might_contain(key)` into the BIG
    * side's scan, so non-matching rows die before the shuffle instead
    * of after it — at 100 TB the difference between shuffling the
    * whole fact table and shuffling the ~matching fraction.
    *
    * The gate materializes the join INSIDE a conf window that makes the
    * injection fire at fixture scale (broadcast off — a broadcast join
    * needs no bloom; application-side threshold 0) and RESTORES every
    * conf after, with the result localCheckpointed under the window
    * (planning is lazy — materializing later would plan under the
    * restored confs and silently test nothing; PlanAuditSpec pins the
    * `bloom_filter_might_contain` predicate in the executed plan).
    * The oracle is the PLAIN join + aggregate, so the gate certifies
    * the runtime filter semantics-free — the q47 pattern: rewrites
    * must be invisible in values, visible only in the plan. */
  def bloomPrunedJoin(spark: SparkSession, big: DataFrame, small: DataFrame,
                      bigKey: String, smallKey: String,
                      inspect: DataFrame => Unit = _ => ())
                     (agg: DataFrame => DataFrame): DataFrame = {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "-1")
      val joined = agg(big.join(small, col(bigKey) === col(smallKey)))
      inspect(joined) // plan-audit hook: sees the pre-checkpoint plan
      joined.localCheckpoint(true) // execute UNDER the conf window
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** q145: lineitem ⋈ the high-value-order subset (selective,
    * non-broadcast), revenue per return flag — row-level equal to the
    * plain-join oracle with the bloom filter in the plan. */
  def q145RuntimeFilter(spark: SparkSession, dir: String): DataFrame =
    bloomPrunedJoin(spark,
      Tables.lineitem(spark, dir).select(col("l_orderkey"),
        col("l_returnflag"), col("l_extendedprice"), col("l_discount")),
      Tables.orders(spark, dir).filter(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey")),
      "l_orderkey", "o_orderkey") { j =>
      j.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("l_returnflag"))
    }

  val q145RuntimeFilterSql: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n_items,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 150000.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q195 parameters: hot keys reported and the target rows-per-task the
  // salt recommendation divides against.
  private val SkewTopN = 10
  private val SkewTarget = 50L

  /** SKEW DIAGNOSTICS — the report an operator reads BEFORE choosing a
    * mitigation: per-key counts reduced to the top-N hot keys plus one
    * summary row carrying the exact skew ratio (max·n_keys·1000 div
    * n_rows, an integer — 1000 ≡ perfectly uniform) and the
    * RECOMMENDED SALT for the hottest key (⌈max / targetRows⌉ — the
    * `salts` argument [[saltedJoin]]/[[saltedSum]] then take). Turns
    * "the stage is slow" into "key 17 carries 8.6% of the table, salt
    * it 2 ways" — the planning step q47 assumes already happened.
    *
    * Exactness: counts, ratio, and salt are pure integer algebra (`div`
    * floor division ≡ DuckDB `//` on non-negatives); the ratio's
    * intermediate widens to DECIMAL(38,0) (HUGEINT on the oracle side)
    * so max_cnt·n_keys·1000 stays exact up to ~3e17 input rows — far
    * past the 100 TB row counts these monitors target. Keys that are
    * null OR fail the long cast are excluded (filtered AFTER the cast,
    * so a non-numeric string key is dropped rather than collapsing the
    * whole column into one k=null group).
    *
    * Scale: one key-grouped count with map-side partials (the shuffle
    * carries distinct keys), a TakeOrdered top-N (never a global
    * sort/window over the key universe), and a 3-number aggregate. The
    * rank window runs AFTER the limit, over topN rows. */
  def skewReport(df: DataFrame, keyCol: String, topN: Int,
                 targetRows: Long): DataFrame =
    skewReportFromCounts(
      df.select(col(keyCol).cast("long").as("k"))
        .filter(col("k").isNotNull) // post-cast: drops unparseable keys too
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt")),
      topN, targetRows)

  /** The report tail over a prepared (k, cnt) frame — shared by the
    * batch scan and the state-derived paths ([[skewIngest]]) so every
    * gate ranks and recommends with ONE rule. */
  def skewReportFromCounts(rawCounts: DataFrame, topN: Int,
                           targetRows: Long): DataFrame = {
    require(topN >= 1 && targetRows >= 1, s"topN=$topN targetRows=$targetRows")
    val counts = rawCounts
      .localCheckpoint(true) // consumed by both the top-N and the summary
    val nulls = Seq("n_rows", "n_keys", "skew_x1000", "salt")
    val top = counts.orderBy(col("cnt").desc, col("k").asc).limit(topN)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("cnt").desc, col("k").asc)).cast("long"))
      .select(Seq(lit("key").as("sect"), col("rank"), col("k").as("key"),
        col("cnt")) ++ nulls.map(c => lit(null).cast("long").as(c)): _*)
    val summary = counts
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
      .select(lit("summary").as("sect"), lit(null).cast("long").as("rank"),
        lit(null).cast("long").as("key"), col("max_cnt").as("cnt"),
        col("n_rows"), col("n_keys"),
        expr("(cast(max_cnt as decimal(38,0)) * n_keys * 1000) div n_rows")
          .as("skew_x1000"),
        expr(s"(max_cnt + ${targetRows - 1}) div $targetRows").as("salt"))
    top.unionByName(summary).orderBy(col("sect"), col("rank"))
  }

  /** q195: skew diagnostics over the clickstream's user key — the table
    * whose per-user fan-out actually is skewed on the fixture, so the
    * hot-key ranks, the >1000 skew ratio, and a >1 salt recommendation
    * are all exercised non-vacuously. */
  def q195SkewReport(spark: SparkSession, dir: String): DataFrame =
    skewReport(Tables.events(spark, dir), "user_id", SkewTopN, SkewTarget)

  /** INCREMENTAL SKEW STATE — per-key counts folded per batch with the
    * batchId ledger: the monitor a nightly pipeline keeps warm so the
    * salt decision for tomorrow's join reads a snapshot instead of
    * re-counting the corpus. The grain argument is q189's Unique case
    * one more time: a hot key's rows arrive across MANY batches, so
    * only key-level additive counts see the true maximum. State size =
    * distinct keys, with map-side partials per batch. */
  def skewIngest(spark: SparkSession, path: String, batch: DataFrame,
                 keyCol: String, batchId: String): Boolean = {
    import graft.sinks.LedgeredState
    if (LedgeredState.absorbed(spark, path, batchId)) return false
    val b = batch.select(col(keyCol).cast("long").as("k"))
      .filter(col("k").isNotNull) // post-cast, mirroring skewReport
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"))
    val merged = LedgeredState.readPart(spark, path, "key_counts") match {
      case Some(st) => st.unionByName(b).groupBy(col("k"))
        .agg(sum(col("cnt")).as("cnt"))
      case None => b
    }
    LedgeredState.commit(spark, path, batchId, Seq("key_counts" -> merged))
    true
  }

  /** q201: the skew monitor INCREMENTAL — the clickstream folded in two
    * event-id-parity batches (every hot user straddles both, so a
    * per-batch maximum provably understates the skew), report derived
    * from the snapshot, whole-batch replay a ledger no-op. Oracle IS
    * q195's verbatim. */
  def q201SkewIngest(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.LedgeredState
    val base = java.nio.file.Files.createTempDirectory("graft_q201_")
    try {
      val path = s"$base/skew_state"
      val ev = Tables.events(spark, dir)
      require(skewIngest(spark, path, ev.filter(col("event_id") % 2 === 0L),
        "user_id", "even"))
      require(skewIngest(spark, path, ev.filter(col("event_id") % 2 =!= 0L),
        "user_id", "odd"))
      require(!skewIngest(spark, path, ev.filter(col("event_id") % 2 =!= 0L),
        "user_id", "odd"), "replayed batch must be a ledger no-op")
      skewReportFromCounts(
          LedgeredState.readPart(spark, path, "key_counts").get,
          SkewTopN, SkewTarget)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new org.apache.hadoop.fs.Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The whole point of the incremental path: its oracle IS q195's. */
  def q201SkewIngestSql: String = q195SkewReportSql

  /** q202: the q201 fold behind a REAL file stream
    * ([[graft.streaming.StreamingFold]] — one micro-batch per landed
    * parity file, ledgered by batchId). Oracle IS q195's — the skew
    * monitor's batch/incremental/streamed triple closes. */
  def q202StreamSkew(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamConf.withShuffle(spark) {
    import org.apache.hadoop.fs.Path
    import graft.sinks.LedgeredState
    import graft.streaming.{EventStreams, StreamingFold}
    val base = java.nio.file.Files.createTempDirectory("graft_q202_")
    try {
      val srcDir = s"$base/arrivals"
      val statePath = s"$base/skew_state"
      val ev = Tables.events(spark, dir)
      StreamingFold.land(ev.filter(col("event_id") % 2 === 0L), srcDir, "half_0.parquet")
      StreamingFold.land(ev.filter(col("event_id") % 2 =!= 0L), srcDir, "half_1.parquet")
      StreamingFold.drain(StreamingFold.files(spark, EventStreams.eventSchema, srcDir),
          s"$base/ckpt", "stream_skew") { (batch, batchId) =>
        StreamingFold.applied(
          skewIngest(spark, statePath, batch, "user_id", s"batch_$batchId"))
      }
      skewReportFromCounts(
          LedgeredState.readPart(spark, statePath, "key_counts").get,
          SkewTopN, SkewTarget)
        .localCheckpoint(true) // materialize before the state dir dies
    } finally {
      val p = new Path(base.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  def q202StreamSkewSql: String = q195SkewReportSql

  val q195SkewReportSql: String =
    s"""WITH c AS (SELECT user_id AS k, count(*)::BIGINT AS cnt FROM events
       |  WHERE user_id IS NOT NULL GROUP BY 1),
       |t AS (SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k) AS rank
       |  FROM c ORDER BY cnt DESC, k LIMIT $SkewTopN),
       |s AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
       |  max(cnt)::BIGINT AS max_cnt FROM c)
       |SELECT * FROM (
       |  SELECT 'key' AS sect, rank::BIGINT AS rank, k AS key, cnt,
       |    NULL::BIGINT AS n_rows, NULL::BIGINT AS n_keys,
       |    NULL::BIGINT AS skew_x1000, NULL::BIGINT AS salt
       |  FROM t
       |  UNION ALL
       |  SELECT 'summary', NULL::BIGINT, NULL::BIGINT, max_cnt, n_rows, n_keys,
       |    ((max_cnt::HUGEINT * n_keys * 1000) // n_rows)::BIGINT,
       |    ((max_cnt + ${SkewTarget - 1}) // $SkewTarget)::BIGINT
       |  FROM s)
       |ORDER BY sect, rank""".stripMargin
}
